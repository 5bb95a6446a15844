"""Degenerate-input smoke gate over the ENTIRE query surface.

The round-9 two-sample property test proved the failure mode is real:
zero-variance input turned a finisher's shared double expression into
an ANSI DIVIDE_BY_ZERO *crash*, not a wrong number — and a degenerate
early micro-batch can feed any stream maintainer exactly that.  The
systematic sweep this gate pins found THIRTY-THREE latent crashes
across the surface (zero-variance statistics, zero-norm cosine, int8
scale, quality score on empty documents, empty-payload frame bounds,
malformed-JSON casts, zero-span TWAP, zero-positive lift...), each
fixed at its shared template with both engines' text updated together.

The fixture is a fully CONSTANT star schema in the EXACT testdata
layout: every order the same price/priority/day, every lineitem
identical, every event the same type at one instant, documents
including EMPTY and whitespace-only texts, embeddings dominated by
ALL-ZERO vectors.  Every registered query must RUN — degenerate
ratios close as NULL, never as an engine exception.
"""

from datetime import datetime

import pytest


def _all_keys():
    import __spark_entry__ as entrymod

    return list(entrymod.queries())


@pytest.fixture(scope="module")
def degenerate_star(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("degenerate_star")

    def w(name, rows, schema):
        spark.createDataFrame(rows, schema).write.mode(
            "overwrite"
        ).parquet(str(tmp / f"{name}.parquet"))

    w(
        "orders",
        [
            (i, i % 5, "O", 100.0, datetime(1997, 6, 1), "3-MEDIUM")
            for i in range(20)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    w(
        "customer",
        [
            (i, "Customer#1", 0, 0.0,
             "BUILDING" if i % 2 == 0 else "MACHINERY")
            for i in range(5)
        ],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    w(
        "lineitem",
        [
            (i, 1, 1, 1, 10.0, 100.0, 0.0, 0.0, "N", "O",
             datetime(1997, 6, 2))
            for i in range(20)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    w(
        "part",
        [(1, "same part", "Brand#1", "PROMO BRASS", 1, 10.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    w(
        "supplier",
        [(1, "Supplier#1", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    w("nation", [(0, "GERMANY", 0)], "n_nationkey int, n_name string, n_regionkey int")
    w("region", [(0, "EUROPE")], "r_regionkey int, r_name string")
    # constant events: one view per user, ONE instant — no conversions,
    # zero spans, props without the expected keys
    w(
        "events",
        [
            (i, datetime(2000, 1, 5), i % 7, "view", 1.0, "{}")
            for i in range(20)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    docs = [(i, "same same same", "en", "src0", 14) for i in range(30)]
    docs.append((30, "", "en", "src0", 0))          # EMPTY text
    docs.append((31, "   ", "en", "src0", 3))       # whitespace-only
    w(
        "documents", docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    emb = [(i, [0.0] * 64, 0) for i in range(40)]   # zero-norm vectors
    emb += [(40, [1.0] * 64, 1), (41, [1.0] * 64, 1)]
    w("embeddings", emb, "vec_id long, embedding array<float>, label int")
    return str(tmp)


@pytest.mark.parametrize("key", _all_keys())
def test_degenerate_star_does_not_crash(spark, degenerate_star, key):
    import __spark_entry__ as entrymod

    # must not raise (ANSI divide-by-zero, cast errors, inverted
    # sequence bounds, ...); NULL metrics and empty results are fine
    entrymod.queries()[key](spark, degenerate_star).collect()


@pytest.mark.parametrize(
    "key",
    [
        "q_degree_dist", "q_kcore", "q_lpa_communities", "q_pagerank",
        "q_jaccard_links", "q_clustering_coef", "q_graph_reach",
        "q_assortativity", "q_graph_triangles",
    ],
)
def test_empty_edge_graph_matches_oracle(spark, degenerate_star, key):
    """Every star order holds ONE line, so the co-purchase edge table
    is EMPTY: a graph key must then return exactly what its DuckDB twin
    returns (for q_kcore: one row per round with a NULL threshold; for
    q_graph_triangles: NULL wedges and clustering coefficient)."""
    import duckdb

    import __spark_entry__ as entrymod

    with duckdb.connect() as con:
        for t in ("orders", "lineitem", "part", "customer"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" '{degenerate_star}/{t}.parquet/*.parquet'"
            )
        want = con.execute(entrymod.oracle_sql()[key]).fetchall()
    got = entrymod.queries()[key](spark, degenerate_star).collect()
    assert sorted(map(tuple, got)) == sorted(want)
