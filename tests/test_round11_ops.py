"""Round-11 additions: the shared capped-adjacency table for the
wedge-stream pair (q_jaccard_links / q_clustering_coef) — injection
must be result-identical to the standalone builds, and the wedge
self-join over the bucketed table must plan with zero exchanges
(VERDICT r10 task 6)."""

from pyspark.sql import functions as F


def _adj_fixture(spark, sf_dir):
    from locopy_spark.queries.mining import LP_DEGCAP, copurchase_edges
    from locopy_spark.sources.bucketed import write_bucketed

    e = copurchase_edges(spark, sf_dir).localCheckpoint()
    und = e.selectExpr("a AS v", "b AS n").unionAll(
        e.selectExpr("b AS v", "a AS n")
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d")).localCheckpoint()
    adj = und.join(deg.filter(f"d <= {LP_DEGCAP}").select("v"), "v")
    write_bucketed(adj, "t_r11_adj_cap", "v", n_buckets=4, sort_cols=["v"])
    return e, deg, spark.table("t_r11_adj_cap")


def test_capped_adjacency_injection_identity(spark, sf_dir):
    """Injecting the shared capped adjacency (with edges + degrees,
    the bench's round-11 shape) is result-identical to the standalone
    rebuild for BOTH wedge consumers.  For q_clustering_coef this also
    pins the degree-1-middle argument: the shared table keeps d=1
    rows the standalone center join drops, and they must contribute
    zero wedges."""
    from locopy_spark.queries.mining import q_clustering_coef, q_jaccard_links

    e, deg, adj = _adj_fixture(spark, sf_dir)
    for fn in (q_jaccard_links, q_clustering_coef):
        a = [tuple(r) for r in fn(spark, sf_dir).collect()]
        b = [
            tuple(r)
            for r in fn(
                spark, sf_dir, edges=e, degrees=deg, adjacency=adj
            ).collect()
        ]
        assert a == b, fn.__name__


def test_shared_adjacency_wedge_join_zero_exchange(spark, sf_dir):
    """The point of bucketing the adjacency by ``v``: both sides of
    the wedge self-join read the same bucketed+sorted table, so the
    join plans with ZERO exchanges and ZERO sorts — the per-query
    |2E|-row endpoint shuffle both consumers used to pay is gone.
    The unbucketed contrast is asserted too, so this fails loudly if
    Spark's bucket-scan planning ever changes.

    Auto-broadcast is disabled for the duration: at test SF the tiny
    table would plan a broadcast self-join (also exchange-free in the
    shuffle sense, but it hides the bucket scan this test pins — at
    warehouse scale the adjacency exceeds any broadcast threshold and
    the bucketed SortMergeJoin below is the real plan)."""
    from locopy_spark.plans import audit

    _, _, adj = _adj_fixture(spark, sf_dir)

    def wedge_plan(mid):
        w = (
            mid.alias("x")
            .join(mid.alias("y"), "v")
            .filter(F.col("x.n") < F.col("y.n"))
        )
        return audit.simple_plan(w)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = wedge_plan(adj)
        assert bucketed.count("Exchange") == 0
        assert audit.formatted_plan(
            adj.alias("x").join(adj.alias("y"), "v")
        ).count("Bucketed: true") == 2
        # contrast: the same join over a non-bucketed copy shuffles
        plain = wedge_plan(adj.localCheckpoint())
        assert plain.count("Exchange") >= 1
        # the r11 wedge consumers group the adjacency into sorted
        # neighbor ARRAYS instead of self-joining it; that aggregate
        # must be exchange-free off the bucketed table too
        arrays = adj.groupBy("v").agg(
            F.sort_array(F.collect_list("n")).alias("ns")
        )
        assert audit.simple_plan(arrays).count("Exchange") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ---------------------------------------------------------------------------
# Round-11 k-sample additions: Welch's ANOVA + Mood's median test —
# textbook re-derivations in plain Python on hand-built data, plus the
# degenerate states the gated data never hits (the round-10 pattern).
# ---------------------------------------------------------------------------

import random
from datetime import datetime

import pytest

SEED = 20260817


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(path / f"{name}.parquet")
    )


_ORDERS_SCHEMA = (
    "o_orderkey long, o_orderpriority string, o_totalprice double,"
    " o_orderdate timestamp"
)


def test_welch_anova_matches_textbook(spark, tmp_path):
    """Welch's F and Welch–Satterthwaite df2 from the raw definition
    (per-group means/variances, weights w=n/s²) must match the
    engine's layered fixed-order closure."""
    from locopy_spark.queries.stats import q_welch_anova

    r = random.Random(SEED)
    groups = {
        "1-URGENT": [r.randrange(1, 200) for _ in range(80)],
        "2-HIGH": [r.randrange(100, 1000) for _ in range(50)],
        "3-MEDIUM": [r.randrange(1, 3000) for _ in range(120)],
    }
    rows = [
        (i, pri, float(v), datetime(1995, 3, 1))
        for i, (pri, v) in enumerate(
            (p, v) for p, xs in groups.items() for v in xs
        )
    ]
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    got = q_welch_anova(spark, str(tmp_path)).collect()[0]

    stats = []
    for xs in groups.values():
        n = len(xs)
        m = sum(xs) / n
        s2 = sum((x - m) ** 2 for x in xs) / (n - 1)
        stats.append((n, m, s2))
    k = len(stats)
    w = [n / s2 for n, m, s2 in stats]
    sw = sum(w)
    mbar = sum(wi * m for wi, (n, m, s2) in zip(w, stats)) / sw
    a = sum(wi * (m - mbar) ** 2 for wi, (n, m, s2) in zip(w, stats)) / (
        k - 1
    )
    c = sum(
        (1 - wi / sw) ** 2 / (n - 1) for wi, (n, m, s2) in zip(w, stats)
    )
    f = a / (1 + 2 * (k - 2) * c / (k * k - 1))
    df2 = (k * k - 1) / (3 * c)
    assert got.n == sum(n for n, _, _ in stats)
    assert got.k == k
    assert got.df1 == k - 1
    assert got.welch_f == pytest.approx(f, rel=1e-9)
    assert got.df2 == pytest.approx(df2, rel=1e-9)


def test_welch_anova_degenerate_groups(spark, tmp_path):
    """A zero-variance group and an n=1 group are structurally gated
    out of k and every sum; with only one eligible group the F and
    both dfs are NULL."""
    from locopy_spark.queries.stats import q_welch_anova

    rows = (
        [(i, "1-URGENT", 500.0, datetime(1995, 3, 1)) for i in range(20)]
        + [(100, "2-HIGH", 777.0, datetime(1995, 3, 1))]
        + [
            (200 + i, "3-MEDIUM", float(100 + 7 * i), datetime(1995, 3, 1))
            for i in range(15)
        ]
    )
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    got = q_welch_anova(spark, str(tmp_path)).collect()[0]
    assert got.n == 36
    assert got.k == 1  # only 3-MEDIUM is eligible
    assert got.df1 is None and got.welch_f is None and got.df2 is None


def test_moods_median_matches_textbook(spark, tmp_path):
    """Grand median, the k×2 above/at-or-below table, and chi² from
    the raw definition must match the engine's grid + prefix-sum +
    fixed-order closure (SciPy median_test ties='below')."""
    from locopy_spark.queries.stats import q_moods_median

    r = random.Random(SEED + 1)
    groups = {
        "1-URGENT": [r.randrange(1, 100) for _ in range(70)],
        "2-HIGH": [r.randrange(50, 150) for _ in range(90)],
        "4-NOT SPECIFIED": [r.randrange(1, 200) for _ in range(41)],
    }
    rows = [
        (i, pri, float(v), datetime(1995, 3, 1))
        for i, (pri, v) in enumerate(
            (p, v) for p, xs in groups.items() for v in xs
        )
    ]
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    got = q_moods_median(spark, str(tmp_path)).collect()[0]

    allv = sorted(v for xs in groups.values() for v in xs)
    n = len(allv)
    med = allv[(n + 1) // 2 - 1]  # type-1 lower median, cum >= ceil(n/2)
    assert got.med_v == med
    a = {p: sum(1 for v in xs if v > med) for p, xs in groups.items()}
    b = {p: sum(1 for v in xs if v <= med) for p, xs in groups.items()}
    aa, bb = sum(a.values()), sum(b.values())
    chi2 = 0.0
    for p in groups:
        npi = a[p] + b[p]
        ea, eb = npi * aa / n, npi * bb / n
        chi2 += (a[p] - ea) ** 2 / ea + (b[p] - eb) ** 2 / eb
    assert got.n == n
    assert got.n_above == aa
    assert got.k == len(groups)
    assert got.df == len(groups) - 1
    assert got.chi2 == pytest.approx(chi2, rel=1e-9)


def test_moods_median_degenerate_constant_values(spark, tmp_path):
    """All values equal: the grand median equals that value, every
    count lands at-or-below (n_above = 0), and chi² is NULL instead
    of a divide-by-zero."""
    from locopy_spark.queries.stats import q_moods_median

    rows = [
        (i, pri, 42.0, datetime(1995, 3, 1))
        for i, pri in enumerate(["1-URGENT"] * 10 + ["2-HIGH"] * 10)
    ]
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    got = q_moods_median(spark, str(tmp_path)).collect()[0]
    assert got.med_v == 42
    assert got.n_above == 0
    assert got.k == 2
    assert got.chi2 is None


def test_lexical_index_served_results_identical(spark, sf_dir):
    """The materialized lexical index (round-11's third instance of
    the materialize-and-serve device, after graph and ANN): serving
    s_rrf_fusion / s_prf_expand from the bucketed postings/dfs/ntot
    tables must be result-identical to the standalone builds, and the
    served lexical arm must plan with ZERO scans of the documents
    table (the corpus tokenize is paid at build time; the only
    documents read left in rrf is none — its vector arm reads
    embeddings)."""
    from locopy_spark.plans import audit
    from locopy_spark.queries import docs_ext
    from locopy_spark.sources.tables import load_table

    docs_ext.materialize_lexical_index(
        load_table(spark, sf_dir, "documents"), prefix="t_r11_lex"
    )
    names = docs_ext.lexical_table_names("t_r11_lex")
    tables = {t: spark.table(n) for t, n in names.items()}

    def rows(df):
        return [tuple(r) for r in df.collect()]

    for fn in (docs_ext.s_rrf_fusion, docs_ext.s_prf_expand):
        a = rows(fn(spark, sf_dir))
        b = rows(fn(spark, sf_dir, lex_tables=tables))
        assert a == b, fn.__name__
    served = docs_ext.s_prf_expand(spark, sf_dir, lex_tables=tables)
    assert "documents.parquet" not in audit.formatted_plan(served)
    assert audit.formatted_plan(served).count("Bucketed:") >= 1


def test_lexical_index_refresh_serves_old_until_swap(spark, sf_dir):
    """The lexical refresh arm rides the shared staging-swap device:
    mid-refresh serving reads the old index; post-swap it equals a
    fresh build over the new corpus."""
    from locopy_spark.queries import docs_ext
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    half = docs.filter("doc_id % 2 = 0")
    prefix = "t_r11_lex_refresh"
    docs_ext.materialize_lexical_index(half, prefix=prefix)
    names = docs_ext.lexical_table_names(prefix)

    def tables():
        return {t: spark.table(n) for t, n in names.items()}

    def rows(df):
        return [tuple(r) for r in df.collect()]

    v1 = rows(docs_ext.s_prf_expand(spark, sf_dir, lex_tables=tables()))
    # build staging over the full corpus: serving unchanged until swap
    staging = f"{prefix}__staging"
    docs_ext.materialize_lexical_index(docs, prefix=staging)
    assert rows(docs_ext.s_prf_expand(spark, sf_dir, lex_tables=tables())) == v1
    from locopy_spark.sources.bucketed import swap_staging_tables

    swap_staging_tables(
        spark,
        docs_ext.lexical_table_names(staging),
        names,
        docs_ext.lexical_table_names(f"{prefix}__old"),
    )
    v2 = rows(docs_ext.s_prf_expand(spark, sf_dir, lex_tables=tables()))
    assert v2 == rows(docs_ext.s_prf_expand(spark, sf_dir))
    assert v2 != v1
    # the one-call form is equivalent end-to-end
    assert docs_ext.refresh_lexical_index(spark, prefix=prefix, docs=docs)
    assert rows(docs_ext.s_prf_expand(spark, sf_dir, lex_tables=tables())) == v2


def test_swap_staging_tables_rerun_recovers_any_crash_point(spark):
    """Re-running swap_staging_tables is the universal recovery action:
    simulate a crash at every point of a two-table swap (after the
    serving→old rename, after one key's full swap, and mid-key between
    the two renames) and assert a re-run always converges to a state
    where every serving name resolves and holds a complete copy."""
    from locopy_spark.sources.bucketed import (
        swap_staging_tables,
        write_bucketed,
    )

    from locopy_spark.sources.bucketed import clear_stale_location

    def build(n):
        names = {
            "a": f"t_swap_a_{n}",
            "b": f"t_swap_b_{n}",
        }
        stg = {k: f"{v}__staging" for k, v in names.items()}
        old = {k: f"{v}__old" for k, v in names.items()}
        # clear residue (tables AND dead-session directories) from any
        # previous run of this test — the manual renames below stand in
        # for a crashing swap, whose own run would have cleared these
        for k in names:
            for t in (names[k], stg[k], old[k]):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
                clear_stale_location(spark, t)
        for k in names:
            write_bucketed(
                spark.range(2).selectExpr("id", "'old' AS gen"),
                names[k], "id", n_buckets=1,
            )
            write_bucketed(
                spark.range(3).selectExpr("id", "'new' AS gen"),
                stg[k], "id", n_buckets=1,
            )
        return names, stg, old

    def serving_gens(names):
        return {
            k: spark.table(v).select("gen").distinct().collect()[0].gen
            for k, v in names.items()
        }

    # crash point 1: key "a" fully swapped, key "b" untouched
    names, stg, old = build(1)
    spark.sql(f"ALTER TABLE {names['a']} RENAME TO {old['a']}")
    spark.sql(f"ALTER TABLE {stg['a']} RENAME TO {names['a']}")
    swap_staging_tables(spark, stg, names, old)
    assert serving_gens(names) == {"a": "new", "b": "new"}

    # crash point 2: key "a" mid-swap — serving renamed away, staging
    # not yet renamed in (both renames pending for "b")
    names, stg, old = build(2)
    spark.sql(f"ALTER TABLE {names['a']} RENAME TO {old['a']}")
    swap_staging_tables(spark, stg, names, old)
    assert serving_gens(names) == {"a": "new", "b": "new"}

    # crash point 3: key "a" died between renames AND its staging copy
    # was lost (dropped) — the old table must roll back into service
    names, stg, old = build(3)
    spark.sql(f"ALTER TABLE {names['a']} RENAME TO {old['a']}")
    spark.sql(f"DROP TABLE {stg['a']}")
    swap_staging_tables(spark, stg, names, old)
    assert serving_gens(names) == {"a": "old", "b": "new"}

    # idempotence: a second re-run after convergence is a no-op
    swap_staging_tables(spark, stg, names, old)
    assert serving_gens(names) == {"a": "old", "b": "new"}


# ---------------------------------------------------------------------------
# r11 optimization pins: Arrow twins must equal the SQL forms they replace
# bit-for-bit (the optimization changed operator internals, not semantics).
# ---------------------------------------------------------------------------


def test_phash_bands_arrow_equals_sql(spark, sf_dir):
    """The mapInPandas phash_bands (r11) must reproduce the staged-
    selectExpr SQL form exactly — same character probes, same integer
    threshold, same bit fold."""
    from locopy_spark.queries.docs_ext import _phash_bands_sql, phash_bands
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = [
        (r["doc_id"], list(r["bands"]))
        for r in phash_bands(docs).orderBy("doc_id").collect()
    ]
    b = [
        (r["doc_id"], list(r["bands"]))
        for r in _phash_bands_sql(docs).orderBy("doc_id").collect()
    ]
    assert a == b and a


def test_lsh_fold_arrow_equals_sql_fold(spark, sf_dir):
    """The LSH signature kernel (one matmul per Arrow batch, near-zero
    rows re-summed left to right) must equal the sequential SQL fold
    bit-for-bit for any batch split: on the corpus, on quarter-integer
    vectors whose projections are often exactly zero, and on crafted
    rows whose sign depends on the summation order."""
    import random

    import numpy as np

    from locopy_spark.operators.similarity import (
        _lsh_signatures_sql,
        hyperplane_signs,
        lsh_sign_bits,
        lsh_signatures,
    )
    from locopy_spark.sources.tables import load_table

    def same(df, **geometry):
        a = lsh_signatures(df, **geometry).orderBy("vec_id", "table").collect()
        b = _lsh_signatures_sql(df, **geometry).orderBy("vec_id", "table")
        assert [tuple(r) for r in a] == [tuple(r) for r in b.collect()] and a

    rnd = random.Random(11)
    quarters = [
        (i, [rnd.randint(-3, 3) / 4.0 for _ in range(64)]) for i in range(300)
    ]
    bank = np.array(
        [r for t in range(8) for r in hyperplane_signs(6, 64, t)], dtype=float
    ).T
    assert (np.array([v for _, v in quarters]) @ bank == 0).any()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        same(load_table(spark, sf_dir, "embeddings"))
        same(spark.createDataFrame(quarters, "vec_id long, embedding array<float>"))
    finally:
        spark.conf.set(conf, old)

    # crafted rows: rows 0 and 1 hold the same terms, whose exact sum
    # is 2^-52 > 0; the fold of row 0 rounds (1 + 2^-53) + 2^-53 back
    # to 1 and ends at 0, the fold of row 1 ends at 2^-52, so no one
    # summation order gets both; rows 3-5 are non-finite; rows 6-7
    # (null vector, null element) land in bucket 0
    t = 2.0**-53
    nan, inf = float("nan"), float("inf")
    crafted = [
        [1.0, t, t, -1.0],
        [-1.0, t, t, 1.0],
        [0.25, -0.25, 0.5, -0.5],
        [nan, 1.0, 1.0, 1.0],
        [inf, -inf, 1.0, 1.0],
        [inf, 1.0, 0.0, 0.0],
    ]
    assert (sum(crafted[0]), sum(crafted[1])) == (0.0, 2 * t)  # left to right
    for planes in ([[1]] * 4, [list(p) for p in zip(*hyperplane_signs(3, 4, 5))]):
        want = []
        for row in crafted:
            acc = [0.0] * len(planes[0])
            for x, signs in zip(row, planes):
                acc = [a + x * s for a, s in zip(acc, signs)]
            want.append([a > 0 or a != a for a in acc])
        got = lsh_sign_bits(np.array(crafted), np.array(planes, dtype=float))
        assert got.tolist() == want
    rows = list(enumerate(crafted)) + [(6, None), (7, [1.0, None, 1.0, 1.0])]
    same(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        n_planes=3, n_tables=2, dim=4,
    )


def test_fixed_dot_pandas_equals_expr(spark, sf_dir):
    """The vectorized fixed-point dot (r11, brute-force scorers) must
    equal fixed_dot_expr exactly — int64 sums are order-independent,
    so this holds for any batch layout."""
    from pyspark.sql import functions as F

    from locopy_spark.functions.vectors import (
        fixed_dot_expr,
        fixed_dot_pandas,
    )
    from locopy_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    pairs = (
        emb.selectExpr("vec_id AS qa", "embedding AS ea")
        .crossJoin(
            F.broadcast(
                emb.selectExpr("vec_id AS qb", "embedding AS eb").limit(5)
            )
        )
    )
    out = pairs.select(
        F.expr(fixed_dot_expr("ea", "eb")).alias("sql_dot"),
        fixed_dot_pandas()("ea", "eb").alias("arrow_dot"),
    ).collect()
    assert out and all(r["sql_dot"] == r["arrow_dot"] for r in out)
