"""Materialized ANN index: the amortized 100-TB similarity-search shape.

The oracle-gated s_knn_* queries rebuild their structures per query by
contract (signatures, centroid lists, quantization codes — all derived
from the embedding table on every call).  At scale that is the wrong
deal: the index derivations are corpus-sized scans (the LSH plane-bank
matmul, the IVF nearest-centroid assignment with its |corpus| window
shuffle, the int8 quantization fold), while each QUERY touches only
buckets/probed lists.  This module pays the derivations ONCE into
bucketed managed tables (the graph family's ``graph_edges_materialize``
device, sources/bucketed.py) and the knn operators accept the tables
via their ``postings`` / ``base_lists`` / ``centroids`` parameters —
the query path then reads pre-partitioned storage and does zero
corpus-sized rebuild work.

Tables written by :func:`materialize_ann_index` (prefix-qualified):

- ``<p>_base``    (vec_id, embedding, norm_fix, codes, code_norm),
  bucketed+sorted by vec_id: exact-rescore joins on neighbor_id read
  it pre-partitioned (no exchange, no sort on the corpus side), and
  ``with_fixed_norm`` / ``with_int8_codes`` pass it through untouched
  (both are idempotent on their output columns).
- ``<p>_postings`` (vec_id, table, bucket), bucketed by bucket: the
  multi-table LSH signature rows — the per-query candidate join
  broadcasts the query side, so reading postings is a narrow scan.
- ``<p>_ivf_lists`` (centroid_id, n_id, n_emb, n_norm), bucketed by
  centroid_id: each vector's ONE inverted-list assignment — the
  |corpus| window shuffle of ``_ivf_assign`` paid at build time.
- ``<p>_ivf_centroids`` (centroid_id, c_emb, c_norm): the tiny coarse
  quantizer, so the query path never re-derives it from the corpus.
- ``<p>_pq_codes`` (neighbor_id, codes), bucketed by neighbor_id: the
  product-quantization codes — ``n_sub`` small ints per vector, the
  100-TB scan-byte story (the encode pass paid at build time).
- ``<p>_pq_codebook`` (cb): the 1-row PQ codebook, so ADC table
  construction per query reads a constant instead of re-training.

Reference parity note: the reference (capitalone/locopy) ships no
analytics; this is the serving-shape complement of the engine's ANN
family (operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from locopy_spark.operators import similarity
from locopy_spark.sources.bucketed import write_bucketed

ANN_TABLES = (
    "base",
    "postings",
    "ivf_lists",
    "ivf_centroids",
    "pq_codes",
    "pq_codebook",
)


def ann_table_names(prefix: str = "ann_index") -> dict[str, str]:
    return {t: f"{prefix}_{t}" for t in ANN_TABLES}


def materialize_ann_index(
    emb: DataFrame,
    prefix: str = "ann_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    n_buckets: int = 8,
    pq_n_sub: int = 16,
    pq_n_codewords: int = 32,
) -> dict[str, DataFrame]:
    """Build the six index tables (ANN_TABLES) from ``emb`` and return
    them as {short_name: DataFrame} reading the managed tables.

    Derivations are bit-identical to what the standalone knn operators
    compute live (same plane bank, same deterministic md5 centroid
    pick, same quantization expressions), so injecting these tables is
    result-identical — pytest-asserted in tests/test_similarity.py.

    The postings come from the batch-invariant
    ``similarity.lsh_signatures`` kernel, so they equal a live
    ``knn_lsh`` build and the incremental ``stream_ann_postings``
    appends bit for bit, however the bucketed base table re-batches.
    """
    spark = emb.sparkSession
    names = ann_table_names(prefix)
    base = similarity.with_int8_codes(
        similarity.with_fixed_norm(emb, vec_col), vec_col
    )
    write_bucketed(
        base, names["base"], id_col, n_buckets=n_buckets, sort_cols=[id_col]
    )
    base_t = spark.table(names["base"])

    # The three derivation chains below (LSH postings / IVF centroids→
    # lists / PQ codebook→codes) are INDEPENDENT once the base table
    # is written — overlap them from a small thread pool (guide-style
    # concurrent jobs: each chain's write back-fills executors the
    # others' stage tails leave idle; job descriptions and catalog
    # table names are disjoint, so the writes cannot collide).
    def _postings():
        write_bucketed(
            similarity.lsh_signatures(
                base_t, id_col=id_col, vec_col=vec_col,
                n_planes=n_planes, n_tables=n_tables, dim=dim,
            ),
            names["postings"],
            "bucket",
            n_buckets=n_buckets,
            sort_cols=["table", "bucket"],
        )

    def _ivf():
        cent = similarity._ivf_centroids(
            base_t, id_col, vec_col, n_centroids
        )
        # 16 rows — one bucket; write_bucketed for its stale-location
        # cleanup (saveAsTable alone fails on a directory a previous
        # session left behind)
        write_bucketed(
            cent, names["ivf_centroids"], "centroid_id", n_buckets=1
        )
        cent_t = spark.table(names["ivf_centroids"])
        vecs = base_t.select(
            base_t[id_col].alias("n_id"),
            base_t[vec_col].alias("n_emb"),
            base_t["norm_fix"].alias("n_norm"),
        )
        write_bucketed(
            similarity._ivf_assign(vecs, "n", 1, cent_t),
            names["ivf_lists"],
            "centroid_id",
            n_buckets=n_buckets,
            sort_cols=["centroid_id"],
        )

    def _pq():
        # PQ: the 1-row codebook + the data-sized encode pass, both
        # paid here (codes at rest are n_sub small ints/vector — the
        # 100-TB scan-byte story; dim inferred = the family's fixed 64)
        cb_df = similarity.pq_codebook(base_t, id_col, vec_col, pq_n_codewords)
        write_bucketed(cb_df, names["pq_codebook"], "cb", n_buckets=0)
        cb_rows = spark.table(names["pq_codebook"]).collect()
        write_bucketed(
            similarity.pq_codes_arrow(
                base_t,
                [list(v) for v in cb_rows[0].cb],
                id_col,
                vec_col,
                dim,
                pq_n_sub,
                pq_n_codewords,
            ).withColumnRenamed(id_col, "neighbor_id"),
            names["pq_codes"],
            "neighbor_id",
            n_buckets=n_buckets,
            sort_cols=["neighbor_id"],
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(fn) for fn in (_postings, _ivf, _pq)]
        for f in futures:
            f.result()  # surface the first failure, if any
    return {t: spark.table(names[t]) for t in ANN_TABLES}


def knn_lsh_indexed(
    spark: SparkSession,
    query_ids: list[int] | None,
    k: int,
    prefix: str = "ann_index",
) -> DataFrame:
    """knn_lsh served from the materialized index: postings + base,
    zero signature recomputation."""
    names = ann_table_names(prefix)
    return similarity.knn_lsh(
        spark.table(names["base"]),
        query_ids=query_ids,
        k=k,
        postings=spark.table(names["postings"]),
    )


def knn_ivf_indexed(
    spark: SparkSession,
    query_ids: list[int] | None,
    k: int,
    n_probe: int = 4,
    prefix: str = "ann_index",
) -> DataFrame:
    """knn_ivf served from the materialized index: lists + centroids,
    zero corpus-sized assignment work per query."""
    names = ann_table_names(prefix)
    return similarity.knn_ivf(
        spark.table(names["base"]),
        query_ids=query_ids,
        k=k,
        n_probe=n_probe,
        base_lists=spark.table(names["ivf_lists"]),
        centroids=spark.table(names["ivf_centroids"]),
    )


def knn_pq_indexed(
    spark: SparkSession,
    query_ids: list[int] | None,
    k: int,
    prefix: str = "ann_index",
    n_sub: int = 16,
    n_codewords: int = 32,
    oversample: int = 4,
) -> DataFrame:
    """knn_pq served from the materialized index: stored codes +
    codebook, zero encode work per query (ADC tables are per-query
    and tiny by construction)."""
    names = ann_table_names(prefix)
    return similarity.knn_pq(
        spark.table(names["base"]),
        query_ids=query_ids,
        k=k,
        n_sub=n_sub,
        n_codewords=n_codewords,
        oversample=oversample,
        coded=spark.table(names["pq_codes"]),
        codebook=spark.table(names["pq_codebook"]),
    )


def knn_int8_indexed(
    spark: SparkSession,
    query_ids: list[int] | None,
    k: int,
    prefix: str = "ann_index",
) -> DataFrame:
    """knn_int8 served from the materialized index: the base table
    already carries codes + code_norm + norm_fix, so the idempotent
    ``with_int8_codes`` / ``with_fixed_norm`` stages pass through and
    the query is two broadcast joins over stored columns."""
    names = ann_table_names(prefix)
    return similarity.knn_int8(
        spark.table(names["base"]), query_ids=query_ids, k=k
    )


def ann_index_drift(
    spark: SparkSession,
    emb: DataFrame,
    prefix: str = "ann_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Staleness monitor for the SERVING index's frozen coarse
    quantizer — the d_centroid_drift "did my embedding space shift
    between builds" role, specialized to what this quantizer actually
    is: a deterministic md5-ordered pick of corpus vectors
    (:func:`similarity._ivf_centroids`), so its staleness is DIRECTLY
    measurable as quantizer overlap — the fraction of stored
    ``<p>_ivf_centroids`` ids that a fresh pick over the current
    corpus would retain.  1.0 = a rebuild would choose the identical
    quantizer (nothing to refresh); as the corpus grows, new vectors
    displace stored picks and the overlap decays toward 0 — exactly
    the regime where stream_ann_lists has been assigning against
    stale centroids and a rebuild is due.  (A mean-centroid cosine —
    d_centroid_drift's A/A form — is NOT usable here: on weakly
    clustered corpora the mean embedding is near zero and its cosine
    is noise; the overlap is meaningful for any corpus.)

    Operator-internal trigger scalar (never oracle-compared); cost is
    one corpus top-``n_centroids`` by md5 plus a centroid-sized join.
    """
    cent = spark.table(ann_table_names(prefix)["ivf_centroids"])
    n = cent.count()
    fresh = similarity._ivf_centroids(
        similarity.with_fixed_norm(emb, vec_col), id_col, vec_col, n
    )
    kept = cent.join(fresh.select("centroid_id"), "centroid_id").count()
    return kept / n if n else float("nan")


def _staging_prefix(prefix: str) -> str:
    return f"{prefix}__staging"


def _drop_prefix_tables(spark: SparkSession, prefix: str) -> None:
    for t in ann_table_names(prefix).values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def build_staging_index(
    emb: DataFrame, prefix: str = "ann_index", **materialize_kwargs
) -> dict[str, DataFrame]:
    """Phase 1 of :func:`refresh_ann_index`: materialize the new index
    under ``<prefix>__staging_*`` table names.  The serving tables are
    untouched — a reader mid-build sees the complete OLD index
    (pytest-asserted in tests/test_similarity.py)."""
    spark = emb.sparkSession
    _drop_prefix_tables(spark, _staging_prefix(prefix))  # crashed prior run
    return materialize_ann_index(
        emb, prefix=_staging_prefix(prefix), **materialize_kwargs
    )


def swap_staging_index(spark: SparkSession, prefix: str = "ann_index") -> None:
    """Phase 2 of :func:`refresh_ann_index`: catalog-rename the staging
    tables over the serving names via the shared staging-swap device
    (:func:`locopy_spark.sources.bucketed.swap_staging_tables` — see
    there for the crash-recovery contract)."""
    from locopy_spark.sources.bucketed import swap_staging_tables

    swap_staging_tables(
        spark,
        ann_table_names(_staging_prefix(prefix)),
        ann_table_names(prefix),
        ann_table_names(f"{prefix}__old"),
    )


def refresh_ann_index(
    spark: SparkSession,
    prefix: str = "ann_index",
    emb: DataFrame | None = None,
    drift_threshold: float | None = None,
    vec_col: str = "embedding",
    **materialize_kwargs,
) -> bool:
    """Full index REBUILD — the maintenance step the incremental arm
    cannot do: stream_ann_postings/stream_ann_lists append against the
    FROZEN quantizer (the production maintenance model), so
    re-centroiding requires re-materializing.  This closes the ANN
    lifecycle: build (materialize_ann_index) → serve (knn_*_indexed) →
    maintain (stream_ann_*) → refresh (here) → serve.

    ``emb``: the accumulated corpus to rebuild from; defaults to the
    stored ``<prefix>_base`` table (re-centroid/re-bucket what the
    index already holds).  ``drift_threshold``: when set, the rebuild
    only runs if :func:`ann_index_drift` has fallen BELOW it (the
    d_centroid_drift-style monitor as the trigger); returns False when
    the frozen quantizer is still healthy.  Serving reads are correct
    throughout: the new index builds under staging names and takes
    over via rename-swap (see :func:`swap_staging_index`).
    """
    names = ann_table_names(prefix)
    if emb is None:
        emb = spark.table(names["base"]).select("vec_id", vec_col)
    if drift_threshold is not None:
        drift = ann_index_drift(spark, emb, prefix=prefix, vec_col=vec_col)
        if drift >= drift_threshold:
            return False
    build_staging_index(emb, prefix=prefix, **materialize_kwargs)
    swap_staging_index(spark, prefix=prefix)
    return True
