"""Similarity search over embedding columns.

``knn_bruteforce`` broadcasts the (small) query set against the full
table — a map-side broadcast nested loop, linear in table size, the
exact-answer baseline. ``knn_lsh`` adds random-hyperplane bucketing so
the candidate set per query is a bucket, not the table — the 100 TB
path (approximate; recall tested against brute force in tests/).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from locopy_spark.functions.vectors import cosine_from_fixed, fixed_dot_expr


def with_fixed_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the fixed-point squared norm (bigint, deterministic).

    Idempotent: a frame that already carries ``norm_fix`` (e.g. a
    persisted pre-normed table shared by an approximate path and its
    brute-force recall check) passes through untouched, so the norm
    fold isn't recomputed over cached data."""
    if "norm_fix" in emb.columns:
        return emb
    return emb.withColumn("norm_fix", F.expr(fixed_dot_expr(vec_col, vec_col)))


def knn_bruteforce(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast; the big side streams through without a
    shuffle; the only shuffle is the final per-query top-k window over
    (n_queries × n_rows) scored rows, bounded by per-partition
    pre-filtering in the window's rank computation.
    """
    base = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_emb"),
        F.col("norm_fix").alias("n_norm"),
    )
    q = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.col("norm_fix").alias("q_norm"),
    )
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    # |queries|×n pair volume makes the interpreted per-element SQL
    # fold the bottleneck here — score through the Arrow kernel
    # (bit-identical: int64 sums are order-independent; see
    # functions.vectors.fixed_dot_pandas)
    from locopy_spark.functions.vectors import fixed_dot_pandas

    dot = fixed_dot_pandas()
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_fix", dot("q_emb", "n_emb"))
        .withColumn(
            "cosine", F.expr(cosine_from_fixed("dot_fix", "q_norm", "n_norm"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def mips_bruteforce(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by MAX INNER PRODUCT (un-normalized dot) — the
    retrieval scoring for embedding families where vector norm carries
    signal (e.g. DPR-style retrievers), where cosine's normalization
    would re-rank.

    Same scale shape as :func:`knn_bruteforce`: queries broadcast, the
    big side streams without a shuffle, per-query top-k window bounded
    by the broadcast query count. Scores are the fixed-point bigint
    dot (exact cross-engine, deterministic ties by neighbor_id). The
    LSH/IVF shortlists compose in front of this scorer the same way
    they do for cosine (shortlist ∪ exact rerank) when the table stops
    fitting a scan-per-query budget.
    """
    base = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_emb")
    )
    q = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    from locopy_spark.functions.vectors import fixed_dot_pandas

    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_fix", fixed_dot_pandas()("q_emb", "n_emb"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("dot_fix"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "dot_fix", "rk")
    )


def hyperplane_signs(
    n_planes: int, dim: int, table: int = 0
) -> list[list[int]]:
    """Deterministic pseudorandom ±1 hyperplanes from md5 — generated
    driver-side (tiny), shipped as literals into the plan."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            b = hashlib.md5(f"{table}:{p}:{i}".encode()).digest()[0]
            row.append(1 if b % 2 else -1)
        planes.append(row)
    return planes


def lsh_sign_bits(v, bank):
    """Sign bits of the float64 rows ``v`` (n, dim) against a ±1 plane
    bank (dim, n_proj): ``bits[r, j]`` is the left-to-right SQL fold
    ``(((0 + v₁b₁) + v₂b₂) + …) > 0``, for any set of rows.

    Each product vᵢ·(±1) is exact, so any summation order of the
    ``dim`` terms — BLAS blocks and SIMD lanes vary with the batch —
    errs by at most γ·Σ|vᵢ|, γ = 2·dim·2⁻⁵³. A matmul projection
    farther than 2γ·Σ|vᵢ| from zero therefore has the fold's sign;
    rows with a projection inside that band or a non-finite one are
    re-summed left to right. NaN is positive, as in Spark SQL."""
    import numpy as np

    with np.errstate(invalid="ignore"):  # inf - inf is NaN, as in SQL
        acc = v @ bank
        band = 4.0 * bank.shape[0] * 2.0**-53 * np.abs(v).sum(axis=1)
        # a non-finite vᵢ, or an overflowing sum, makes the band inf or
        # NaN, so its row is re-summed too
        redo = ~(np.abs(acc).min(axis=1) > band)
        if redo.any():
            rows = v[redo]
            fold = np.zeros((len(rows), bank.shape[1]))
            for i in range(bank.shape[0]):
                fold += rows[:, i : i + 1] * bank[i]
            acc[redo] = fold
    return (acc > 0) | np.isnan(acc)


def lsh_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    include_vector: bool = False,
) -> DataFrame:
    """(id, table, bucket) posting rows: one bucket per hash table.

    OR-amplified hyperplane LSH — a vector lands in ``n_tables``
    independent sign-bucket tables, so a true neighbor is missed only
    if it disagrees with the query in EVERY table: recall
    1 - (1 - p^b)^L instead of the single-table p^b that round 1
    shipped (which at 2^8 buckets over small corpora had recall ~0).
    Postings carry only ids — the payload embedding never multiplies
    by ``n_tables`` or enters the candidate shuffle, unless
    ``include_vector`` asks for it (in-bucket rescoring).

    One numpy matmul per Arrow batch, made batch-invariant by
    :func:`lsh_sign_bits`: a vector's buckets are a function of its
    embedding alone, bit-identical to the SQL fold (the test
    reference below), so stored, streamed and live postings
    agree however the rows are batched. A null vector, or one with a
    null element, lands in bucket 0 of every table, as in the fold.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    bank = np.array(
        [row for t in range(n_tables) for row in hyperplane_signs(n_planes, dim, t)],
        dtype=np.float64,
    ).T  # (dim, n_tables*n_planes)
    weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("table", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ]
    if include_vector:
        fields.append(emb.schema[vec_col])
    names = [f.name for f in fields]

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            vecs = batch.column(vec_col)
            v, void = _vector_rows(vecs, dim)
            bits = lsh_sign_bits(v, bank)
            bits[void] = False
            buckets = (bits.reshape(n, n_tables, n_planes) * weights).sum(axis=2)
            rows = pa.array(np.repeat(np.arange(n), n_tables))
            cols = [
                batch.column(id_col).take(rows).cast(pa.int64()),
                pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
                pa.array(buckets.reshape(-1)),
            ]
            if include_vector:
                cols.append(vecs.take(rows))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    # no ensure_map_parallelism: an A/B at sf0.1 showed its repartition
    # costs more than the kernel saves (s_knn_lsh 0.72 → 1.25 s); at
    # scale the input partitioning already exceeds the cores
    return emb.select(id_col, vec_col).mapInArrow(gen, T.StructType(fields))


def _vector_rows(vecs, dim: int):
    """(n, dim) float64 matrix of an Arrow list array of vectors, and
    the rows that are null or hold a null element (zeros in the
    matrix)."""
    import numpy as np
    import pyarrow.compute as pc

    if not pc.all(pc.equal(pc.list_value_length(vecs), dim)).as_py():
        raise ValueError(f"every vector must have {dim} elements")
    valid = vecs.is_valid().to_numpy(zero_copy_only=False)
    flat = vecs.flatten()
    v = np.zeros((len(vecs), dim))
    v[valid] = flat.fill_null(0).to_numpy(zero_copy_only=False).reshape(-1, dim)
    void = ~valid
    holes = flat.is_null().to_numpy(zero_copy_only=False).reshape(-1, dim)
    void[valid] = holes.any(axis=1)
    return v, void


def _lsh_signatures_sql(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Pure-SQL twin of :func:`lsh_signatures` (the pre-kernel
    production form, kept as the cross-implementation reference the
    tests compare against): each projection is an ``aggregate`` lambda
    fold, left to right, over the element-wise products."""
    tables = [hyperplane_signs(n_planes, dim, t) for t in range(n_tables)]
    planes3 = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(s)) for s in row]) for row in tab])
            for tab in tables
        ]
    )
    buckets = (
        "transform(sequence(1, {nt}), t -> "
        "aggregate(transform(sequence(1, {np}), p -> "
        "CASE WHEN aggregate(transform(sequence(1, size({v})), "
        "i -> cast(element_at({v}, i) as double)"
        " * element_at(element_at(element_at(_planes, t), p), i)), "
        "cast(0.0 as double), (a, x) -> a + x) > 0 "
        "THEN cast(pow(2, p-1) as bigint) ELSE cast(0 as bigint) END), "
        "cast(0 as bigint), (a, x) -> a + x))"
    ).format(nt=n_tables, np=n_planes, v=vec_col)
    return (
        emb.withColumn("_planes", planes3)
        .select(id_col, F.posexplode(F.expr(buckets)).alias("table", "bucket"))
    )


def knn_lsh(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Candidates = union over ``n_tables`` hash tables of the query's
    bucket (equi-join on (table, bucket) over id-only postings),
    deduplicated, then scored exactly via one equi-join back to the
    embedding table. Scanned fraction per query ≈ n_tables / 2^n_planes
    of the corpus, independent of corpus size; raise ``n_planes`` ↓
    bucket size, raise ``n_tables`` ↑ recall.

    ``postings``: a pre-computed (ideally a materialized bucketed
    table — see :mod:`locopy_spark.operators.ann_index`) signature
    table with the SAME (id_col, n_planes, n_tables, dim) — the
    100-TB deployment shape, where the signature scan is paid once
    at index-build time and every query reads the postings instead
    of re-projecting the plane bank over the corpus.
    """
    if postings is not None:
        sigs = postings
    else:
        sigs = lsh_signatures(
            emb, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, n_tables=n_tables, dim=dim,
        )
    q_sigs = sigs.withColumnRenamed(id_col, "query_id")
    if query_ids is not None:
        q_sigs = q_sigs.filter(F.col("query_id").isin(query_ids))
    cand = (
        sigs.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q_sigs), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    base = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_emb"),
        F.col("norm_fix").alias("n_norm"),
    )
    q = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.col("norm_fix").alias("q_norm"),
    )
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(base, "neighbor_id")
        .withColumn("dot_fix", F.expr(fixed_dot_expr("q_emb", "n_emb")))
        .withColumn(
            "cosine", F.expr(cosine_from_fixed("dot_fix", "q_norm", "n_norm"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def _ivf_centroids(
    base: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_centroids`` vectors with
    the lowest md5 of id (a uniform pseudorandom sample; production
    would k-means them, the plan shape is identical)."""
    return (
        base.withColumn("ck", F.expr(f"md5(cast({id_col} as string))"))
        .orderBy("ck")
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("c_emb"),
            F.col("norm_fix").alias("c_norm"),
        )
    )


def _ivf_assign(
    df: DataFrame,
    side: str,
    probes: int,
    cent: DataFrame,
    keep_rank: bool = False,
) -> DataFrame:
    """Nearest-``probes`` centroid assignment (broadcast nested-loop
    against the tiny centroid set — map-side, no shuffle).

    ``keep_rank`` retains the assignment rank column ``crk`` (1 =
    nearest list): probe sets are NESTED in the rank, so a sweep over
    n_probe settings can assign once at the widest setting and slice
    ``crk <= n_probe`` per arm instead of re-assigning (s_ivf_tuning).
    """
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "c_cos",
        F.expr(
            cosine_from_fixed(
                fixed_dot_expr(f"{side}_emb", "c_emb"),
                f"{side}_norm",
                "c_norm",
            )
        ),
    )
    w = W.partitionBy(f"{side}_id").orderBy(
        F.desc("c_cos"), F.asc("centroid_id")
    )
    drops = ["c_emb", "c_norm", "c_cos"]
    if not keep_rank:
        drops.append("crk")
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= probes)
        .drop(*drops)
    )


def ivf_base_lists(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """The IVF inverted lists (each vector assigned to its ONE nearest
    centroid) — probe-count independent, so callers sweeping n_probe
    (``s_ivf_tuning``) compute and persist it ONCE and pass it to
    :func:`knn_ivf` via ``base_lists``."""
    base = with_fixed_norm(emb, vec_col)
    cent = _ivf_centroids(base, id_col, vec_col, n_centroids)
    vecs = base.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_emb"),
        F.col("norm_fix").alias("n_norm"),
    )
    return _ivf_assign(vecs, "n", 1, cent)


def knn_ivf(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    base_lists: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Coarse quantizer: ``n_centroids`` vectors picked deterministically
    (lowest md5 of id — a uniform pseudorandom sample; production would
    k-means them, the plan shape is identical). Every vector is
    assigned to its nearest centroid (broadcast nested-loop against the
    tiny centroid set — map-side, no shuffle), queries probe their
    ``n_probe`` nearest lists, and exact scoring runs only inside the
    probed lists (equi-join shuffle on centroid id). Scanned fraction
    ≈ n_probe / n_centroids, independent of table size.

    ``base_lists``: a pre-computed (ideally persisted)
    :func:`ivf_base_lists` result for the SAME (emb, n_centroids) —
    lets an n_probe sweep share the one probe-independent assignment
    pass instead of replaying it per setting.

    ``centroids``: a pre-computed :func:`_ivf_centroids` result
    (centroid_id, c_emb, c_norm) for the SAME (emb, n_centroids) —
    with ``base_lists`` this makes the query path index-only: probe
    assignment against the tiny materialized centroid set plus one
    equi-join into the materialized lists, zero corpus-sized rebuild
    work per query (see :mod:`locopy_spark.operators.ann_index`).
    """
    base = with_fixed_norm(emb, vec_col)
    cent = (
        centroids
        if centroids is not None
        else _ivf_centroids(base, id_col, vec_col, n_centroids)
    )

    def assign(df: DataFrame, side: str, probes: int) -> DataFrame:
        return _ivf_assign(df, side, probes, cent)

    if base_lists is None:
        vecs = base.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("n_emb"),
            F.col("norm_fix").alias("n_norm"),
        )
        lists = assign(vecs, "n", 1)  # each vector lives in ONE list
    else:
        lists = base_lists
    q = base.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_emb"),
        F.col("norm_fix").alias("q_norm"),
    )
    if query_ids is not None:
        q = q.filter(F.col("q_id").isin(query_ids))
    probes = assign(q, "q", n_probe)
    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("dot_fix", F.expr(fixed_dot_expr("q_emb", "n_emb")))
        .withColumn(
            "cosine", F.expr(cosine_from_fixed("dot_fix", "q_norm", "n_norm"))
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("n_id").alias("neighbor_id"),
            "cosine",
            "rk",
        )
    )


def _bucket_pair_scorer(id_col: str, vec_col: str, threshold: float):
    """applyInPandas scorer for one LSH bucket: every in-bucket pair's
    fixed-point dot, computed with the EXACT arithmetic of
    ``fixed_dot_expr`` (per-element double product → ×FIXED_SCALE →
    floor(+0.5) → int64 sum), vectorized in numpy and chunked so a hot
    bucket never materializes an m×m×dim tensor."""
    import numpy as np
    import pandas as pd

    from locopy_spark.functions.vectors import FIXED_SCALE

    empty = pd.DataFrame(
        {
            "vec_a": pd.Series(dtype="int64"),
            "vec_b": pd.Series(dtype="int64"),
            "dot_fix": pd.Series(dtype="int64"),
            "na": pd.Series(dtype="int64"),
            "nb": pd.Series(dtype="int64"),
        }
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        v = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
        selfdot = (
            np.floor(v * v * FIXED_SCALE + 0.5).astype(np.int64).sum(axis=1)
        )
        rows_a, rows_b, dots = [], [], []
        chunk = max(1, (1 << 22) // (m * v.shape[1]))  # ~32 MB f64 blocks
        for s in range(0, m, chunk):
            blk = v[s : s + chunk]
            d = (
                np.floor(
                    blk[:, None, :] * v[None, :, :] * FIXED_SCALE + 0.5
                )
                .astype(np.int64)
                .sum(axis=2)
            )
            # norms multiply in FLOAT64 before sqrt — same op order as
            # cosine_from_fixed's CAST(na AS DOUBLE) * nb (int64 would
            # overflow at ~1e24)
            cos = d / np.sqrt(
                selfdot[s : s + chunk, None].astype(np.float64)
                * selfdot[None, :].astype(np.float64)
            )
            for r in range(len(blk)):
                gi = s + r
                js = np.nonzero(cos[r, gi + 1 :] >= threshold)[0] + gi + 1
                if len(js):
                    rows_a.append(np.full(len(js), ids[gi]))
                    rows_b.append(ids[js])
                    dots.append(d[r, js])
        if not rows_a:
            return empty
        a = np.concatenate(rows_a)
        b = np.concatenate(rows_b)
        idx = {int(i): n for n, i in enumerate(ids)}
        return pd.DataFrame(
            {
                "vec_a": a,
                "vec_b": b,
                "dot_fix": np.concatenate(dots),
                "na": selfdot[[idx[int(x)] for x in a]],
                "nb": selfdot[[idx[int(x)] for x in b]],
            }
        )

    return score


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 5,
    n_tables: int = 24,
    dim: int = 64,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, found inside LSH candidate
    buckets — the production twin of :func:`embedding_dedup_pairs`.

    Candidates are the vectors that share a (table, bucket): one
    shuffle groups each bucket with its vectors (NO broadcast — the
    shape that scales to billions of vectors), and exact fixed-point
    rescoring runs only inside buckets. Probabilistic
    recall: a true pair is missed only if its vectors disagree in every
    one of ``n_tables`` sign-bucket tables (~93 % at cosine 0.4 with
    the defaults; raise ``n_planes`` to shrink buckets as the corpus
    grows, ``n_tables`` to buy recall).

    Regime note (honest numbers on the test corpus): at the weak 0.4
    threshold the defaults admit ~half of all random pairs as
    candidates — the AND/OR tradeoff cannot prune hard AND recall well
    when true pairs sit barely above random. The operator's sweet spot
    is the high-cosine near-dup regime (≥0.9: per-plane agreement 0.94,
    the same defaults prune >97 % of random pairs); the knobs are
    exposed for exactly that tuning.
    """
    # one Arrow pass emits (id, table, bucket, vector); one shuffle
    # groups each bucket; pairwise fixed-point dots run as chunked
    # numpy inside the bucket. Data moved: corpus×n_tables vector rows
    # — in the weak-threshold regime (candidates >> corpus) orders of
    # magnitude less than a join rescorer's 2 vectors per candidate
    # pair. Hot buckets bound the m² work per task: raise n_planes to
    # split them.
    tagged = lsh_signatures(
        emb, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, n_tables=n_tables, dim=dim,
        include_vector=True,
    )
    scored = tagged.groupBy("table", "bucket").applyInPandas(
        _bucket_pair_scorer(id_col, vec_col, threshold),
        "vec_a long, vec_b long, dot_fix long, na long, nb long",
    )
    return (
        scored.distinct()
        .withColumn("cosine", F.expr(cosine_from_fixed("dot_fix", "na", "nb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, all-pairs — the
    verification baseline; production scale uses ``knn_lsh`` buckets)."""
    a = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("ea"),
        F.col("norm_fix").alias("na"),
    )
    b = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("eb"),
        F.col("norm_fix").alias("nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("dot_fix", F.expr(fixed_dot_expr("ea", "eb")))
        .withColumn("cosine", F.expr(cosine_from_fixed("dot_fix", "na", "nb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def with_int8_codes(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Attach per-vector symmetric int8 quantization codes.

    code_i = floor(v_i / amax(v) * 127 + 0.5) ∈ [-127, 127] — at rest
    these pack into a BYTE array, 4× narrower than float32 (the scan-
    byte reduction is the point at 100 TB; in-plan they are int). The
    per-vector scale cancels in the cosine proxy, so the shortlist
    ranks by quantized cosine with no dequantization.

    Idempotent (the ``with_fixed_norm`` convention): a frame already
    carrying BOTH ``codes`` and ``code_norm`` — e.g. a materialized
    ANN base table — passes through untouched, so the quantization
    fold isn't recomputed.  The gate requires both columns because the
    PQ tables reuse the name ``codes`` with different semantics
    (sub-quantizer codewords, no ``code_norm``): a frame carrying PQ
    codes must NOT skip int8 quantization, or downstream ``knn_int8``
    would mis-rank on the wrong codes and then fail on the missing
    norm column.
    """
    if "codes" in emb.columns and "code_norm" in emb.columns:
        return emb
    if "codes" in emb.columns:
        raise ValueError(
            "with_int8_codes: input carries a 'codes' column without "
            "'code_norm' — these are not int8 quantization codes (PQ "
            "codes share the column name); rename or drop the column "
            "before quantizing"
        )
    amax = f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"
    # an all-zero vector has amax = 0 (no scale): its codes are the
    # zero vector, not an ANSI divide-by-zero crash — downstream the
    # zero code_norm yields NULL quantized cosine (cosine_from_fixed
    # convention) and the vector drops out of every shortlist
    codes = (
        f"CASE WHEN {amax} = 0.0 THEN transform({vec_col}, x -> 0) ELSE"
        f" transform({vec_col}, x -> cast(floor(cast(x as double)"
        f" / {amax} * 127 + 0.5) as int)) END"
    )
    return emb.withColumn("codes", F.expr(codes)).withColumn(
        "code_norm", F.expr(_int_dot("codes", "codes"))
    )


def _int_dot(a: str, b: str) -> str:
    """Exact integer dot product of two int arrays (no overflow: 64
    dims × 127² ≪ 2^63)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as bigint) * y), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )


def knn_int8(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    oversample: int = 4,
) -> DataFrame:
    """Top-k cosine via int8-quantized shortlist + exact rerank.

    Stage 1 streams the quantized codes (4× fewer scan bytes than
    float32 at rest) against the broadcast query codes and keeps the
    top ``oversample·k`` per query by quantized cosine. Stage 2 rejoins
    only the shortlist to the full-precision embeddings and reranks
    with the exact fixed-point dot — so quantization error can only
    cost recall (bounded by the oversample margin), never wrong
    ordering within the final k. The standard scan-cheap/rerank-exact
    retrieval split (FAISS SQ8-style), expressed as two broadcast
    equi-joins.
    """
    coded = with_int8_codes(emb, vec_col)
    base_c = coded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("codes").alias("n_codes"),
        F.col("code_norm").alias("n_cnorm"),
    )
    q_c = coded.select(
        F.col(id_col).alias("query_id"),
        F.col("codes").alias("q_codes"),
        F.col("code_norm").alias("q_cnorm"),
    )
    if query_ids is not None:
        q_c = q_c.filter(F.col("query_id").isin(query_ids))
    approx = (
        base_c.crossJoin(F.broadcast(q_c))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("idot", F.expr(_int_dot("q_codes", "n_codes")))
        .withColumn(
            "qcos",
            # zero-norm int8 code (all-zero embedding): NULL, not an
            # ANSI divide crash (the cosine_from_fixed convention)
            F.expr(
                "CASE WHEN CAST(q_cnorm AS DOUBLE) * CAST(n_cnorm AS DOUBLE)"
                " = 0.0 THEN CAST(NULL AS DOUBLE) ELSE"
                " CAST(idot AS DOUBLE)"
                " / (sqrt(CAST(q_cnorm AS DOUBLE)) * sqrt(CAST(n_cnorm AS DOUBLE)))"
                " END"
            ),
        )
    )
    ws = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    shortlist = (
        approx.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    # exact rerank over the shortlist only
    normed = with_fixed_norm(emb, vec_col)
    base = normed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_emb"),
        F.col("norm_fix").alias("n_norm"),
    )
    q = normed.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.col("norm_fix").alias("q_norm"),
    )
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    scored = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(base, "neighbor_id")
        .withColumn("dot_fix", F.expr(fixed_dot_expr("q_emb", "n_emb")))
        .withColumn(
            "cosine", F.expr(cosine_from_fixed("dot_fix", "q_norm", "n_norm"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def hard_negatives(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar vectors whose ``label_col`` DIFFERS from the
    anchor's — the highest-loss negatives an embedding-model trainer
    wants in its batches.

    Same scale shape as :func:`knn_bruteforce` (anchors broadcast, big
    side streams shuffle-free, bounded per-anchor rank window); the
    label-mismatch predicate evaluates inside the scan, so same-label
    rows never reach the window. For corpus-scale anchor sets, swap
    the scoring stage for the LSH/IVF shortlist exactly as knn_lsh /
    knn_ivf do — the mismatch filter composes with any candidate
    source.
    """
    base = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("n_emb"),
        F.col("norm_fix").alias("n_norm"),
    )
    q = with_fixed_norm(emb, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("q_emb"),
        F.col("norm_fix").alias("q_norm"),
    )
    if query_ids is not None:
        q = q.filter(F.col("query_id").isin(query_ids))
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .withColumn("dot_fix", F.expr(fixed_dot_expr("q_emb", "n_emb")))
        .withColumn(
            "cosine", F.expr(cosine_from_fixed("dot_fix", "q_norm", "n_norm"))
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cosine", "rk",
        )
    )


def second_moment_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int | None = None,
) -> DataFrame:
    """Exact fixed-point second-moment matrix Σ_rows x_i·x_j (upper
    triangle, 1-based dims) — the one-pass sufficient statistic for
    covariance / whitening / PCA prep over an embedding column.

    Arrow-batched ``mapInPandas`` partial aggregation: each partition
    accumulates its own dim×dim int64 matrix (numpy, chunked so the
    row×dim×dim intermediate stays ~16 MB), so the shuffle carries ONE
    dim(dim+1)/2-row partial per partition — never the vectors. Every
    per-row product is floored to fixed-point BEFORE summation
    (identical IEEE double steps in numpy and the DuckDB oracle), so
    the integer sums are partition-order independent and bit-identical
    cross-engine. At extreme row counts descale (the q_anomaly_days
    note): per-element fixed ≤ |x|²·scale, so bigint headroom is
    2^63 / (scale·max|x|²) rows.
    """
    from locopy_spark.functions.vectors import FIXED_SCALE

    if scale is None:
        scale = FIXED_SCALE

    def run(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim), dtype=np.int64)
        rows_seen, max_abs = 0, 0.0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # checked headroom precondition: numpy int64 wraps
            # silently, so refuse once the worst-case running sum
            # (rows_so_far · scale · running max|x|²) nears 2^63
            rows_seen += len(X)
            max_abs = max(max_abs, float(np.abs(X).max()))
            if max_abs**2 * scale * rows_seen >= 2**62:
                raise OverflowError(
                    "second_moment_matrix: int64 headroom exhausted "
                    f"(~{rows_seen} rows at scale {scale}); descale "
                    "the input or shrink partitions"
                )
            for c in range(0, len(X), 256):
                chunk = X[c : c + 256]
                prod = chunk[:, :, None] * chunk[:, None, :]
                acc += (
                    np.floor(prod * scale + 0.5).astype(np.int64).sum(axis=0)
                )
        iu = np.triu_indices(dim)
        yield pd.DataFrame(
            {
                "i": (iu[0] + 1).astype("int32"),
                "j": (iu[1] + 1).astype("int32"),
                "s_ij": acc[iu],
            }
        )

    partials = emb.select(vec_col).mapInPandas(run, "i int, j int, s_ij long")
    return partials.groupBy("i", "j").agg(F.sum("s_ij").alias("s_ij"))


# -- product quantization (PQ/ADC) -----------------------------------------

def pq_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codewords: int = 16,
) -> DataFrame:
    """One-row PQ codebook: the ``n_codewords`` vectors with the
    lowest md5 of id (the :func:`_ivf_centroids` deterministic
    sample; production would k-means per subspace, the plan shape is
    identical), ordered by that key into an array<array<float>> —
    tiny (K×dim floats), broadcast everywhere it's used."""
    return (
        emb.select(
            F.expr(f"md5(cast({id_col} as string))").alias("ck"),
            F.col(vec_col).alias("c_emb"),
        )
        .orderBy("ck")
        .limit(n_codewords)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ck, c_emb))),"
                " s -> s.c_emb)"
            ).alias("cb")
        )
    )


def knn_pq(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_sub: int = 8,
    n_codewords: int = 16,
    oversample: int = 4,
    coded: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine via product quantization + exact rerank.

    Encoding is ONE row-local map pass: each vector meets the
    broadcast codebook and folds to ``n_sub`` small codes
    (dim·K fixed-point ops/row, no shuffle) — at rest the codes are
    M bytes/vector vs 4·dim float32, a 32× scan-byte reduction at
    100 TB. That pass is the numpy kernel :func:`pq_codes_arrow`
    (~6× faster than the interpreted SQL fold ``pq_encode_expr``, to
    which it is bit-identical; the SQL expression stays the spec the
    tests check it against). Queries precompute M×K ADC lookup tables
    once; scoring a vector is then M integer lookups instead of dim
    multiplies. The top ``oversample·k`` ADC shortlist per query is
    reranked with the exact fixed-point cosine (the :func:`knn_int8`
    split: quantization can only cost recall, never within-k order).
    Every stage is integer-deterministic, so unlike the LSH/int8
    tripwires the DuckDB oracle rebuilds codes, tables, shortlist, and
    rerank bit-for-bit.

    ``coded`` / ``codebook``: pre-computed (neighbor_id, codes) table
    and 1-row codebook for the SAME (emb, dim, n_sub, n_codewords) —
    the materialized-index serving shape
    (:mod:`locopy_spark.operators.ann_index`): the data-sized encode
    pass and the codebook sample scan are paid at index-build time.
    """
    from locopy_spark.functions.vectors import pq_adc_expr, pq_qtab_expr

    # materialize the one-row codebook (K×dim floats — a bounded
    # collect like the k-means centroid rows) so the coded and qtab
    # branches don't each re-run the sample scan
    cb_df = (
        codebook
        if codebook is not None
        else pq_codebook(emb, id_col, vec_col, n_codewords)
    )
    cb_rows = cb_df.collect()
    cb = emb.sparkSession.createDataFrame(cb_rows, schema=cb_df.schema)
    if coded is None:
        coded = pq_codes_arrow(
            emb,
            [list(v) for v in cb_rows[0].cb],
            id_col,
            vec_col,
            dim,
            n_sub,
            n_codewords,
        ).withColumnRenamed(id_col, "neighbor_id")
    coded = coded.select("neighbor_id", "codes")
    q = emb
    if query_ids is not None:
        q = q.filter(F.col(id_col).isin(query_ids))
    qtab = q.crossJoin(F.broadcast(cb)).select(
        F.col(id_col).alias("query_id"),
        F.expr(pq_qtab_expr(vec_col, "cb", dim, n_sub, n_codewords)).alias(
            "qtab"
        ),
    )
    approx = (
        coded.crossJoin(F.broadcast(qtab))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc", F.expr(pq_adc_expr("qtab", "codes", n_sub)))
    )
    ws = W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    shortlist = (
        approx.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    normed = with_fixed_norm(emb, vec_col)
    base = normed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_emb"),
        F.col("norm_fix").alias("n_norm"),
    )
    qn = normed.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.col("norm_fix").alias("q_norm"),
    )
    if query_ids is not None:
        qn = qn.filter(F.col("query_id").isin(query_ids))
    scored = (
        shortlist.join(F.broadcast(qn), "query_id")
        .join(base, "neighbor_id")
        .withColumn("dot_fix", F.expr(fixed_dot_expr("q_emb", "n_emb")))
        .withColumn(
            "cosine", F.expr(cosine_from_fixed("dot_fix", "q_norm", "n_norm"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def pq_codes_arrow(
    emb: DataFrame,
    codebook: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codewords: int = 16,
    out_col: str = "codes",
) -> DataFrame:
    """Arrow-batched twin of ``pq_encode_expr``: identical integers.

    The SQL fold evaluates n_sub·K·sub_dim interpreted lambda calls
    per row (2048 at 16×32×4 — it dominates the whole PQ pass); here
    each Arrow batch does the same math as numpy float64 array ops.
    BIT-IDENTICAL, not merely recall-neutral like the LSH matmul:
    every step — float32→float64 upcast, subtract, square, ×1e12,
    +0.5, floor→int64, int64 sum, argmin via min(dist·K+j) — is the
    exact same IEEE/integer operation sequence as the Spark
    expression and the DuckDB oracle, so codes (and everything
    downstream) match the spec expression element-for-element
    (asserted in tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd

    from locopy_spark.functions.vectors import FIXED_SCALE

    sub = dim // n_sub
    cbm = np.asarray(codebook, dtype=np.float64).reshape(
        n_codewords, n_sub, sub
    )
    jkey = np.arange(n_codewords, dtype=np.int64)[None, :]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vr = v.reshape(len(pdf), n_sub, sub)
            codes = np.empty((len(pdf), n_sub), dtype=np.int32)
            for m in range(n_sub):
                d = vr[:, None, m, :] - cbm[None, :, m, :]  # (n, K, sub)
                terms = np.floor(d * d * FIXED_SCALE + 0.5).astype(np.int64)
                dist = terms.sum(axis=2)  # (n, K)
                codes[:, m] = (dist * n_codewords + jkey).min(axis=1) % (
                    n_codewords
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: list(codes)}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, {out_col} array<int>"
    )
