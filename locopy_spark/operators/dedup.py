"""Document deduplication operators — exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design: the only all-pairs computation allowed is *within LSH
candidate buckets*. Exact n-gram Jaccard (the oracle baseline) joins on
shingle equality — fine at verification SF, superseded by
``minhash_lsh_pairs`` at 100 TB where band-bucket equi-joins bound the
candidate set. All hashing is ``md5(string)`` so the DuckDB oracle can
reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locopy_spark.functions.text import shingles_expr, tokens_expr
from locopy_spark.functions.cache import managed_persist
from locopy_spark.functions.parallel import ensure_map_parallelism

DEFAULT_NHASH = 16
DEFAULT_BANDS = 4  # 16 sigs = 4 bands × 4 rows → s-curve threshold ≈ 0.7


def normalized_text_expr(text_col: str = "text") -> str:
    """Normalization used for exact dedup: lower, trim, collapse runs
    of whitespace."""
    return f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the smallest id.

    One shuffle on the 128-bit hash — uniform keys, no skew, scales
    linearly.
    """
    h = F.expr(f"md5({normalized_text_expr(text_col)})")
    return (
        docs.select(F.col(id_col), h.alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct k-word shingles per document: (doc_id, sh).

    The tokenize + shingle explode and the distinct's map-side partial
    aggregation are the heavy part; the parallelism guard keeps them
    off a single input split (see functions.parallel)."""
    docs = ensure_map_parallelism(docs)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.expr(tokens_expr(text_col)).alias("toks"),
        )
        .select("doc_id", F.explode(F.expr(shingles_expr("toks", k))).alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle-equality join.

    The join key is the shingle itself; a shingle shared by d docs
    produces d² candidate rows — acceptable at verification scale, and
    the reason the LSH variant exists for production scale.
    """
    sh = managed_persist(shingle_sets(docs, id_col, text_col, k), "ngram_jaccard")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.expr("CAST(common AS DOUBLE) / (na + nb - common)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Broder-containment pairs: ``common / min(|A|, |B|)`` —
    the asymmetric near-dup metric that catches a short document
    embedded inside a long one, which Jaccard dilutes below any usable
    threshold (|A∩B|/|A∪B| → |A|/|B| for full inclusion).

    Same shingle-equality join shape as ``ngram_jaccard_pairs``: the
    join key is the shingle, so candidates are bucketed, never
    all-pairs; a shingle shared by d docs still costs d² rows, so hot
    shingles (boilerplate) dominate — at production scale pre-drop
    shingles above a df ceiling (they can't certify containment of
    anything specific) or use the sampled-fingerprint
    ``d_span_overlap`` path for long-span inclusion.
    """
    sh = managed_persist(
        shingle_sets(docs, id_col, text_col, k), "containment"
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "containment",
            F.expr("CAST(common AS DOUBLE) / LEAST(na, nb)"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "common", "na", "nb", "containment")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = DEFAULT_NHASH,
    spread: bool = True,
) -> DataFrame:
    """MinHash signature per doc: m_i = MIN(32-bit hash_i(shingle)).

    The ``n_hashes`` independent hash values per shingle are 8-hex-char
    slices of ceil(n/4) concatenated md5 digests — 4× fewer digest
    computations than one md5 per position, and still bit-identical in
    any engine with md5 (lexicographic MIN on fixed-width lowercase hex
    == numeric min). MIN is duplicate-insensitive, so shingles are not
    deduplicated first.

    Entirely ROW-LOCAL: the per-shingle digests and the 16 minima are
    higher-order array functions inside one whole-stage-codegen
    projection — no explode, no aggregate, no shuffle of the shingle
    stream (the explode formulation pushed 1.5 M (doc_id, digest) rows
    through a 16-way min hash aggregate; outputs are bit-identical).
    Because ALL the md5 work now happens in the map, the input's
    partition count caps parallelism — a small corpus read from one
    parquet file would hash single-threaded — so inputs with fewer
    partitions than the session's parallelism are repartitioned first
    (3 MB shuffle vs 6× wall: A/B at sf0.1 cold, 6.3 s → 1.1 s to
    materialize the signature table; at 100 TB the input has far more
    partitions than cores and the guard is a no-op; ``spread=False``
    skips it — right for per-micro-batch streaming callers where the
    batch is tiny and the repartition would cost more than it saves).
    Docs with fewer than ``k`` tokens have no shingles and are
    dropped, matching the explode path's semantics. CONTRACT:
    ``id_col`` must be unique — one signature row per input row (the
    old explode+groupBy formulation silently merged duplicate ids
    into one union signature; no caller relied on that).
    """
    if spread:
        docs = ensure_map_parallelism(docs)
    n_md5 = (n_hashes + 3) // 4  # 4 × 32-bit slices per 128-bit digest
    hb = "concat(" + ", ".join(f"md5('{d}:' || s)" for d in range(n_md5)) + ")"
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.expr(tokens_expr(text_col)).alias("toks"),
        )
        .filter(F.expr(f"size(toks) >= {k}"))
        .select(
            "doc_id",
            F.expr(f"transform({shingles_expr('toks', k)}, s -> {hb})").alias(
                "hbs"
            ),
        )
    )
    # One fold over the digest array keeps all n_hashes minima at once
    # (r11, guide §1.2 per-task work): the per-position form re-walked
    # hbs n_hashes times through transform+array_min allocations —
    # A/B 1.23 s -> 0.57 s noop at sf0.1, bit-identical ('z' > any hex
    # char, so the init row loses every least() against a real slice;
    # the size filter above guarantees hbs is non-empty).
    init = "array(" + ", ".join(["'zzzzzzzz'"] * n_hashes) + ")"
    upd = (
        f"zip_with(acc, transform(sequence(0, {n_hashes - 1}),"
        " i -> substring(h, i * 8 + 1, 8)),"
        " (a, b) -> least(a, b))"
    )
    folded = base.select(
        "doc_id",
        F.expr(f"aggregate(hbs, {init}, (acc, h) -> {upd})").alias("ms"),
    )
    cols = [
        F.expr(f"element_at(ms, {i + 1})").alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return folded.select("doc_id", *cols)


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = DEFAULT_NHASH,
    bands: int = DEFAULT_BANDS,
    spread: bool = True,
) -> DataFrame:
    """(doc_id, band, bh) posting rows — the banded-LSH key table that
    both the pair join (:func:`minhash_lsh_pairs`) and the arrival
    dedup (queries.docs.d_incr_dedup, streaming.stateful
    stream_near_dedup) bucket on. No persist here: callers own the
    reuse decision. ``spread=False`` skips the map-parallelism guard
    (streaming micro-batches)."""
    sig = minhash_signatures(docs, id_col, text_col, k, n_hashes, spread=spread)
    return _band_keys(sig, n_hashes, bands)


def _band_keys(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bh) rows of a :func:`minhash_signatures` frame:
    band b's key is the md5 of its ``n_hashes // bands`` minima."""
    rows = n_hashes // bands
    band_cols = [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(f"m{b * rows + j}" for j in range(rows))
            + "))"
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    return (
        sig.select("doc_id", *band_cols)
        .select(
            "doc_id",
            F.posexplode(F.array(*[F.col(f"b{b}") for b in range(bands)])),
        )
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bh")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = DEFAULT_NHASH,
    bands: int = DEFAULT_BANDS,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    Candidates come ONLY from band-hash bucket collisions (equi-join on
    (band, band_hash) — one shuffle, no all-pairs). Estimated Jaccard =
    fraction of agreeing signature positions; filtered at
    ``est_threshold``.
    """
    # the signature table feeds four plan subtrees (band self-join sides
    # + both est joins). Materialize it once: A/B at sf0.1 shows 4×
    # (4.6s → 1.15s) — ReusedExchange does NOT collapse the est-join
    # broadcast subtrees. At 100 TB the signature table is
    # n_docs × n_hashes × 8 B (≪ input text); MEMORY_AND_DISK spills
    # safely if not.
    sig = managed_persist(
        minhash_signatures(docs, id_col, text_col, k, n_hashes), "minhash_lsh"
    )
    banded = _band_keys(sig, n_hashes, bands)
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    agree = " + ".join(f"cast(a{i} = b{i} as int)" for i in range(n_hashes))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.expr(f"({agree}) / cast({float(n_hashes)} as double)"))
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


SIMHASH_BITS = 32
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash per doc from token md5 hex-digit parities.

    Bit j of a token's contribution is the parity of hex digit j of
    md5(token) — a pseudorandom bit family identical in every engine.
    The per-doc bit is the sign of the vote sum over all token
    occurrences.
    """
    odd = ", ".join(f"'{c}'" for c in _ODD_HEX)
    # pre-aggregate occurrence counts per (doc, token): md5 + 32 digit
    # probes then run once per DISTINCT token instead of per occurrence
    # (votes weighted by count — bit-identical integer result). This
    # explode+hash-aggregate shape beats an in-row higher-order-function
    # fold ~3× in A/B: HOF lambdas are interpreted, hash aggregation is
    # whole-stage-codegen'd.
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.expr(tokens_expr(text_col)).alias("toks")
        )
        .select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("m", F.expr("md5(tok)"))
    )
    votes = [
        F.sum(
            F.expr(
                f"CASE WHEN substring(m, {j + 1}, 1) IN ({odd}) THEN cnt ELSE -cnt END"
            )
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(SIMHASH_BITS)
    )
    return (
        toks.groupBy("doc_id")
        .agg(*votes)
        .withColumn("simhash", F.expr(bits))
        .select("doc_id", "simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation buckets on each of the 4 hash bytes (pigeonhole:
    hamming ≤ 4 pairs almost always share a byte; exact recall for
    hamming ≤ 3 with 4 blocks) — equi-join, never all-pairs.
    """
    # persisted (r11): both sides of the byte-bucket self-join read the
    # hash table — un-persisted, the token-explode + 32-vote aggregate
    # ran TWICE (once per join side)
    h = managed_persist(simhash(docs, id_col, text_col), "simhash")
    bucketed = h.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright(simhash, {8 * b}) & 255")
                    for b in range(4)
                ]
            )
        ),
    ).withColumnRenamed("pos", "byte_idx").withColumnRenamed("col", "byte_val")
    x, y = bucketed.alias("x"), bucketed.alias("y")
    return (
        x.join(
            y,
            (F.col("x.byte_idx") == F.col("y.byte_idx"))
            & (F.col("x.byte_val") == F.col("y.byte_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.expr("cast(bit_count(x.simhash ^ y.simhash) as int)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-similar pairs via PREFIX FILTERING (PPJoin-style)
    — the production-scale exact path next to ``ngram_jaccard_pairs``'
    all-postings verification join and the approximate MinHash route.

    Prefix-filter theorem: order every doc's shingles by a GLOBAL key
    (document frequency asc, shingle — rarest first); if J(A,B) ≥ t,
    A and B must share at least one shingle within each one's first
    ⌊(1-t)·n⌋+1 shingles of that order. Candidate generation
    equi-joins only those short, rare-first prefixes — postings for
    boilerplate (high-df) shingles sit at the END of the order and
    mostly never enter the join, which is what kills the d²
    hot-shingle blowup of the naive join at corpus scale. An integer
    length filter (t·max(n) ≤ min(n)) prunes before verification.

    Plan shape: df and per-doc size come from WINDOW counts (one
    postings shuffle by shingle, one by doc — no side tables, no
    joins), sizes ride along with the candidate pairs, and the exact
    intersection count runs as two keyed joins over the persisted
    postings (AQE broadcasts the candidate side when small). All
    threshold comparisons are integer (t as ‰), so the emitted pair
    set is deterministic on any engine — the oracle is the
    straightforward all-pairs exact join, and a green row PROVES the
    filter emitted exactly the true pair set.
    """
    from pyspark.sql.window import Window as W

    t_milli = round(threshold * 1000)
    sh = managed_persist(
        shingle_sets(docs, id_col, text_col, k), "prefix_join"
    )
    w_sh = W.partitionBy("sh")
    w_doc = W.partitionBy("doc_id")
    w_rank = W.partitionBy("doc_id").orderBy("df", "sh")
    # persisted (r11): both candidate-join sides read the prefix table
    # — un-persisted, the two window shuffles (df by shingle, size+rank
    # by doc) ran twice, once per side
    prefix = managed_persist(
        sh.withColumn("df", F.count(F.lit(1)).over(w_sh))
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.expr(f"rn <= floor(({1000 - t_milli}) * n / 1000) + 1"))
        .select("doc_id", "sh", "n"),
        "prefix_join",
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # length filter: J ≥ t needs t·max(|A|,|B|) ≤ min(|A|,|B|)
        .filter(
            F.expr(
                f"{t_milli} * greatest(a.n, b.n)"
                " <= 1000 * least(a.n, b.n)"
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    common = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.filter(
            F.expr(f"{t_milli} * (na + nb - common) <= 1000 * common")
        )
        .withColumn(
            "jaccard", F.expr("CAST(common AS DOUBLE) / (na + nb - common)")
        )
        .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
    )
