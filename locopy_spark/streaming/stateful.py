"""Custom stateful streaming operators.

Most twins here maintain a MONOID state: each micro-batch reduces to a
partial state (the per-operator ``queries.*`` state function), and the
merge re-aggregates the union of that partial with the running state.
One combinator does this for all of them:

- :func:`monoid_merge` is the pure merge. The state columns the
  ``merge`` spec does not name are the group keys; each named column
  merges with ``'sum'``, ``'min'``, ``'max'`` or ``'first'`` (or a
  callable building the aggregate from the column name). An empty spec
  is set union (``distinct``); a callable spec maps the unioned frame
  to the merged one (top-K).
- ``_stream_monoid`` runs that merge per micro-batch against a
  ``global_temp`` state view (global, because ``foreachBatch`` runs in
  a cloned session whose plain temp views are invisible), cutting the
  lineage with ``localCheckpoint``. Each public ``stream_*`` twin is a
  thin wrapper naming its partial function, state schema and spec.

View ownership: every query here starts through one helper that names
the query after the views it writes. Starting a query on a view that
an active query of the same session already owns raises ``ValueError``
before the view is touched, so a second start can neither wipe a live
query's state nor interleave two writers on one view. A stopped
query's view can be reused; the restart resets it.

``stream_user_totals`` is the pattern for operators Spark's built-in
windowed aggregations can't express: arbitrary per-key state carried
across micro-batches via ``applyInPandasWithState`` (Arrow-batched —
the grouped rows arrive as pandas frames, state is a tuple, output is
emitted per batch). State size is O(keys), bounded; at 100 TB the
grouping key shuffles once per micro-batch and state lives in the
state store (RocksDB in production).

``stream_dedup`` is exactly-once event dedup: state-store-backed
``dropDuplicates`` on the event id, watermark-bounded so state ages
out instead of growing forever.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_AGGS = {"sum": F.sum, "min": F.min, "max": F.max, "first": F.first}


def monoid_merge(state: DataFrame, part: DataFrame, merge) -> DataFrame:
    """Merge a batch's partial state into the running state: union,
    then re-aggregate by the state columns ``merge`` does not name.

    ``merge`` maps each merged column to ``'sum'``, ``'min'``,
    ``'max'``, ``'first'`` (keep-any, for values that are a function
    of the key) or a callable ``column name -> aggregate Column``. An
    empty ``merge`` is set union; a callable ``merge`` receives the
    union and returns the merged frame. The result keeps the state's
    column order."""
    both = state.unionByName(part)
    if callable(merge):
        return merge(both)
    if not merge:
        return both.distinct()
    keys = [c for c in state.columns if c not in merge]
    aggs = [
        (_AGGS[fn](c) if isinstance(fn, str) else fn(c)).alias(c)
        for c, fn in merge.items()
    ]
    return both.groupBy(*keys).agg(*aggs).select(*state.columns)


def _start(df: DataFrame, step, views: dict, mode: str = "append"):
    """Start ``step`` as the ``foreachBatch`` query that owns ``views``
    ({global_temp view: initial DataFrame, or None for a view the step
    publishes itself}). Refuses, before publishing anything, a view an
    active query of this session already owns."""
    active = {
        v
        for q in df.sparkSession.streams.active
        for v in (q.name or "").split(",")
    }
    taken = sorted(set(views) & active)
    if taken:
        raise ValueError(
            f"global_temp view {', '.join(taken)} is owned by an active "
            "streaming query; stop it first or choose another view name"
        )
    for view, init in views.items():
        if init is not None:
            init.createOrReplaceGlobalTempView(view)
    return (
        df.writeStream.outputMode(mode)
        .foreachBatch(step)
        .queryName(",".join(views))
        .start()
    )


def _stream_monoid(
    df: DataFrame,
    partial_fn: Callable[[DataFrame], DataFrame],
    schema: str,
    merge,
    view: str,
    init=(),
):
    """Maintain ``global_temp.<view>`` (DDL ``schema``, seeded with the
    ``init`` rows) as the :func:`monoid_merge` of every micro-batch's
    ``partial_fn`` output. Returns the started query."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state = batch_df.sparkSession.table(f"global_temp.{view}")
        merged = monoid_merge(state, partial_fn(batch_df), merge)
        merged.localCheckpoint().createOrReplaceGlobalTempView(view)

    seed = df.sparkSession.createDataFrame(list(init), schema)
    return _start(df, step, {view: seed})


def _sums(cols: list[str]) -> tuple[str, dict]:
    """(schema, spec) of a keyless all-sum state from ``name type``
    column declarations."""
    return ", ".join(cols), dict.fromkeys((c.split()[0] for c in cols), "sum")


# Merge specs shared by several twins or pinned by property tests.
LEVENE_GRID_SPEC = (
    "o_orderpriority string, v bigint, cnt bigint",
    {"cnt": "sum"},
)
NDR_SPEC = ("o_custkey long, yr int, rev_c bigint", {"rev_c": "sum"})
ANN_POSTINGS_SPEC = (
    "vec_id long, table int, bucket long",
    {"bucket": "first"},
)
ANN_LISTS_SPEC = (
    "centroid_id long, n_id long, n_emb array<float>, n_norm bigint",
    {"centroid_id": "first", "n_emb": "first", "n_norm": "first"},
)


def first_touch_spec() -> tuple[str, dict]:
    """Per-user first-touch MIN state of stream_shapley/stream_cochran_q."""
    from locopy_spark.queries.events_ext import SHAPLEY_CHANNELS

    mins = ["conv_us"] + [f"t{i}_us" for i in range(len(SHAPLEY_CHANNELS))]
    schema = "user_id long, " + ", ".join(f"{c} bigint" for c in mins)
    return schema, dict.fromkeys(mins, "min")


def welch_spec() -> tuple[str, dict]:
    """One-row all-sum state of stream_welch."""
    from locopy_spark.queries.stats import ANOVA_GROUPS

    cols = ["n bigint"]
    for i in range(1, len(ANOVA_GROUPS) + 1):
        cols += [f"n{i} bigint", f"s{i} decimal(38,0)", f"sq{i} decimal(38,0)"]
    return _sums(cols)


USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_fix", T.LongType()),  # scaled 1e3 exact
    ]
)

USER_TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s_fix", T.LongType()),
    ]
)


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import math

    n, s_fix = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # exact scaled-int sum — associative, replay-safe
        s_fix += int(
            sum(math.floor(v * 1000 + 0.5) for v in pdf["value"].tolist())
        )
    state.update((n, s_fix))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value_fix": [s_fix]}
    )


def stream_user_totals(events: DataFrame) -> DataFrame:
    """Running per-user (count, exact sum) across micro-batches."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=USER_TOTALS_SCHEMA,
            stateStructType=USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_enrich(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (broadcast) static dimension — the streaming COPY-enrich-land
    pattern. No state: the dim is re-resolved per batch, so slowly
    refreshing it (a view over a managed table) is safe."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, "left")


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once dedup on event_id, state bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_near_dedup(
    docs: DataFrame,
    out_view: str = "near_dedup_out",
    state_view: str = "band_owner_state",
    k: int = 3,
):
    """Streaming NEAR-dup filter: first-seen MinHash-LSH band wins.

    ``stream_dedup`` drops exact id replays; this drops near-duplicate
    TEXT as it lands — each micro-batch's band keys merge into a
    band→owner state (owner = smallest doc_id seen so far), and a doc
    is flagged duplicate when any of its bands is owned by an earlier
    doc. With in-order arrival this equals the batch
    ``queries.docs.d_incr_dedup`` exactly (the test asserts it); under
    out-of-order arrival the result is arrival-consistent, which is
    the honest streaming semantics. State is |distinct band keys| —
    bounded by corpus vocabulary, not stream length; in production it
    lives in a keyed table with TTL rather than a global temp view.
    Returns the started query; read ``global_temp.<out_view>``.
    """
    from locopy_spark.operators.dedup import minhash_bands

    spark = docs.sparkSession

    def step(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        # spread=False: a micro-batch is delta-sized, and the guard's
        # per-batch .rdd plan build + repartition would cost more than
        # the single-split map it avoids
        bands = minhash_bands(batch_df, k=k, spread=False).localCheckpoint()
        state = s.table(f"global_temp.{state_view}")
        merged = (
            bands.groupBy("band", "bh")
            .agg(F.min("doc_id").alias("owner"))
            .unionByName(state)
            .groupBy("band", "bh")
            .agg(F.min("owner").alias("owner"))
            .localCheckpoint()
        )
        flag = (
            bands.join(merged, ["band", "bh"])
            .groupBy("doc_id")
            .agg(
                F.max((F.col("owner") < F.col("doc_id")).cast("int")).alias(
                    "_dup"
                )
            )
        )
        out_batch = (
            batch_df.select("doc_id")
            .join(flag, "doc_id", "left")
            .select(
                "doc_id",
                (F.coalesce(F.col("_dup"), F.lit(0)) == 1).alias("is_dup"),
            )
        )
        out = (
            s.table(f"global_temp.{out_view}")
            .unionByName(out_batch)
            .localCheckpoint()
        )
        out.createOrReplaceGlobalTempView(out_view)
        merged.createOrReplaceGlobalTempView(state_view)

    return _start(
        docs,
        step,
        {
            state_view: spark.createDataFrame(
                [], "band int, bh string, owner long"
            ),
            out_view: spark.createDataFrame([], "doc_id long, is_dup boolean"),
        },
    )


def stream_asof_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    out_view: str = "asof_enrich_out",
    tiebreak: str | None = None,
):
    """Temporal dimension lookup on a stream: each micro-batch is
    as-of joined (backward) against the static dimension, attaching
    the dimension row current AT each event's time — the streaming
    form of ``operators.asof.asof_join`` (a plain stream-static
    equi-join would attach the LATEST row, silently time-traveling
    late events).

    The join is stateless per event (the right side is a static
    snapshot), so ``foreachBatch`` applies the batch operator verbatim
    and appends results to a global temp view (plain temp views are
    invisible across foreachBatch's cloned session;
    ``localCheckpoint`` caps the union lineage). In production the
    sink is a real table append. Returns the started query; read
    ``global_temp.<out_view>`` after stopping.
    """
    from locopy_spark.operators.asof import asof_join

    holder = {"first": True}

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        joined = asof_join(
            batch_df,
            dim,
            on=on,
            left_time=left_time,
            right_time=right_time,
            value_cols=value_cols,
            tiebreak=tiebreak,
        ).localCheckpoint()
        if holder["first"]:
            holder["first"] = False
            out = joined
        else:
            s = batch_df.sparkSession
            out = s.table(f"global_temp.{out_view}").unionByName(joined)
        out.createOrReplaceGlobalTempView(out_view)

    return _start(events, enrich, {out_view: None})


def stream_cdc_apply(
    changes: DataFrame,
    snapshot: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
    state_view: str = "cdc_state",
):
    """Continuously-applied CDC: replay a streaming I/U/D changelog
    onto a snapshot — the streaming twin of
    :func:`operators.merge.cdc_apply` (test asserts stream state ==
    batch replay of the same log).

    Each micro-batch reduces to its latest change per key (one window
    over the BATCH, which is delta-sized), discards changes stale
    versus the state's applied sequence (so out-of-order batches
    cannot regress a key), then merges: anti-join keeps untouched
    state rows, 'D' TOMBSTONES the key (payload nulled, ``__deleted``
    true, ``__seq`` retained — dropping the row entirely would forget
    the applied sequence and let a later-arriving STALE pre-delete
    change resurrect the key), 'I'/'U' replaces-or-inserts. The
    snapshot-sized side is only ever touched by the broadcast anti
    join — per batch the work is O(delta), never O(snapshot), which is
    what lets a 100 TB dimension follow a Kafka changelog in
    production (there, the merge lands as a transactional MERGE INTO
    on Delta/Iceberg, with the same tombstone-retention need; a
    periodic sweep can expire tombstones older than the maximum
    out-of-order horizon). Returns the started query; read
    ``global_temp.<state_view>`` filtered to ``NOT __deleted`` for the
    live rows (payload columns + ``__seq`` + ``__deleted``).
    """
    from pyspark.sql import Window

    cols = snapshot.columns
    base = snapshot.select(
        "*",
        F.lit(0).cast("long").alias("__seq"),
        F.lit(False).alias("__deleted"),
    ).localCheckpoint()

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        state = s.table(f"global_temp.{state_view}")
        w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # applied seqs for JUST this batch's keys: the state is probed
        # with a broadcast semi join (delta keys), never broadcast or
        # shuffled itself — per-batch state work stays O(delta) scans
        seqs = state.select(key, "__seq").join(
            F.broadcast(latest.select(key)), key, "left_semi"
        )
        fresh = (
            latest.join(F.broadcast(seqs), key, "left")
            .filter(
                F.col("__seq").isNull() | (F.col(seq_col) > F.col("__seq"))
            )
            .drop("__seq")
            .localCheckpoint()
        )
        kept = state.join(
            F.broadcast(fresh.select(key)), key, "left_anti"
        )
        payload = [c for c in cols if c != key]
        types = dict(snapshot.dtypes)
        upserts = fresh.select(
            key,
            *[
                F.when(
                    F.col(op_col) != "D", F.col(c)
                ).otherwise(F.lit(None).cast(types[c])).alias(c)
                for c in payload
            ],
            F.col(seq_col).cast("long").alias("__seq"),
            (F.col(op_col) == "D").alias("__deleted"),
        ).select(*cols, "__seq", "__deleted")
        merged = kept.unionByName(upserts).localCheckpoint()
        merged.createOrReplaceGlobalTempView(state_view)

    return _start(changes, step, {state_view: base})


def stream_topk(
    docs: DataFrame, score_col, k: int = 50, state_view: str = "topk_state"
):
    """Continuously-maintained global top-K: keep the K highest-scoring
    documents seen so far on the stream.

    Per micro-batch: the batch reduces to ITS top-K first
    (TakeOrderedAndProject — per-partition heads, no batch sort), then
    merges with the K-row state and trims back to K. State and
    per-batch shuffle are both O(K) regardless of stream volume; the
    deterministic (score desc, doc_id) tiebreak makes the maintained
    state order-insensitive, so it equals the batch top-K over the
    same data (the test asserts it). Returns the started query; read
    ``global_temp.<state_view>`` after stopping.
    """
    def top(df: DataFrame) -> DataFrame:
        return df.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)

    return _stream_monoid(
        docs, lambda b: top(b.select("doc_id", score_col.alias("score"))),
        "doc_id long, score double", top, state_view,
    )


def stream_profile(docs: DataFrame, state_view: str = "profile_state"):
    """Continuously-maintained data profile of a document stream:
    row/null counts and doc_id / n_chars min-max, merged additively
    across micro-batches.

    Every metric is a commutative monoid (sum, min, max), so each
    batch contributes ONE pre-aggregated row and the merge is a 2-row
    aggregate — the mergeable half of ``queries.stats
    .q_profile_tables`` (exact distinct is deliberately absent: it
    does not merge; production uses an HLL sketch column here). State
    is one row forever; the test checks the streamed profile equals
    the batch aggregate over the same data.
    """
    return _stream_monoid(
        docs,
        lambda b: b.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("COUNT(*) - COUNT(text)").alias("n_null_text"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        ),
        "n_rows long, n_null_text long, min_doc_id long, max_doc_id long,"
        " min_chars long, max_chars long",
        {
            "n_rows": "sum", "n_null_text": "sum", "min_doc_id": "min",
            "max_doc_id": "max", "min_chars": "min", "max_chars": "max",
        },
        state_view,
    )


ANOM_WIN_DAYS = 28
ANOM_MIN_N = 5

_ANOM_Z = (
    "(CAST(x_fix AS DOUBLE) - CAST(s1 AS DOUBLE) / n)"
    " / sqrt((n * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * (n - 1)))"
)


def score_daily_anomalies(daily: DataFrame) -> DataFrame:
    """Score a daily series ``(day, x_fix)`` against its trailing
    {ANOM_WIN_DAYS}-day window — the z-formula of
    ``queries.mining.q_anomaly_days`` (offset RANGE frame, exact
    integer power sums, double z). Shared by the streaming state view
    and the batch twin so the comparison tests series maintenance,
    not two copies of the scorer."""
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rangeBetween(-ANOM_WIN_DAYS, -1)
    win = daily.select(
        "day",
        "x_fix",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.expr("CAST(x_fix AS DECIMAL(38,0))")).over(w).alias("s1"),
        F.sum(F.expr("CAST(x_fix AS DECIMAL(38,0)) * x_fix")).over(w).alias(
            "s2"
        ),
    )
    return (
        win.filter(F.col("n") >= ANOM_MIN_N)
        .select("day", "x_fix", "n", F.expr(_ANOM_Z).alias("z"))
        .withColumn("is_anomaly", F.expr("abs(z) > 2.0"))
    )


def stream_daily_anomaly(
    events: DataFrame, state_view: str = "daily_anomaly_state"
):
    """Incrementally-maintained daily value series for anomaly
    scoring: each micro-batch contributes per-day exact scaled sums
    (value × 1e3 floor-rounded — the repo's portable money idiom),
    merged ADDITIVELY into the state view, so arrival order and
    batch boundaries cannot change the series. State is O(days);
    late events simply add to their day's sum (no watermark needed —
    the merge is commutative). Scoring is
    :func:`score_daily_anomalies` over the state table — a bounded
    window over thousands of rows, run on demand rather than per
    batch (the series is the expensive part at 100 TB, not the
    scan-free scoring pass).
    """
    from locopy_spark.functions.numeric import sql_epoch_day

    # type-robust epoch day: the stream source may deliver TIMESTAMP
    # or TIMESTAMP_NTZ (Spark 4 reads plain parquet µs as NTZ, where
    # bare unix_micros() fails analysis); sql_epoch_day floors toward
    # -inf so pre-1970 rows don't collapse into a wide day-0 bin
    def daily(b: DataFrame) -> DataFrame:
        return b.select(
            F.expr(sql_epoch_day(b, "ts")).alias("day"),
            F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("x_fix"),
        ).groupBy("day").agg(F.sum("x_fix").alias("x_fix"))

    return _stream_monoid(
        events, daily, "day long, x_fix long", {"x_fix": "sum"}, state_view
    )


def stream_kmv_sketch(
    docs: DataFrame, k: int = 64, shingle_k: int = 3,
    state_view: str = "kmv_state",
):
    """Continuously-maintained per-source KMV shingle sketches — the
    streaming feed for the ``d_kmv_overlap`` source-overlap matrix.

    KMV merge (k smallest of the union) is commutative, associative
    AND idempotent, so the maintained sketch equals the batch
    ``operators.sketches.kmv_sketch`` over the same documents on ANY
    batching, arrival order, or replay (the test asserts array
    equality) — no watermark needed. Per batch the work is delta-sized
    (each micro-batch reduces to ≤ k hashes per source before touching
    state); state is O(sources × k) forever. For bulk backfill batches
    the bounded-admission batch operator applies verbatim inside
    ``foreachBatch``; overlap estimates come from
    ``operators.sketches.kmv_jaccard_matrix`` over the state view, on
    demand.
    """
    from locopy_spark.functions.text import shingles_expr, tokens_expr

    def sketch(b: DataFrame) -> DataFrame:
        shingles = F.explode(F.expr(shingles_expr("toks", shingle_k)))
        return (
            b.select("source", F.expr(tokens_expr("text")).alias("toks"))
            .select("source", shingles.alias("sh"))
            .select("source", F.md5("sh").alias("h"))
            .groupBy("source")
            .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("kmv"))
        )

    def k_smallest(c: str):
        union = F.array_distinct(F.flatten(F.collect_list(c)))
        return F.slice(F.array_sort(union), 1, k)

    return _stream_monoid(
        docs, sketch, "source string, kmv array<string>", {"kmv": k_smallest},
        state_view,
    )


QH_BIN_W_FIX = 500  # bin width 0.5 in the ×1e3 fixed-point domain
QH_PCTS = (0.5, 0.9, 0.99)


def binned_counts(events: DataFrame) -> DataFrame:
    """Per-bin exact counts of ``value`` — bin = floor(value_fix / W)
    on the repo's ×1e3 fixed-point rounding, so the binning itself is
    engine-portable and merge-exact. Shared by the streaming state and
    the batch twin."""
    return (
        events.select(
            # floor division, NOT `div`: `div` truncates toward zero, so
            # negative values would get a double-width bin 0 and break
            # the one-bin-width error bound
            F.expr(
                f"cast(floor(floor(value * 1000 + 0.5)"
                f" / {QH_BIN_W_FIX}) as bigint)"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantiles(bins: DataFrame) -> DataFrame:
    """Quantiles from a (bin, n) histogram: for each p, the upper edge
    of the first bin whose cumulative count reaches ceil(p × N). The
    histogram is O(domain/width) rows, so the cumulative window is a
    driver-trivial sort; the answer is exact to one bin width — a
    DETERMINISTIC error bound, unlike percentile_approx's sketch."""
    from pyspark.sql.window import Window as W

    cum = bins.select(
        "bin",
        "n",
        F.sum("n").over(W.orderBy("bin")).alias("cum"),
        F.sum("n").over(
            W.orderBy("bin").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("total"),
    )
    qs = [
        cum.filter(
            F.col("cum") >= F.expr(f"CAST(ceil({p} * total) AS BIGINT)")
        )
        .orderBy("bin")
        .limit(1)
        .select(
            F.lit(p).alias("p"),
            (
                (F.col("bin") + 1).cast("double")
                * F.lit(QH_BIN_W_FIX)
                / 1000.0
            ).alias("q_upper"),
            "total",
        )
        for p in QH_PCTS
    ]
    out = qs[0]
    for q in qs[1:]:
        out = out.unionByName(q)
    return out


def stream_quantiles(events: DataFrame, state_view: str = "quantile_state"):
    """Continuously-maintained value quantiles: each micro-batch adds
    its exact per-bin counts into the histogram state (additive
    commutative merge — batching and arrival order cannot change the
    state), and quantiles read off the state on demand. State is
    O(value domain / bin width) rows forever, independent of stream
    length; the deterministic one-bin-width error bound survives any
    merge, which no quantile SKETCH with per-batch compaction
    guarantees. Batch twin: ``histogram_quantiles(binned_counts(e))``
    — the test asserts exact equality."""
    return _stream_monoid(
        events, binned_counts, "bin long, n long", {"n": "sum"}, state_view
    )


def stream_triangle_count(
    edges: DataFrame,
    state_view: str = "tri_state",
    count_view: str = "tri_count",
):
    """Incrementally-maintained triangle count of a growing graph —
    the streaming twin of ``operators.graph.triangle_census``.

    Invariant that makes the stream match the batch census on ANY
    batching: every triangle has exactly one LAST edge, so counting a
    triangle precisely when that edge arrives counts it exactly once.
    Per micro-batch, each genuinely-new edge (x, y) contributes
    |{v : (x,v) and (y,v) both arrived earlier}| — "earlier" = in the
    adjacency state from prior batches OR smaller in this batch's
    deterministic (a, b) lexicographic order (a struct comparison, no
    global row_number window serializing the delta through one task).
    Replayed duplicate edges are dropped against the state
    (exactly-once), and the count view records the last applied
    batch_id so a foreachBatch RETRY of the same batch is a no-op
    rather than a double count. The maintained count equals
    ``triangle_census`` over the distinct union of all batches (the
    test asserts it across out-of-order chunks).

    Scale: per batch the work is two delta×adjacency equi-joins (the
    delta side is the small one) + one |Δ|² within-batch term. State
    is the undirected edge list — |E|, the same asymptotics as the
    batch algorithm's input; like the other foreachBatch jobs here it
    lives in a localCheckpoint-backed global temp view (rewritten per
    batch; superseded blocks freed by GC) — in production it is a
    keyed Delta/Iceberg table with delta appends + periodic
    compaction. Expects batch columns ``(a, b)`` with ``a < b``.
    """
    spark = edges.sparkSession

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        prev = s.table(f"global_temp.{count_view}").collect()[0]
        if batch_id <= prev["last_batch"]:
            return  # retried batch: already applied
        state = s.table(f"global_temp.{state_view}")
        # exactly-once: drop in-batch duplicates and state replays
        new = (
            batch_df.select("a", "b")
            .distinct()
            .join(state, ["a", "b"], "left_anti")
            .localCheckpoint()
        )

        # "arrived earlier" adjacency, both directions. State entries
        # are earlier than everything; batch entries carry their own
        # (a, b) token and are earlier iff lexicographically smaller.
        def both_dirs(df, is_state):
            tok = (
                F.struct(F.col("a").alias("ta"), F.col("b").alias("tb"))
            )
            base = df.select(
                F.col("a").alias("u"),
                F.col("b").alias("v"),
                F.lit(is_state).alias("st"),
                tok.alias("tok"),
            )
            return base.unionByName(
                df.select(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.lit(is_state).alias("st"),
                    tok.alias("tok"),
                )
            )

        earlier = both_dirs(state, True).unionByName(both_dirs(new, False))
        cur = F.struct(F.col("a").alias("ta"), F.col("b").alias("tb"))
        nx = earlier.select(
            F.col("u").alias("a"),
            F.col("v").alias("cn"),
            F.col("st").alias("stx"),
            F.col("tok").alias("tokx"),
        )
        ny = earlier.select(
            F.col("u").alias("b"),
            F.col("v").alias("cn"),
            F.col("st").alias("sty"),
            F.col("tok").alias("toky"),
        )
        closed = (
            new.join(nx, "a")
            .filter(F.col("stx") | (F.col("tokx") < cur))
            .join(ny, ["b", "cn"])
            .filter(F.col("sty") | (F.col("toky") < cur))
        )
        delta = closed.count()
        s.createDataFrame(
            [(int(prev["n_triangles"]) + int(delta), int(batch_id))],
            "n_triangles long, last_batch long",
        ).createOrReplaceGlobalTempView(count_view)
        merged = state.unionByName(new.select("a", "b")).localCheckpoint()
        merged.createOrReplaceGlobalTempView(state_view)

    return _start(
        edges,
        step,
        {
            state_view: spark.createDataFrame([], "a long, b long"),
            count_view: spark.createDataFrame(
                [(0, -1)], "n_triangles long, last_batch long"
            ),
        },
    )


def stream_fertility(docs: DataFrame, state_view: str = "fertility_state"):
    """Continuously-maintained tokenizer-fertility counts per
    (source, lang): each micro-batch reduces to its own additive
    count rows (``queries.corpus.fertility_counts`` — a commutative
    monoid of sums), merged by key into the state view, so ANY
    batching or arrival order yields the same counts as the batch
    pass. Per batch the work is delta-sized; state is
    O(sources × langs) forever. The ratio finisher
    (``queries.corpus.fertility_report``) runs over the state on
    demand — the test asserts stream state + finisher == batch
    ``p_tokenizer_fertility`` exactly.
    """
    from locopy_spark.queries.corpus import fertility_counts

    return _stream_monoid(
        docs, fertility_counts,
        "source string, lang string, n_docs long, chars long,"
        " bpe_tokens long, ws_tokens long",
        dict.fromkeys(["n_docs", "chars", "bpe_tokens", "ws_tokens"], "sum"),
        state_view,
    )


def stream_length_histogram(
    docs: DataFrame, state_view: str = "length_hist_state"
):
    """Continuously-maintained sequence-length histogram: per-batch
    per-bin (n_docs, tokens) counts (``queries.corpus.length_bins`` —
    additive monoid) merged by bin into O(bins) state; the cumulative-
    share finisher (``queries.corpus.length_report``) runs over the
    ≤33-row state on demand. Batching-invariant by construction; the
    test asserts stream state + finisher == batch
    ``p_length_histogram`` exactly.
    """
    from locopy_spark.queries.corpus import length_bins

    return _stream_monoid(
        docs, length_bins, "bin int, n_docs long, tokens long",
        {"n_docs": "sum", "tokens": "sum"}, state_view,
    )


def stream_bloom(orders: DataFrame, state_view: str = "bloom_state"):
    """Continuously-maintained bloom-filter build over a key stream:
    each micro-batch contributes its DISTINCT md5 bit positions
    (``queries.tpch_ext._bloom_pos_spark`` — the same expression the
    batch q_bloom_semijoin builds from), merged by set-union into the
    state view. Bit-set union is a commutative, associative AND
    idempotent monoid, so the maintained filter equals the batch
    build on ANY batching, arrival order, or replay; state is bounded
    by the bit-array size ({65536} rows max) forever — the streaming
    form of a continuously-refreshed runtime join filter. Probing is
    a broadcast semi-join against the state view, exactly as in the
    batch query.
    """
    from locopy_spark.queries.tpch_ext import _bloom_pos_spark

    pos = F.explode(F.expr(_bloom_pos_spark("o_custkey"))).alias("pos")
    return _stream_monoid(
        orders, lambda b: b.select(pos).distinct(), "pos long", {}, state_view
    )


def stream_benford(
    orders: DataFrame, customer: DataFrame, state_view: str = "benford_state"
):
    """Continuously-maintained Benford conformance state: each
    micro-batch stream-static joins the customer dimension (the
    stream_enrich shape) and reduces to per-(segment, first-digit)
    counts (``queries.trends.benford_counts`` — additive monoid),
    merged by key into 9×|segments| bounded state. The ppm/chi²
    finisher (``queries.trends.benford_report``) runs over the state
    on demand; the test asserts stream state + finisher == batch
    ``q_benford`` exactly on out-of-order chunks — the continuously-
    refreshed fraud screen.
    """
    from locopy_spark.queries.trends import benford_counts

    return _stream_monoid(
        orders, lambda b: benford_counts(b, customer),
        "c_mktsegment string, digit long, n long", {"n": "sum"}, state_view,
    )


def stream_ols_trend(orders: DataFrame, state_view: str = "ols_daily_state"):
    """Continuously-maintained OLS regression state: each micro-batch
    reduces to per-(priority, day) exact revenue cents
    (``queries.trends.ols_daily`` — additive in y; the day index is a
    constant of the key), merged by key into O(groups × days) state —
    the same shape as stream_daily_anomaly's day series, late/out-of-
    order events safe by construction. The closing fit
    (``queries.trends.ols_report`` — power sums + the exact-integer
    slope/intercept/R² formulas) runs over the state on demand; the
    test asserts stream state + finisher == batch ``q_ols_trend``
    exactly on out-of-order chunks.
    """
    from locopy_spark.queries.trends import ols_daily

    return _stream_monoid(
        orders, ols_daily, "o_orderpriority string, day date, y long",
        {"y": "sum"}, state_view,
    )



def stream_cms(docs: DataFrame, state_view: str = "cms_state"):
    """Continuously-maintained count-min sketch over a document
    stream: each micro-batch reduces to its own CMS_DEPTH×CMS_WIDTH
    cell counts (``queries.corpus.cms_cells`` — additive monoid:
    cells sum), merged by (row, col) into state bounded by the sketch
    size FOREVER — the frequency counterpart of stream_kmv_sketch
    (cardinality) and stream_bloom (membership). Any batching or
    arrival order equals the batch build; the test asserts stream
    cells == batch cells exactly over out-of-order chunks.
    """
    from locopy_spark.queries.corpus import cms_cells

    return _stream_monoid(
        docs, cms_cells, "r int, col long, v long", {"v": "sum"}, state_view
    )


def score_daily_acf(daily: DataFrame, max_lag: int = 7) -> DataFrame:
    """Lag-1..max_lag autocorrelation over a maintained daily series
    ``(day, x_fix)`` — delegates to ``queries.stats.acf_over_daily``
    (ONE scorer for stream state and batch twin, the
    ``score_daily_anomalies`` convention)."""
    from locopy_spark.queries.stats import acf_over_daily

    return acf_over_daily(
        daily.select("day", F.col("x_fix").alias("x")), max_lag
    )


def stream_acf(events: DataFrame, state_view: str = "acf_state"):
    """Streaming seasonality-fingerprint feed: the ACF needs only the
    |days|-sized daily series, whose per-day sums form a commutative
    monoid — so the maintainer IS ``stream_daily_anomaly``'s additive
    merge (shared deliberately: one state layout, two on-demand
    scorers). Score the state view with :func:`score_daily_acf`;
    arrival order and batch boundaries cannot change the result
    (batch twin: ``queries.stats.q_autocorr``)."""
    return stream_daily_anomaly(events, state_view=state_view)


def stream_weekday_uplift(
    orders: DataFrame, state_view: str = "weekday_state"
):
    """Continuously-maintained day-of-week revenue index: each
    micro-batch reduces to the additive 7-row
    ``queries.tpch_ext.weekday_state`` (counts + scaled revenue merge
    by dow — commutative, late/out-of-order safe), finished on demand
    by the shared ``weekday_report`` (batch twin:
    ``q_weekday_uplift``)."""
    from locopy_spark.queries.tpch_ext import weekday_state

    return _stream_monoid(
        orders, weekday_state, "dow int, n_orders long, s long",
        {"n_orders": "sum", "s": "sum"}, state_view,
    )


def stream_vocab(docs: DataFrame, state_view: str = "vocab_state"):
    """Continuously-maintained corpus vocabulary counts
    (``queries.corpus.vocab_counts`` — additive by token, vocabulary-
    sized state forever): the feed for the on-demand
    ``vocab_coverage_report`` Zipf-head curve (batch twin:
    ``p_vocab_coverage``)."""
    from locopy_spark.queries.corpus import vocab_counts

    return _stream_monoid(
        docs, vocab_counts, "tok string, c long", {"c": "sum"}, state_view
    )


def stream_xcorr(events: DataFrame, state_view: str = "xcorr_state"):
    """Continuously-maintained view→purchase lead-lag state: per-
    (hour, side) counts (``queries.events_ext.xcorr_state`` —
    additive, |hours|×2 rows, late events just add to their hour),
    finished on demand by the shared dense-fill + lag-moment
    ``xcorr_report`` (batch twin: ``q_xcorr``)."""
    from locopy_spark.queries.events_ext import xcorr_state

    return _stream_monoid(
        events, xcorr_state, "hour long, is_a boolean, c long", {"c": "sum"},
        state_view,
    )


def stream_cramers(
    orders: DataFrame, customer: DataFrame, state_view: str = "cramers_state"
):
    """Continuously-maintained categorical-association state: each
    micro-batch stream-static joins the customer dim and reduces to
    the additive |R|×|C| contingency table
    (``queries.assoc.contingency_state`` — counts merge by (pri, seg),
    ≤25 rows of state forever), finished on demand by the shared
    ``cramers_report`` (batch twin: ``q_cramers_v``) — the
    continuously-refreshed independence screen."""
    from locopy_spark.queries.assoc import contingency_state

    return _stream_monoid(
        orders, lambda b: contingency_state(b, customer),
        "pri string, seg string, n_ij long", {"n_ij": "sum"}, state_view,
    )


def stream_hhi(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
    state_view: str = "hhi_state",
):
    """Continuously-maintained market-concentration state: per-batch
    broadcast dim joins reduce to the additive per-(nation, supplier)
    revenue-cents table (``queries.assoc.hhi_state`` — |suppliers|
    rows of state forever, late/out-of-order line items just add),
    finished on demand by the shared ``hhi_report`` (batch twin:
    ``q_hhi``)."""
    from locopy_spark.queries.assoc import hhi_state

    return _stream_monoid(
        lineitem, lambda b: hhi_state(b, supplier, nation),
        "n_name string, suppkey long, s long", {"s": "sum"}, state_view,
    )


def score_daily_mk(daily: DataFrame) -> DataFrame:
    """Mann–Kendall trend verdict over a maintained daily series
    ``(day, x_fix)`` — delegates to ``queries.assoc.mk_over_daily``
    (ONE scorer for stream state and batch twin, the
    ``score_daily_acf`` convention)."""
    from locopy_spark.queries.assoc import mk_over_daily

    return mk_over_daily(daily.select("day", F.col("x_fix").alias("x")))


def stream_mann_kendall(events: DataFrame, state_view: str = "mk_state"):
    """Streaming trend-test feed: Mann–Kendall needs only the
    |days|-sized daily series, whose per-day sums form a commutative
    monoid — so the maintainer IS ``stream_daily_anomaly``'s additive
    merge (shared deliberately — one state layout now feeds THREE
    on-demand scorers: anomaly z, ACF, and the MK trend verdict).
    Score the state view with :func:`score_daily_mk`; arrival order
    and batch boundaries cannot change the result (batch twin:
    ``queries.assoc.q_mann_kendall``)."""
    return stream_daily_anomaly(events, state_view=state_view)


def score_daily_seasonal(daily: DataFrame) -> DataFrame:
    """Per-DOW additive seasonal effects over a maintained daily
    series ``(day, x_fix)`` — delegates to
    ``queries.trends.seasonal_over_daily`` (one scorer for stream
    state and batch twin)."""
    from locopy_spark.queries.trends import seasonal_over_daily

    return seasonal_over_daily(
        daily.select("day", F.col("x_fix").alias("x"))
    )


def stream_seasonal(events: DataFrame, state_view: str = "seasonal_state"):
    """Streaming seasonal-profile feed: the decomposition needs only
    the additive |days|-sized daily series — the fourth on-demand
    scorer over the ``stream_daily_anomaly`` state layout (anomaly z,
    ACF, MK trend, seasonal profile). Score with
    :func:`score_daily_seasonal` (batch twin:
    ``queries.trends.q_seasonal_decompose``)."""
    return stream_daily_anomaly(events, state_view=state_view)


def stream_boilerplate(
    docs: DataFrame,
    span_view: str = "boiler_span_state",
    count_view: str = "boiler_count_state",
):
    """Continuously-maintained boilerplate-detection state over a
    document stream: each micro-batch contributes its row-local
    deduped (source, doc_id, span) rows
    (``queries.docs_ext.boiler_spans`` — a SET, so union+distinct is
    idempotent under chunk re-delivery) and additive per-source doc
    counts (``boiler_doc_counts``). The finisher
    (``queries.docs_ext.boiler_report``) computes document
    frequencies and the >= BOILER_MIN_DF cut over the state on
    demand; the test asserts stream state + finisher == batch
    ``t_boilerplate`` exactly on overlapping out-of-order chunks.

    State is the (source, span, doc) inverted index itself — the one
    honest state for a GLOBAL document-frequency cut (a span's
    boilerplate-ness is decided by documents that may arrive later,
    so no bounded sketch can close this exactly); at 100 TB the
    state lives in a compacted table, not executor memory.
    """
    from locopy_spark.queries.docs_ext import boiler_doc_counts, boiler_spans

    spark = docs.sparkSession
    seen_view = f"{count_view}_seen"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        # idempotence under re-delivery: only never-seen docs feed the
        # additive doc counts (the span set is idempotent by itself);
        # dropDuplicates guards the same-batch re-delivery case the
        # cross-batch anti-join cannot see
        seen = s.table(f"global_temp.{seen_view}")
        fresh = (
            batch_df.dropDuplicates(["doc_id"])
            .join(seen, "doc_id", "anti")
            .localCheckpoint()
        )
        merged_spans = (
            s.table(f"global_temp.{span_view}")
            .unionByName(
                boiler_spans(fresh).select("source", "doc_id", "span")
            )
            .distinct()
            .localCheckpoint()
        )
        merged_counts = (
            s.table(f"global_temp.{count_view}")
            .unionByName(boiler_doc_counts(fresh))
            .groupBy("source")
            .agg(F.sum("n_docs").alias("n_docs"))
            .localCheckpoint()
        )
        merged_seen = (
            seen.unionByName(fresh.select("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        merged_spans.createOrReplaceGlobalTempView(span_view)
        merged_counts.createOrReplaceGlobalTempView(count_view)
        merged_seen.createOrReplaceGlobalTempView(seen_view)

    return _start(
        docs,
        step,
        {
            span_view: spark.createDataFrame(
                [], "source string, doc_id long, span string"
            ),
            count_view: spark.createDataFrame(
                [], "source string, n_docs long"
            ),
            seen_view: spark.createDataFrame([], "doc_id long"),
        },
    )


def stream_lexical_index(
    docs: DataFrame,
    tok_view: str = "lex_tok_state",
    count_view: str = "lex_count_state",
):
    """Continuously-maintained lexical retrieval index over a document
    stream: each micro-batch contributes its row-local-deduped
    (doc_id, term) postings (``queries.docs_ext.doc_postings`` — a
    SET, idempotent under chunk re-delivery) plus the corpus doc
    count over never-seen docs. Scoring runs on demand from the state
    via the shared ``lexical_from_postings`` + ``prf_report`` /
    fusion finishers — the streaming form of "the index is always
    fresh, queries hit the latest snapshot". The test asserts stream
    state + finisher == batch ``s_prf_expand`` exactly on overlapping
    out-of-order chunks.

    Like stream_boilerplate, the state IS the inverted index (df of a
    term is decided by documents that may arrive later, so no bounded
    sketch closes exact idf); at 100 TB the postings live in a
    compacted table keyed by term.
    """
    from locopy_spark.queries.docs_ext import doc_postings

    spark = docs.sparkSession
    seen_view = f"{count_view}_seen"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        seen = s.table(f"global_temp.{seen_view}")
        fresh = (
            batch_df.dropDuplicates(["doc_id"])
            .join(seen, "doc_id", "anti")
            .localCheckpoint()
        )
        merged_tok = (
            s.table(f"global_temp.{tok_view}")
            .unionByName(doc_postings(fresh).select("doc_id", "term"))
            .distinct()
            .localCheckpoint()
        )
        merged_counts = (
            s.table(f"global_temp.{count_view}")
            .unionByName(fresh.agg(F.count(F.lit(1)).alias("n_docs")))
            .agg(F.sum("n_docs").alias("n_docs"))
            .localCheckpoint()
        )
        merged_seen = (
            seen.unionByName(fresh.select("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        merged_tok.createOrReplaceGlobalTempView(tok_view)
        merged_counts.createOrReplaceGlobalTempView(count_view)
        merged_seen.createOrReplaceGlobalTempView(seen_view)

    return _start(
        docs,
        step,
        {
            tok_view: spark.createDataFrame([], "doc_id long, term string"),
            count_view: spark.createDataFrame([], "n_docs long"),
            seen_view: spark.createDataFrame([], "doc_id long"),
        },
    )


def stream_co_engagement(events: DataFrame, state_view: str = "coeng_state"):
    """Continuously-maintained weekly co-engagement state: each
    micro-batch contributes its distinct (user, week, type) rows
    (``queries.events_ext.co_engagement_state`` — a SET, so
    union+distinct is idempotent under re-delivery and arrival
    order).  The lift-matrix finisher (``co_engagement_report``)
    runs over the state on demand; state is bounded by
    |users|·|weeks|·|types|.  The test asserts stream state +
    finisher == batch ``q_co_engagement`` on out-of-order chunks.
    """
    from locopy_spark.queries.events_ext import co_engagement_state

    return _stream_monoid(
        events,
        lambda b: co_engagement_state(b).select("user_id", "wk", "event_type"),
        "user_id long, wk bigint, event_type string", {}, state_view,
    )


def stream_dedup_yield(
    docs: DataFrame,
    state_view: str = "dedup_yield_state",
):
    """Continuously-maintained dedup-savings state: each micro-batch
    contributes its row-local (source, doc_id, fingerprint, n_tok)
    rows over never-seen docs (``queries.corpus.dedup_yield_state``).
    The keeper-resolution finisher (``dedup_yield_report``) runs over
    the state on demand — keepers can CHANGE as earlier-id docs
    arrive late, which is exactly why the resolution cannot be folded
    into bounded per-batch state and the fingerprint table itself is
    the honest state (the stream_boilerplate argument).  The test
    asserts stream state + finisher == batch ``p_dedup_yield`` on
    overlapping out-of-order chunks.
    """
    from locopy_spark.queries.corpus import dedup_yield_state

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        state = s.table(f"global_temp.{state_view}")
        fresh = (
            batch_df.dropDuplicates(["doc_id"])
            .join(state.select("doc_id"), "doc_id", "anti")
            .localCheckpoint()
        )
        merged = (
            state.unionByName(
                dedup_yield_state(fresh).select(
                    "source", "doc_id", "h", "n_tok"
                )
            )
            .localCheckpoint()
        )
        merged.createOrReplaceGlobalTempView(state_view)

    empty = docs.sparkSession.createDataFrame(
        [], "source string, doc_id long, h string, n_tok int"
    )
    return _start(docs, step, {state_view: empty})


def stream_ca_trend(events: DataFrame, state_view: str = "ca_state"):
    """Continuously-maintained Cochran–Armitage conversion-trend
    state: each micro-batch reduces to per-day (t, trials,
    purchases) counters (``queries.trends.ca_daily`` — all three
    additive, the day score t a constant of the key), merged by day
    into |days|-bounded state — late or out-of-order events land in
    their own day bucket, so any batching equals the batch pass. The
    z/verdict finisher (``queries.trends.ca_report``) runs over the
    state on demand; the test asserts stream state + finisher ==
    batch ``q_cochran_armitage`` exactly on out-of-order chunks —
    the continuously-refreshed "is conversion drifting" monitor.
    """
    from locopy_spark.queries.trends import ca_daily

    return _stream_monoid(
        events, ca_daily, "t long, n long, r long", {"n": "sum", "r": "sum"},
        state_view,
    )


def stream_filter_funnel(docs: DataFrame, state_view: str = "funnel_state"):
    """Continuously-maintained quality-gate funnel: each micro-batch
    reduces to the 1-row 10-counter cumulative-gate state
    (``queries.quality.funnel_counts`` — a pure additive monoid, the
    stream_profile shape), merged by plain summation into state
    bounded at ONE row forever. The 5-stage report
    (``queries.quality.funnel_report``) unpivots the state on
    demand; the test asserts stream state + finisher == batch
    ``p_filter_funnel`` exactly on out-of-order chunks — the live
    corpus-cleaning dashboard row.
    """
    from locopy_spark.queries.quality import funnel_counts

    cols = ["n0", "tok0"] + [
        f"{p}{i}" for i in range(1, 5) for p in ("n", "tok")
    ]
    return _stream_monoid(
        docs, funnel_counts, ", ".join(f"{c} long" for c in cols),
        dict.fromkeys(cols, "sum"), state_view,
    )


def stream_centroids(emb: DataFrame, state_view: str = "centroid_state"):
    """Continuously-maintained per-label embedding centroids: each
    micro-batch reduces to its (label, dim) exact DECIMAL(38)
    component sums + counts (``queries.docs_ext.centroid_state`` —
    both columns additive), merged by key into |labels × dims|
    bounded state FOREVER. The mean finisher
    (``queries.docs_ext.centroid_report``) closes over the state on
    demand — the always-fresh mean-pooling table that
    d_centroid_drift-style monitors read. The test asserts stream
    state + finisher == batch ``d_embedding_centroids`` exactly on
    out-of-order chunks (float-equal because both close the SAME
    double expression over identical exact sums).
    """
    from locopy_spark.queries.docs_ext import centroid_state

    return _stream_monoid(
        emb, centroid_state, "label int, dim_idx int, s decimal(38,0), n long",
        {"s": "sum", "n": "sum"}, state_view,
    )


def stream_mix_drift(orders: DataFrame, state_view: str = "mix_state"):
    """Continuously-maintained composition-drift state: each
    micro-batch reduces to its |months × priorities| cell counts
    (``queries.trends.mix_cells`` — additive monoid), merged by
    (month, priority) into calendar-bounded state. The chi²/grid
    finisher (``queries.trends.mix_report``) closes over the state on
    demand — the live "did the workload mix shift" monitor; the test
    asserts stream state + finisher == batch ``q_mix_drift`` exactly
    on out-of-order chunks.
    """
    from locopy_spark.queries.trends import mix_cells

    return _stream_monoid(
        orders, mix_cells, "m long, pri string, c long", {"c": "sum"},
        state_view,
    )


def stream_user_totals_tws(events: DataFrame) -> DataFrame:
    """Running per-user (count, exact scaled-int sum) on Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (SPARK-46815 state-v2): typed state
    handles (ValueState here; List/Map state and timers for richer
    operators) over the RocksDB state store provider, which the caller
    must enable (``spark.sql.streaming.stateStore.providerClass`` →
    ``RocksDBStateStoreProvider`` — the production configuration the
    module docstring names).  Same exact arithmetic as
    ``stream_user_totals``: floor(value·1000 + 0.5) per row, an
    associative integer sum, so any batching or replay yields the
    batch aggregate exactly; the test asserts both APIs agree with the
    batch twin where the dependency below is present.

    Dependency note (the spark-avro convention): the state-v2 protocol
    speaks protobuf between the JVM and the Python state server, so
    ``protobuf`` must be installed in the worker Python — absent it,
    Spark's driver worker dies with a buried ImportError, so this
    raises the clear error up front instead.
    """
    import math

    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package in "
            "the worker Python (pip install protobuf); "
            "stream_user_totals (applyInPandasWithState) needs no extra "
            "dependency."
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", USER_TOTALS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            n, s_fix = (
                tuple(self._totals.get()) if self._totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                s_fix += int(
                    sum(
                        math.floor(v * 1000 + 0.5)
                        for v in pdf["value"].tolist()
                    )
                )
            self._totals.update((n, s_fix))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value_fix": [s_fix],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Totals(),
            outputStructType=USER_TOTALS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_simpson(docs: DataFrame, state_view: str = "simpson_state"):
    """Continuously-maintained per-source unigram counts
    (``queries.corpus.source_token_counts`` — additive by
    (source, token), vocabulary-per-source-sized state forever): the
    feed for BOTH on-demand finishers, ``simpson_report`` (batch
    twin: ``t_simpson_diversity``) and ``zipf_report`` (batch twin:
    ``t_zipf_deviation``) — one state, two reports.  Commutative
    monoid merge, so any batching or arrival order reproduces the
    batch counts exactly."""
    from locopy_spark.queries.corpus import source_token_counts

    return _stream_monoid(
        docs, source_token_counts, "source string, tok string, c long",
        {"c": "sum"}, state_view,
    )


def stream_norm_hist(emb: DataFrame, state_view: str = "norm_hist_state"):
    """Continuously-maintained embedding-norm² histogram: per-batch
    per-band counts (the ``d_norm_histogram`` banding — additive
    monoid, ≤ 30-row state forever) merged by band — the live
    encoder-health monitor (a norm-distribution shift flags a bad
    encoder deploy before any index rebuild).  Batch twin:
    ``queries.docs_ext.d_norm_histogram``."""
    from locopy_spark.queries.docs_ext import NORM_BAND_FIX, NORM_BANDS

    norm2 = (
        "aggregate(transform(embedding,"
        " v -> cast(floor(cast(v as double) * cast(v as double)"
        " * 1000000000000 + 0.5) as bigint)),"
        " 0L, (a, x) -> a + x)"
    )
    band = (
        f"CAST(LEAST({NORM_BANDS - 1}, ({norm2}) div {NORM_BAND_FIX})"
        " AS BIGINT)"
    )

    def bands(b: DataFrame) -> DataFrame:
        return (
            b.select(F.expr(band).alias("band"))
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_vecs"))
        )

    return _stream_monoid(
        emb, bands, "band long, n_vecs long", {"n_vecs": "sum"}, state_view
    )


def stream_heatmap(events: DataFrame, state_view: str = "heatmap_state"):
    """Continuously-maintained day-of-week × hour workload heatmap:
    per-batch |7 × 24| cell counts (``queries.timeseries.heat_cells``
    — additive monoid, ≤168-row state forever) merged by cell; the
    zero-fill/share finisher (``queries.timeseries.heat_report``)
    runs over the state on demand.  Batch twin:
    ``q_calendar_heatmap``."""
    from locopy_spark.queries.timeseries import heat_cells

    return _stream_monoid(
        events, heat_cells, "dow long, hour long, c long", {"c": "sum"},
        state_view,
    )


def stream_dormancy(events: DataFrame, state_view: str = "dormancy_state"):
    """Continuously-maintained per-user recency state
    (``queries.timeseries.dormancy_state`` — a MAX monoid: merge is
    max per user, so ANY batching or arrival order reproduces the
    batch state; |users| rows forever).  The horizon/histogram
    finisher (``queries.timeseries.dormancy_report``) runs over the
    state on demand — the live churn-risk dashboard.  Batch twin:
    ``q_dormancy_curve``."""
    from locopy_spark.queries.timeseries import dormancy_state

    return _stream_monoid(
        events, dormancy_state, "user_id long, last_day long",
        {"last_day": "max"}, state_view,
    )


def stream_centroid_purity(emb: DataFrame, state_view: str = "purity_state"):
    """Continuously-maintained label-purity centroid state: each
    micro-batch reduces to its (label, dim) exact DECIMAL(38)
    fixed-point sums + counts at the purity quantization
    (``queries.docs_ext.purity_state`` — both columns additive),
    merged by key into |labels × dims| bounded state FOREVER. The
    separability finisher (``queries.docs_ext.purity_report``) closes
    over the state + the accumulated corpus on demand — the live "is
    the embedding space still separable per label" monitor an
    encoder-refresh pipeline reads before trusting new vectors. The
    test asserts stream state + finisher == batch
    ``s_centroid_purity`` exactly on out-of-order chunks (bit-exact:
    every verdict is integer/decimal arithmetic end-to-end).
    """
    from locopy_spark.queries.docs_ext import purity_state

    return _stream_monoid(
        emb, purity_state, "label int, dim_idx int, s decimal(38,0), n long",
        {"s": "sum", "n": "sum"}, state_view,
    )


def stream_anova(orders: DataFrame, state_view: str = "anova_state"):
    """Continuously-maintained one-way-ANOVA state: each micro-batch
    reduces to ONE additive row (n, Σv², per-priority n_g/Σv_g —
    ``queries.stats.anova_state``; every column a plain sum), merged
    by summation into 1-row state FOREVER. The F finisher
    (``queries.stats.anova_report``) closes over the state on demand
    — the live "is priority still shifting order value" monitor. The
    test asserts stream state + finisher == batch ``q_anova`` exactly
    on out-of-order chunks (bit-stable: F closes the same fixed-order
    double chain over identical exact sums).

    NOTE the contrast with the transition/lag family: ANOVA's state is
    row-local per order, so ANY chunking works; q_markov_stationary's
    lag pairs span batch boundaries and are NOT a monoid — it gets no
    stream twin (the q_session_gap_curve precedent).
    """
    from locopy_spark.queries.stats import ANOVA_GROUPS, anova_state

    cols = ["n bigint", "sq decimal(38,0)"]
    for i in range(1, len(ANOVA_GROUPS) + 1):
        cols += [f"n{i} bigint", f"s{i} decimal(38,0)"]
    return _stream_monoid(orders, anova_state, *_sums(cols), state_view)


def stream_backlog(orders: DataFrame, state_view: str = "backlog_state"):
    """Continuously-maintained open-order backlog state: each
    micro-batch reduces to its (status, order-day) open counts +
    exact scaled value (``queries.tpch_ext.backlog_state`` — both
    additive), merged by key into calendar-bounded state. The aging
    finisher (``queries.tpch_ext.backlog_report``) re-bands against
    the CURRENT horizon on every read (the stream_dormancy
    convention: the state stores absolute days because the band of a
    fixed order changes as the clock moves — banding inside the state
    would not be a monoid). The on-demand read MUST supply
    ``horizon_from`` = the FULL orders table (open + finished): the
    open-order state alone under-states the clock whenever the most
    recent orders have already finished, so the finisher takes the
    horizon as a required argument. The live stuck-order dashboard;
    batch twin: ``q_backlog_aging``."""
    from locopy_spark.queries.tpch_ext import backlog_state

    return _stream_monoid(
        orders, backlog_state,
        "o_orderstatus string, order_day int, n_orders bigint, value_c bigint",
        {"n_orders": "sum", "value_c": "sum"}, state_view,
    )


def stream_survival(orders: DataFrame, state_view: str = "span_state"):
    """Continuously-maintained per-customer span state
    (``queries.assoc.span_state`` — a (MIN, MAX) monoid per key, so
    ANY batching or arrival order reproduces the batch spans;
    |customers| rows forever). Lifetime, censoring, and the at-risk
    table derive ONLY in the finisher (``lifetime_risk_report``) —
    both move as later orders arrive, so neither would be a monoid
    in-state. ONE state serves BOTH survival finishers: the lockstep
    test asserts ``km_from_risk`` == batch q_kaplan_meier AND
    ``na_from_risk`` == batch q_nelson_aalen bit-exactly."""
    from locopy_spark.queries.assoc import span_state

    return _stream_monoid(
        orders, span_state, "o_custkey long, first_d date, last_d date",
        {"first_d": "min", "last_d": "max"}, state_view,
    )


def stream_inequality(orders: DataFrame, state_view: str = "inequality_state"):
    """Continuously-maintained per-customer revenue state
    (``queries.stats.inequality_state`` — exact scaled cents, a
    plain-sum monoid; |customers| rows forever). The ranked finisher
    (``inequality_ranked`` against the static customer dim, which
    restores zero-revenue customers) feeds BOTH inequality reads on
    demand — the live concentration dashboard. The lockstep test
    asserts ``gini_from_ranked`` == batch q_gini AND
    ``lorenz_from_ranked`` == batch q_lorenz_curve exactly (the
    stream_survival convention: one state, every finisher asserted)."""
    from locopy_spark.queries.stats import inequality_state

    return _stream_monoid(
        orders, inequality_state, "o_custkey long, x bigint", {"x": "sum"},
        state_view,
    )


def stream_peaks(orders: DataFrame, state_view: str = "peaks_state"):
    """Continuously-maintained daily-revenue state
    (``queries.timeseries.peaks_state`` — exact scaled cents per
    epoch day, a plain-sum monoid; |calendar days| rows forever).
    The local-prominence finisher (``queries.timeseries.
    peaks_report``) runs on demand over the bounded state — peak-ness
    is NOT in the state because a day's prominence depends on
    neighbor days later batches can still move (the stream_backlog
    convention: keep the monoid pure, re-derive at read time). The
    live spike-localization dashboard; batch twin: ``q_peak_days``."""
    from locopy_spark.queries.timeseries import peaks_state

    return _stream_monoid(
        orders, peaks_state, "day int, rev_c bigint", {"rev_c": "sum"},
        state_view,
    )


def stream_fulfillment(
    lineitem: DataFrame, orders: DataFrame,
    state_view: str = "fulfillment_state",
):
    """Continuously-maintained per-order fulfillment state: each
    micro-batch's lines reduce to per-order MIN ship days, join the
    static orders dim for priority/order-day, and merge into the
    state by per-key MIN (``queries.tpch_ext.fulfillment_state``
    layout — |orders| rows, the stream_survival convention: the lag
    derives ONLY in the finisher because an earlier shipment can
    still arrive in a later batch). The per-priority lag histogram
    (``fulfillment_report``) closes on demand — the live SLA
    dashboard; batch twin: ``q_fulfillment_lag``."""
    from locopy_spark.queries.tpch_ext import fulfillment_state

    return _stream_monoid(
        lineitem, lambda b: fulfillment_state(orders, b),
        "o_orderkey long, o_orderpriority string, od_day int, fs_day int",
        {"fs_day": "min"}, state_view,
    )


def stream_basket_size(lineitem: DataFrame, state_view: str = "basket_state"):
    """Continuously-maintained per-order line-count state
    (``queries.tpch.basket_state`` — a plain-sum monoid per order
    key; |orders| rows forever). The histogram finisher
    (``queries.tpch.basket_report``) buckets on demand against the
    static orders dim — bucketing in-state would not be a monoid
    because an order's SIZE keeps moving as lines arrive (the
    stream_backlog convention). The live assortment dashboard; batch
    twin: ``q_basket_size_dist``."""
    from locopy_spark.queries.tpch import basket_state

    return _stream_monoid(
        lineitem, basket_state, "l_orderkey long, n_items bigint",
        {"n_items": "sum"}, state_view,
    )


def stream_value_migration(
    orders: DataFrame, state_view: str = "migration_state"
):
    """Continuously-maintained per-(customer, year) revenue state
    (``queries.tpch_ext.migration_state`` — exact scaled cents, a
    plain-sum monoid; |customers × years| rows forever). The decile
    transition matrix (``migration_report``) derives ONLY at read
    time: a customer's within-year decile moves as later orders land,
    so ranking in-state would not be a monoid (the stream_inequality
    convention — this is its year-pair sibling). The live "are my top
    customers staying top" dashboard; batch twin:
    ``q_value_migration``."""
    from locopy_spark.queries.tpch_ext import migration_state

    return _stream_monoid(
        orders, migration_state, "o_custkey long, yr int, rev_c bigint",
        {"rev_c": "sum"}, state_view,
    )


def stream_street_vs_list(
    lineitem: DataFrame, part: DataFrame, state_view: str = "svl_state"
):
    """Continuously-maintained street-vs-list pricing state: banding
    is ROW-LOCAL (each line against its own part's broadcast list
    price), so the per-(brand, band) counts are themselves the
    additive state (``queries.tpch_ext.svl_state`` — |brands × 21|
    rows forever; only brand shares close at read time via
    ``svl_report``). The live pricing-integrity monitor; batch twin:
    ``q_street_vs_list``."""
    from locopy_spark.queries.tpch_ext import svl_state

    return _stream_monoid(
        lineitem, lambda b: svl_state(b, part),
        "p_brand string, band bigint, n_lines bigint", {"n_lines": "sum"},
        state_view,
    )


def stream_price_index(
    lineitem: DataFrame, state_view: str = "price_index_state"
):
    """Continuously-maintained per-(part, year) pricing state
    (``queries.tpch_ext.price_index_state`` — exact discounted cents
    + exact quantities, both plain-sum monoids; |parts × years| rows
    forever). The Laspeyres/Paasche/Fisher chain
    (``price_index_report``) derives ONLY at read time: a part-year's
    unit price is a ratio of two still-moving sums, so banking it in
    the state would not be a monoid (the stream_value_migration
    convention). The live inflation dashboard; batch twin:
    ``q_price_index``."""
    from locopy_spark.queries.tpch_ext import price_index_state

    return _stream_monoid(
        lineitem, price_index_state,
        "l_partkey long, yr int, rev_c bigint, qty bigint",
        {"rev_c": "sum", "qty": "sum"}, state_view,
    )


def stream_stickiness(events: DataFrame, state_view: str = "stickiness_state"):
    """Continuously-maintained distinct (day, user) activity grid
    (``queries.timeseries.stickiness_grid`` — an idempotent SET
    monoid: merge is union+distinct, so re-delivered and out-of-order
    events are absorbed by algebra; |users × days| rows forever). The
    monthly DAU/MAU finisher (``stickiness_report``) closes on demand
    — the live engagement-intensity dashboard; batch twin:
    ``q_stickiness``."""
    from locopy_spark.queries.timeseries import stickiness_grid

    return _stream_monoid(
        events, stickiness_grid, "day bigint, user_id long", {}, state_view
    )


def stream_abc_xyz(lineitem: DataFrame, state_view: str = "abc_xyz_state"):
    """Continuously-maintained (part, month) demand grid
    (``queries.tpch_ext.abc_xyz_state`` — quantity AND revenue, both
    plain-sum monoids; |parts × months| rows forever). The ABC × XYZ
    matrix (``abc_xyz_report``) derives ONLY at read time: the CV²
    band, the revenue ranking and the cumulative-share classes all
    move as lines arrive, so none of them can live in the state (the
    stream_value_migration convention). The live inventory-planning
    grid; batch twin: ``q_abc_xyz``."""
    from locopy_spark.queries.tpch_ext import abc_xyz_state

    return _stream_monoid(
        lineitem, abc_xyz_state, "l_partkey long, ym int, q bigint, r bigint",
        {"q": "sum", "r": "sum"}, state_view,
    )


def stream_odds_ratio(lineitem: DataFrame, state_view: str = "odds_state"):
    """Continuously-maintained 2×2 exposure/outcome state
    (``queries.tpch_ext.odds_state`` — ONE row of four additive
    counters, the stream_anova shape). OR/RR close row-locally on
    demand via ``odds_report``. The live "are discounts buying
    returns" monitor; batch twin: ``q_odds_ratio``."""
    from locopy_spark.queries.tpch_ext import odds_state

    return _stream_monoid(
        lineitem, odds_state,
        *_sums(["a bigint", "b bigint", "c bigint", "d bigint"]), state_view,
        init=[(0, 0, 0, 0)],
    )


def stream_cycle_time(
    lineitem: DataFrame, orders: DataFrame, state_view: str = "cycle_state"
):
    """Continuously-maintained per-order flow state: each micro-batch's
    lines reduce to per-order MAX ship days, join the static orders
    dim for the open date, and merge into the state by per-key MAX
    (``queries.tpch_ext.cycle_state`` layout — |orders| rows; the
    clamp to ≥ open commutes with MAX so late/re-delivered chunks
    merge exactly). The Little's-law month panel
    (``little_law_report``) closes on demand — WIP, throughput and
    both cycle-time reads all derive only at read time because a late
    line can still EXTEND an order's interval and move every month it
    spans. The live flow-conservation dashboard; batch twin:
    ``q_little_law``."""
    from locopy_spark.queries.tpch_ext import cycle_state

    return _stream_monoid(
        lineitem, lambda b: cycle_state(orders, b),
        "o_orderkey long, open_date date, close_date date",
        {"close_date": "max"}, state_view,
    )


def stream_leadtime(
    lineitem: DataFrame, orders: DataFrame, state_view: str = "leadtime_state"
):
    """Continuously-maintained (supplier, lag_days) lead-time grid:
    each micro-batch's lines join the static orders dim, band to
    calendar-bounded lag cells, and ADD into the state (line counts
    and return counts are both plain-sum monoids —
    ``queries.tpch_ext.leadtime_state`` layout; the grid stays
    |suppliers|·|lags| regardless of volume). The scorecard finisher
    (``leadtime_report``) derives medians/p95/return rates only at
    read time because a supplier's quantiles keep moving as lines
    arrive. The live vendor-review dashboard; batch twin:
    ``q_supplier_leadtime``."""
    from locopy_spark.queries.tpch_ext import leadtime_state

    return _stream_monoid(
        lineitem, lambda b: leadtime_state(orders, b),
        "l_suppkey long, lag int, n bigint, nr bigint",
        {"n": "sum", "nr": "sum"}, state_view,
    )


def stream_sla(
    lineitem: DataFrame, orders: DataFrame, state_view: str = "sla_state"
):
    """Continuously-maintained (ship-month, order-priority) SLA grid:
    each micro-batch's lines join the static orders dim, band to
    month×priority cells, and ADD into the state (line/on-time counts,
    late days, and revenue cents are all plain-sum monoids —
    ``queries.tpch_ext.sla_state`` layout; the grid stays
    |months|·|priorities| regardless of volume). ONE state serves TWO
    read-time finishers: the attainment panel (``sla_report``, batch
    twin ``q_ship_sla``) and the Friedman priority-effect test
    (``stats.friedman_report``, batch twin ``q_friedman``) — rates and
    within-month ranks both keep moving as lines arrive, so neither
    would be a monoid in-state."""
    from locopy_spark.queries.tpch_ext import sla_state

    return _stream_monoid(
        lineitem, lambda b: sla_state(orders, b),
        "ym int, prio string, n bigint, n_ontime bigint,"
        " late_days bigint, rev_c bigint",
        dict.fromkeys(["n", "n_ontime", "late_days", "rev_c"], "sum"),
        state_view,
    )


def stream_mcnemar(orders: DataFrame, state_view: str = "mcnemar_state"):
    """Continuously-maintained per-customer paired-activity flags
    (``queries.trends.mcnemar_state`` — each flag an OR monoid, so
    OVERLAPPING or re-delivered chunks are absorbed idempotently;
    |customers| rows forever). The 2x2 cells and the χ² close only in
    the finisher (``mcnemar_report``) — a customer's discordance
    keeps moving while either year can still receive orders. The live
    churn-vs-acquisition significance read; batch twin:
    ``q_mcnemar``."""
    from locopy_spark.queries.trends import mcnemar_state

    return _stream_monoid(
        orders, mcnemar_state, "o_custkey long, in1 int, in2 int",
        {"in1": "max", "in2": "max"}, state_view,
    )


def stream_growth(events: DataFrame, state_view: str = "growth_state"):
    """Continuously-maintained distinct (user, week) activity grid
    (``queries.timeseries.growth_grid`` — an idempotent SET monoid:
    merge is union+distinct, so OVERLAPPING or re-delivered chunks are
    absorbed; |users × weeks| rows forever). The growth-accounting
    split (``growth_report``) closes only at read time — a user's
    new/retained/resurrected/churned classification keeps moving as
    neighbor weeks fill in and the horizon advances. The live WAU
    flow dashboard; batch twin: ``q_growth_accounting``."""
    from locopy_spark.queries.timeseries import growth_grid

    return _stream_monoid(
        events, growth_grid, "user_id long, wi int", {}, state_view
    )


def stream_did(
    lineitem: DataFrame, part: DataFrame, state_view: str = "did_state"
):
    """Continuously-maintained difference-in-differences cell grid:
    each micro-batch's lines join the static part dim for the
    treatment flag, band to the FOUR (treat, post) cells, and ADD
    into the state (``queries.trends.did_state`` layout — line counts
    and revenue cents are plain-sum monoids; 4 rows forever). The
    panel (``did_report``) closes at read time — cell means and the
    DiD keep moving as lines arrive. The live experiment dashboard;
    batch twin: ``q_did``."""
    from locopy_spark.queries.trends import did_state

    return _stream_monoid(
        lineitem, lambda b: did_state(b, part),
        "treat int, post int, n bigint, s bigint", {"n": "sum", "s": "sum"},
        state_view,
    )


def stream_dispersion(
    lineitem: DataFrame, part: DataFrame, state_view: str = "dispersion_state"
):
    """Continuously-maintained per-part price power sums
    (``queries.tpch_ext.dispersion_state`` — n, Σx, Σx² all plain-sum
    monoids, Σx² widened DECIMAL(38); |parts| rows forever). The
    banded CV² panel (``dispersion_report``) closes at read time
    against the static part dim — a part's dispersion keeps moving as
    lines arrive, and single-line parts only become scoreable when
    their second line lands. The live pricing-discipline dashboard;
    batch twin: ``q_price_dispersion``."""
    from locopy_spark.queries.tpch_ext import dispersion_state

    return _stream_monoid(
        lineitem, dispersion_state,
        "l_partkey long, n bigint, s bigint, s2 decimal(38,0)",
        {"n": "sum", "s": "sum", "s2": "sum"}, state_view,
    )


def stream_logrank(
    orders: DataFrame, customer: DataFrame, state_view: str = "logrank_state"
):
    """Continuously-maintained grouped per-customer span state
    (``queries.assoc.grouped_span_state`` — a (MIN, MAX) monoid per
    key plus the static group flag joined from the customer dim each
    batch; |customers| rows forever). The log-rank panel
    (``logrank_report``) closes only at read time — lifetimes,
    censoring, risk sets, AND the horizon all move as later orders
    arrive (the stream_survival convention, grouped). The live
    segment-survival significance read; batch twin: ``q_logrank``."""
    from locopy_spark.queries.assoc import grouped_span_state

    return _stream_monoid(
        orders, lambda b: grouped_span_state(b, customer),
        "o_custkey long, g1 int, first_d date, last_d date",
        {"first_d": "min", "last_d": "max"}, state_view,
    )


def stream_cliffs(
    orders: DataFrame, customer: DataFrame, state_view: str = "cliffs_state"
):
    """Continuously-maintained per-value segment grid
    (``queries.stats.cliffs_state`` — counts of each segment's order
    totals per exact cent value, plain-sum monoids; |distinct totals|
    rows regardless of volume — each micro-batch joins the static
    customer dim for the segment flag). The effect-size panel
    (``cliffs_report``) closes at read time via one ranged prefix
    pass — δ keeps moving as orders arrive. The live
    practical-significance read next to the significance tests;
    batch twin: ``q_cliffs_delta``."""
    from locopy_spark.queries.stats import cliffs_state

    return _stream_monoid(
        orders, lambda b: cliffs_state(b, customer),
        "v bigint, d_a bigint, d_b bigint", {"d_a": "sum", "d_b": "sum"},
        state_view,
    )


def stream_levene(orders: DataFrame, state_view: str = "levene_state"):
    """Continuously-maintained (priority, whole-dollar value) grid
    (``queries.stats.levene_state`` — a plain-sum monoid, bounded by
    |priorities|·|dollar values| regardless of volume). The
    Brown–Forsythe finisher (``levene_report``) closes at read time —
    each group's median, and therefore every deviation, keeps moving
    as orders arrive, so only the grid is a monoid. The live
    variance-homogeneity guard in front of the streaming ANOVA
    (stream_anova); batch twin: ``q_levene``."""
    from locopy_spark.queries.stats import levene_state

    return _stream_monoid(orders, levene_state, *LEVENE_GRID_SPEC, state_view)


def stream_welch(orders: DataFrame, state_view: str = "welch_state"):
    """Continuously-maintained Welch-ANOVA state: each micro-batch
    reduces to ONE additive row (n, per-priority n_g/Σv_g/Σv²_g —
    ``queries.stats.welch_state``; every column a plain sum), merged
    by summation into 1-row state forever — stream_anova's model with
    the per-group sums of squares Welch needs.  The finisher
    (``welch_report``) closes the layered fixed-order F/df2 chain on
    demand: the live heteroscedasticity-robust companion that stays
    valid when stream_levene's guard rejects variance homogeneity.
    Batch twin: ``q_welch_anova``."""
    from locopy_spark.queries.stats import welch_state

    return _stream_monoid(orders, welch_state, *welch_spec(), state_view)


def stream_moods(orders: DataFrame, state_view: str = "moods_state"):
    """Continuously-maintained value grid for Mood's median test —
    the SAME (priority, whole-dollar value) grid monoid stream_levene
    maintains (``queries.stats.levene_state``), kept under its own
    view so the two monitors advance independently.  The finisher
    (``queries.stats.moods_report``) closes at read time: the grand
    median, and therefore every k×2 cell, keeps moving as orders
    arrive, so only the grid is a monoid.  Batch twin:
    ``q_moods_median``."""
    from locopy_spark.queries.stats import levene_state

    return _stream_monoid(orders, levene_state, *LEVENE_GRID_SPEC, state_view)


def stream_cuped(orders: DataFrame, state_view: str = "cuped_state"):
    """Continuously-maintained CUPED customer grid: each micro-batch's
    orders collapse to per-customer (pre_c, post_c) cent sums
    (``queries.trends.cuped_grid`` — plain-sum monoids keyed by
    customer) and ADD into the state. The variance-reduced experiment
    panel (``cuped_report`` over the ``cuped_treat`` projection)
    closes at read time — θ and the adjusted difference keep moving
    as orders arrive. The live experiment dashboard; batch twin:
    ``q_cuped``."""
    from locopy_spark.queries.trends import cuped_grid

    return _stream_monoid(
        orders, cuped_grid, "o_custkey long, pre_c bigint, post_c bigint",
        {"pre_c": "sum", "post_c": "sum"}, state_view,
    )


def stream_loyalty(orders: DataFrame, state_view: str = "loyalty_state"):
    """Continuously-maintained loyalty year-pair grid: per-customer
    (n1, rev1_c, n2, rev2_c) plain-sum monoids
    (``queries.tpch_ext.loyalty_state``) merged by customer each
    micro-batch. Tiers are RULE-based (row-local CASE), so the
    migration matrix (``loyalty_report``) closes at read time and a
    customer silently upgrades tier as late orders land. The live
    customer-base flow dashboard; batch twin:
    ``q_loyalty_migration``."""
    from locopy_spark.queries.tpch_ext import loyalty_state

    return _stream_monoid(
        orders, loyalty_state,
        "o_custkey long, n1 bigint, rev1_c bigint, n2 bigint, rev2_c bigint",
        dict.fromkeys(["n1", "rev1_c", "n2", "rev2_c"], "sum"), state_view,
    )


def stream_ndr(orders: DataFrame, state_view: str = "ndr_state"):
    """Continuously-maintained per-(customer, year) revenue grid
    (``queries.timeseries.ndr_state`` — a plain-sum monoid). The NDR
    panel (``ndr_report``) closes at read time: the grid self-join on
    (customer, year+1) happens at close, so a cohort's NDR keeps
    moving as its next-year orders arrive. The live retention
    dashboard; batch twin: ``q_ndr``."""
    from locopy_spark.queries.timeseries import ndr_state

    return _stream_monoid(orders, ndr_state, *NDR_SPEC, state_view)


def stream_bass(orders: DataFrame, state_view: str = "bass_state"):
    """Continuously-maintained first-purchase state: per-customer
    first order week (``queries.timeseries.bass_firsts`` — an
    IDEMPOTENT MIN monoid, so replays and out-of-order chunks merge
    exactly). The diffusion fit (``bass_report`` over ``bass_grid``)
    closes at read time — p/q/m̂ keep re-fitting as adopters arrive.
    The live product-diffusion dashboard; batch twin:
    ``q_bass_diffusion``."""
    from locopy_spark.queries.timeseries import bass_firsts

    return _stream_monoid(
        orders, bass_firsts, "o_custkey long, first_wi int",
        {"first_wi": "min"}, state_view,
    )


def stream_shapley(events: DataFrame, state_view: str = "shapley_state"):
    """Continuously-maintained Shapley attribution state: per-user
    first-touch times (``queries.events_ext.shapley_user_state`` —
    every column an IDEMPOTENT MIN monoid; a user's mask can only
    gain bits as touches arrive, and an early purchase retroactively
    excludes later touches exactly as in batch). The coalition grid
    and exact φ panel (``shapley_grid`` + ``shapley_report``) close
    at read time. The live attribution dashboard; batch twin:
    ``q_attribution_shapley``."""
    from locopy_spark.queries.events_ext import shapley_user_state

    return _stream_monoid(
        events, shapley_user_state, *first_touch_spec(), state_view
    )


def stream_sprt(events: DataFrame, state_view: str = "sprt_state"):
    """Continuously-maintained SPRT observation grid: the variant
    arm's per-(day, user) activity rows with an OR-monoid converted
    flag (``queries.trends.sprt_state`` — idempotent, so replays
    merge exactly). The sequential monitor (``sprt_report``) closes
    at read time — the cumulative LLR trajectory and its Wald
    decision re-derive from exact integers as days fill in. The live
    always-valid experiment monitor; batch twin: ``q_sprt``."""
    from locopy_spark.queries.trends import sprt_state

    return _stream_monoid(
        events, sprt_state, "day int, user_id long, conv int", {"conv": "max"},
        state_view,
    )


def stream_funnel_sig(events: DataFrame, state_view: str = "funnel_sig_state"):
    """Continuously-maintained funnel-significance state: per-user
    (variant, first-view, first-click, first-purchase) conditional
    mins (``queries.events_ext.funnel_sig_state`` — idempotent MIN
    monoids; the variant is a pure key function, merged with MAX).
    The per-transition z panel (``funnel_sig_report``) closes at read
    time — a user's ordered-stage flags can flip as earlier events
    arrive, exactly as in batch. The live per-stage experiment
    dashboard; batch twin: ``q_funnel_sig``."""
    from locopy_spark.queries.events_ext import funnel_sig_state

    return _stream_monoid(
        events, funnel_sig_state,
        "user_id long, variant int, v_us bigint, c_us bigint, p_us bigint",
        {"variant": "max", "v_us": "min", "c_us": "min", "p_us": "min"},
        state_view,
    )


def stream_phash(docs: DataFrame, state_view: str = "phash_state"):
    """Continuously-maintained perceptual-hash table: each
    micro-batch's documents project row-locally to their aHash band
    arrays (``queries.docs_ext.phash_bands`` — an IDEMPOTENT per-key
    map: a re-delivered document recomputes the identical hash, so
    the merge is keep-any).  The banded candidate join + Hamming
    verification (``phash_pairs``) closes at read time — a new
    document's near-dup pairs appear the moment its bands land in a
    shared bucket.  The live media-dedup index; batch twin:
    ``m_phash_near_dup``."""
    from locopy_spark.queries.docs_ext import phash_bands

    return _stream_monoid(
        docs, phash_bands, "doc_id long, bands array<int>", {"bands": "first"},
        state_view,
    )


def stream_jarque_bera(orders: DataFrame, state_view: str = "jb_state"):
    """Continuously-maintained (priority, whole-dollar value) grid
    (``queries.stats.levene_state`` — the SAME plain-sum monoid
    stream_levene keeps, bounded by |priorities|·|dollar values|).
    The Jarque-Bera finisher (``queries.stats.jb_report``) closes at
    read time — power sums, skewness, kurtosis and the normality
    verdict keep moving as orders arrive.  The live distribution-shape
    guard next to stream_levene's spread guard; batch twin:
    ``q_jarque_bera``."""
    from locopy_spark.queries.stats import levene_state

    return _stream_monoid(orders, levene_state, *LEVENE_GRID_SPEC, state_view)


def stream_cochran_q(events: DataFrame, state_view: str = "cochran_state"):
    """Continuously-maintained per-user first-touch state
    (``queries.events_ext.shapley_user_state`` — the SAME idempotent
    MIN monoid stream_shapley keeps; an early purchase retroactively
    excludes later touches at read time).  The Cochran's Q finisher
    (``queries.events_ext.cochran_report``) closes at read time over
    the live coalition grid — the channel-balance significance read
    next to the live Shapley attribution.  Batch twin:
    ``q_cochran_q``."""
    from locopy_spark.queries.events_ext import shapley_user_state

    return _stream_monoid(
        events, shapley_user_state, *first_touch_spec(), state_view
    )


def stream_ann_postings(
    emb: DataFrame, state_view: str = "ann_postings_state"
):
    """Continuously-maintained LSH postings table — the INCREMENTAL arm
    of the materialized ANN index (operators/ann_index.py): as new
    embeddings stream in, each batch's signatures append to the
    postings state, so the serving path (``knn_lsh(postings=...)``)
    reads a live index instead of waiting for the next batch rebuild.
    Merge is idempotent per (vec_id, table): a vector's buckets are a
    deterministic function of its embedding (the batch-invariant
    ``lsh_signatures`` kernel), so re-delivered rows dedupe to the
    identical posting and the state equals the batch table for any
    chunking.  Batch twin: ``operators.similarity.lsh_signatures``
    over the full table — the postings arm of the s_knn_lsh serving
    path.
    """
    from locopy_spark.operators.similarity import lsh_signatures

    return _stream_monoid(emb, lsh_signatures, *ANN_POSTINGS_SPEC, state_view)


def stream_ann_lists(
    emb: DataFrame, centroids: DataFrame, state_view: str = "ann_lists_state"
):
    """Continuously-maintained IVF inverted lists against a FROZEN
    coarse quantizer — the other incremental arm of the materialized
    ANN index: production IVF freezes the centroid set at index-build
    time and appends new vectors to their nearest list as they arrive
    (re-centroiding is a rebuild, not maintenance).  Each batch runs
    the same broadcast nearest-centroid assignment as
    ``operators.similarity.ivf_base_lists``; merge is idempotent per
    vector (the assignment is a deterministic function of the
    embedding and the frozen centroids, so re-deliveries dedupe to
    the identical row).  The serving path
    (``knn_ivf(base_lists=..., centroids=...)``) reads a live index.
    Batch twin: ``ivf_base_lists`` over the full table with the same
    centroids — the lists arm of the s_knn_ivf serving path.
    """
    from locopy_spark.operators.similarity import (
        _ivf_assign,
        with_fixed_norm,
    )

    cent = centroids.localCheckpoint()

    def assign(b: DataFrame) -> DataFrame:
        vecs = with_fixed_norm(b).select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_emb"),
            F.col("norm_fix").alias("n_norm"),
        )
        return _ivf_assign(vecs, "n", 1, cent)

    return _stream_monoid(emb, assign, *ANN_LISTS_SPEC, state_view)
