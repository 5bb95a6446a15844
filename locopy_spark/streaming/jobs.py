"""Structured Streaming twins of the batch event analytics.

The events parquet drives a file-source stream (in production: Kafka —
swap ``readStream.format``). Watermarks bound state; the batch twins in
``queries.events`` define the expected results, which the tests check
via the memory sink + ``processAllAvailable``.

The nanosecond-timestamp parquet reads as µs-truncated TIMESTAMP_NTZ
(as the batch loader reads it). A watermark needs an LTZ timestamp, so
the stream source rebases ``ts`` to the LTZ timestamp whose epoch
micros equal the naive parquet micros — every downstream job can use
``unix_micros`` and match the batch twins bit-for-bit in any session
time zone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from locopy_spark.functions.numeric import exact_sum

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet."""
    # the file source wants a directory: stream the sf dir, filtered to
    # the events file (in production this is a landing directory)
    raw = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # rebase NTZ to LTZ at the same integer micros, independent of the
    # session time zone (a watermark on an NTZ column is refused)
    return raw.withColumn(
        "ts",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND,"
            " timestamp_ntz'1970-01-01 00:00:00', ts))"
        ),
    )


def stream_window_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Windowed per-type aggregate with a watermark for late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            exact_sum("value", "sum_value"),
        )
    )


def stream_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation (dynamic gap-closed windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete"):
    """Drive a streaming query to completion synchronously (tests)."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_stream_join(
    events: DataFrame,
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each view event matched to the
    same user's purchase events within ``within`` after the view.

    Both sides carry watermarks and the join has a two-sided time
    constraint, so Spark can bound the join state and emit/expire rows
    as the watermark advances — the production pattern for
    click-to-conversion attribution. Batch twin: the identical join on
    the static events table (checked in tests)."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return (
        v.join(
            p,
            F.expr(
                "v_user = p_user AND purchase_ts >= view_ts "
                f"AND purchase_ts <= view_ts + INTERVAL {within}"
            ),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            F.unix_micros("view_ts").alias("view_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
            "purchase_value",
        )
    )


def stream_incr_rollup(
    events: DataFrame,
    state_view: str = "rollup_state",
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Continuously-maintained hourly rollup: the streaming twin of
    ``queries.events_ext.q_incr_rollup`` (whose oracle proves
    incremental == batch).

    Update-mode windowed aggregation emits each (hour, type) group's
    NEW running totals per micro-batch; ``foreachBatch`` MERGEs them
    into the rollup state by key (update side wins — the emissions are
    totals, not deltas, so the merge is an upsert, not an add). This is
    the streaming→warehouse maintenance pattern: in production the
    upsert is a transactional ``MERGE INTO`` on Delta/Iceberg keyed by
    the window — here the same engine-side semantics
    (:func:`operators.merge.merge_upsert`) land in a GLOBAL temp view
    (``foreachBatch`` runs in a cloned session whose plain temp views
    are isolated; global views are catalog-shared) so the result is
    testable without a table-format dependency. Returns the started
    query; read ``global_temp.<state_view>`` after stopping.
    """
    from locopy_spark.operators.merge import merge_upsert
    from locopy_spark.streaming.stateful import _start

    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("cast(floor(value * 1000 + 0.5) as bigint)")
            ).alias("sum_value_fix"),
        )
        .select(
            F.unix_micros("window.start").alias("hour_us"),
            "event_type",
            "n_events",
            "sum_value_fix",
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        state = s.table(f"global_temp.{state_view}")
        # localCheckpoint cuts the per-batch lineage growth (state =
        # merge(merge(merge(...)))) and materializes before the view
        # swap; update-side rows win on their (hour, type) key
        merged = merge_upsert(
            state, batch_df, key=["hour_us", "event_type"]
        ).localCheckpoint()
        merged.createOrReplaceGlobalTempView(state_view)

    empty = events.sparkSession.createDataFrame(
        [],
        "hour_us long, event_type string, n_events long, sum_value_fix long",
    )
    return _start(agg, upsert, {state_view: empty}, mode="update")


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (production: the
    crawl landing directory)."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def stream_quality_filter(docs: DataFrame) -> DataFrame:
    """Streaming quality gate: the batch ``quality_metrics`` stage
    (stateless JVM column expressions) applied on a document stream —
    corpus filtering as data lands, no state, no shuffle (a pure map
    stage per micro-batch; the batch twin is the oracle-checked
    ``t_quality_filter``, and the test asserts stream == batch on the
    same files)."""
    from locopy_spark.queries.docs_ext import quality_metrics

    return quality_metrics(docs)
