"""Environment-contract tests: pin the runtime behaviors the engine
depends on, so a future Spark upgrade fails ONE obvious test instead of
a dozen scattered query tests.

Round-3 post-mortem: the sandbox moved to Spark 4.1.2, which reads
parquet timestamps without a UTC flag as TIMESTAMP_NTZ (and reads the
TIMESTAMP(NANOS) events file natively, ignoring the legacy
``nanosAsLong`` conf). Every ``unix_micros(ts)`` call became an
analysis error and 7 queries + bench broke silently between rounds.
These tests encode the contract the fix relies on.
"""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from locopy_spark.functions.numeric import epoch_us, sql_epoch_day, sql_epoch_us
from locopy_spark.sources.tables import load_table

# 2024-03-01 12:30:45.123456 UTC in epoch microseconds
_EXPECTED_US = 1_709_296_245_123_456
_DT = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)


def _roundtrip(spark, tmp_path, ts_type, name):
    """Write a one-row parquet with the given timestamp type, read it
    back, and return (df, resolved ts dtype)."""
    path = str(tmp_path / name)
    schema = T.StructType([T.StructField("ts", ts_type)])
    spark.createDataFrame([(_DT,)], schema).write.mode("overwrite").parquet(
        path
    )
    df = spark.read.parquet(path)
    return df, df.schema["ts"].dataType


def test_epoch_us_on_ntz(spark, tmp_path):
    df, dtype = _roundtrip(spark, tmp_path, T.TimestampNTZType(), "ntz")
    assert isinstance(dtype, T.TimestampNTZType)
    got = df.select(epoch_us(df, "ts").alias("us")).collect()[0].us
    assert got == _EXPECTED_US


def test_epoch_us_on_ltz(spark, tmp_path):
    # session TZ is UTC in tests, so the LTZ write stores the same
    # instant; epoch_us must agree with the NTZ read of the same value
    df, dtype = _roundtrip(spark, tmp_path, T.TimestampType(), "ltz")
    got = df.select(epoch_us(df, "ts").alias("us")).collect()[0].us
    assert got == _EXPECTED_US


def test_epoch_us_is_analysis_only(spark, tmp_path):
    """sql_epoch_us resolves the type via schema analysis — no job runs
    (it must stay cheap enough to call during plan construction)."""
    df, _ = _roundtrip(spark, tmp_path, T.TimestampNTZType(), "ntz2")
    frag = sql_epoch_us(df, "ts")
    assert "ts" in frag  # a usable SQL fragment came back
    # and it composes inside further expressions
    n = df.select(F.expr(f"({frag}) div 3600000000").alias("h")).count()
    assert n == 1


def test_epoch_day_floors_pre_1970(spark, tmp_path):
    """sql_epoch_day floors toward -inf: 1969-12-31 18:00 is day -1,
    not the day-0 bin plain ``div`` (truncate-toward-zero) produces;
    exact day boundaries map to their own day on both signs."""
    rows = [
        (datetime.datetime(1969, 12, 31, 18, 0, 0), -1),
        (datetime.datetime(1969, 12, 31, 0, 0, 0), -1),  # exact boundary
        (datetime.datetime(1969, 12, 30, 23, 59, 59), -2),
        (datetime.datetime(1970, 1, 1, 0, 0, 0), 0),
        (datetime.datetime(1970, 1, 1, 6, 0, 0), 0),
        (datetime.datetime(1970, 1, 2, 0, 0, 0), 1),
    ]
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("want", T.LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = df.select(
        F.expr(sql_epoch_day(df, "ts")).alias("day"), "want"
    ).collect()
    for r in got:
        assert r.day == r.want, (r.day, r.want)


def test_events_ts_loads_and_epoch_us_resolves(spark, sf_dir):
    """The events table (TIMESTAMP(NANOS) parquet) loads through
    load_table on THIS runtime and epoch_us works on its ts column."""
    e = load_table(spark, sf_dir, "events")
    dtype = e.schema["ts"].dataType
    assert isinstance(dtype, (T.TimestampType, T.TimestampNTZType)), dtype
    row = (
        e.select(epoch_us(e, "ts").alias("us"))
        .agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
        .collect()[0]
    )
    # sane epoch range: after 2000-01-01, before 2100-01-01
    assert 946_684_800_000_000 < row.lo <= row.hi < 4_102_444_800_000_000


def test_events_ts_matches_duckdb_epoch(spark, sf_dir, duck):
    """Cross-engine truncation contract: Spark's read of the nanos
    parquet and DuckDB's must agree on every microsecond value."""
    e = load_table(spark, sf_dir, "events")
    got = (
        e.select(epoch_us(e, "ts").alias("us"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("us").alias("s"),
            F.min("us").alias("lo"),
            F.max("us").alias("hi"),
        )
        .collect()[0]
    )
    want = duck.execute(
        "SELECT COUNT(*), CAST(SUM(epoch_us(ts)) AS BIGINT),"
        " MIN(epoch_us(ts)), MAX(epoch_us(ts)) FROM events"
    ).fetchone()
    assert (got.n, got.s, got.lo, got.hi) == want


def test_stream_ts_matches_batch_ts(spark, sf_dir):
    """The streaming source's normalized LTZ ts must carry the same
    epoch micros as the batch loader's ts (round-3 bug: a stale
    explicit stream schema mis-scaled every timestamp by 1000x)."""
    from locopy_spark.streaming.jobs import read_event_stream, run_to_memory

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(
        stream.select("event_id", F.unix_micros("ts").alias("us")),
        "env_ts_check",
        mode="append",
    )
    got = {
        (r.event_id, r.us)
        for r in spark.sql("SELECT * FROM env_ts_check").collect()
    }
    e = load_table(spark, sf_dir, "events")
    want = {
        (r.event_id, r.us)
        for r in e.select("event_id", epoch_us(e, "ts").alias("us")).collect()
    }
    assert got == want


def test_event_loads_leave_session_conf_unset(spark, sf_dir):
    """Loading events, batch or stream, sets no conf on the caller's
    session (the runtime reads the nanos column without one)."""
    from locopy_spark.streaming.jobs import read_event_stream

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    load_table(spark, sf_dir, "events")
    read_event_stream(spark, sf_dir)
    assert spark.conf.get(key, None) is None


def test_time_queries_are_session_tz_independent(spark, sf_dir):
    """The whole time family claims session-TZ independence (pure
    integer epoch math through epoch_us). Prove it: the same queries
    must return identical rows under a +9h session time zone."""
    from locopy_spark.queries.events import q_asof_nearest, q_events_window

    base_w = q_events_window(spark, sf_dir).collect()
    base_a = q_asof_nearest(spark, sf_dir).collect()
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        shifted_w = q_events_window(spark, sf_dir).collect()
        shifted_a = q_asof_nearest(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert base_w == shifted_w
    assert base_a == shifted_a


def test_udf_helpers_ship_to_workers_without_the_package(tmp_path):
    """A driver that put the repository only on its own ``sys.path``
    (run from another directory, no PYTHONPATH) must still run the
    Arrow UDFs: their module-level helpers (``lsh_sign_bits``) travel
    with the pickled function instead of being imported by the worker."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
from locopy_spark.operators.similarity import lsh_signatures
emb = spark.createDataFrame(
    [(i, [float(i - j) for j in range(64)]) for i in range(3)],
    "vec_id long, embedding array<float>")
print("ROWS", lsh_signatures(emb).count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    # 3 vectors x 8 hash tables
    assert "ROWS 24" in run.stdout, run.stderr[-3000:]
