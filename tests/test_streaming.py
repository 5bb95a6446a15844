import pytest
from pyspark.sql import functions as F

from locopy_spark.queries.events import q_events_window
from locopy_spark.sources.tables import load_table
from locopy_spark.streaming.jobs import (
    read_event_stream,
    run_to_memory,
    stream_sessionize,
    stream_window_agg,
)


def test_stream_window_matches_batch_counts(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_window_agg(stream), "win_out", mode="complete")
    got = {
        (r["window"]["start"], r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got, "stream produced no windows"
    batch = {
        (r.hour_ts, r.event_type): r.n_events
        for r in q_events_window(spark, sf_dir).collect()
    }
    # per-type totals agree between streaming and batch twins
    def totals(d):
        out = {}
        for (_, et), n in d.items():
            out[et] = out.get(et, 0) + n
        return out

    assert totals(got) == totals(batch)


def test_stream_sessionize_runs(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_sessionize(stream), "sess_out", mode="complete")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert rows
    total_events = sum(r.n_events for r in rows)
    assert total_events == load_table(spark, sf_dir, "events").count()
    assert all(r.session_start_us <= r.session_end_us for r in rows)


def test_stream_user_totals_stateful(spark, sf_dir):
    from locopy_spark.streaming.stateful import stream_user_totals

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_user_totals(stream), "totals_out", mode="update")
    # last update per user is the final running total
    got = {
        r.user_id: (r.n_events, r.sum_value_fix)
        for r in spark.sql("SELECT * FROM totals_out").collect()
    }
    assert got, "stateful op produced no rows"
    batch = {
        r.user_id: (r.n, r.s_fix)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias(
                "s_fix"
            ),
        )
        .collect()
    }
    assert got == batch


def test_stream_dedup(spark, sf_dir):
    from locopy_spark.streaming.stateful import stream_dedup

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_dedup(stream), "dedup_out", mode="append")
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS n FROM dedup_out").collect()[0].n
    total = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
    assert n == total
    assert total == load_table(spark, sf_dir, "events").select("event_id").distinct().count()


def test_stream_enrich_static_join(spark, sf_dir):
    from locopy_spark.streaming.stateful import stream_enrich

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = read_event_stream(spark, sf_dir)
    run_to_memory(
        stream_enrich(stream, dim, on="user_id"), "enrich_out", mode="append"
    )
    got = spark.sql(
        "SELECT c_mktsegment, COUNT(*) AS n FROM enrich_out GROUP BY 1"
    ).collect()
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, "user_id", "left")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {(r.c_mktsegment, r.n) for r in got} == {
        (r.c_mktsegment, r["count"]) for r in batch
    }


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from locopy_spark.streaming.jobs import stream_stream_join

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_stream_join(stream), "ssj_out", mode="append")
    got = {
        (r.view_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = {
        (r.view_id, r.purchase_id)
        for r in v.join(
            p,
            F.expr(
                "v_user = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 30 minutes"
            ),
        ).collect()
    }
    assert got and got == batch


def test_stream_quality_filter_matches_batch(spark, sf_dir):
    from locopy_spark.queries.docs_ext import t_quality_filter
    from locopy_spark.streaming.jobs import (
        read_document_stream,
        stream_quality_filter,
    )

    out = stream_quality_filter(read_document_stream(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("sq_filter")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.n_tokens, r.keep)
            for r in spark.sql("SELECT * FROM sq_filter").collect()
        }
    finally:
        q.stop()
    want = {
        (r.doc_id, r.n_tokens, r.keep)
        for r in t_quality_filter(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-arrival semantics: events older than the watermark are
    dropped, and append mode only emits windows the watermark has
    closed."""
    import pyspark.sql.functions as F

    from locopy_spark.streaming.jobs import stream_window_agg

    land = tmp_path / "landing"
    land.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(land / name))

    hr = "2024-01-01 {:02d}:{:02d}:00"
    # batch 1: three events inside the 10:00-11:00 window
    write_batch(
        "b1",
        [
            (1, __import__("datetime").datetime(2024, 1, 1, 10, 5), 1, "view", 1.0),
            (2, __import__("datetime").datetime(2024, 1, 1, 10, 15), 2, "view", 1.0),
            (3, __import__("datetime").datetime(2024, 1, 1, 10, 45), 1, "view", 1.0),
        ],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    out = stream_window_agg(stream, window="1 hour", watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark still inside the window: nothing finalized yet
        assert spark.sql("SELECT * FROM wm_test").count() == 0
        # batch 2: an event at 14:00. The watermark only advances AFTER
        # this batch completes (to 14:00 - 30min = 13:30)
        write_batch(
            "b2",
            [(4, __import__("datetime").datetime(2024, 1, 1, 14, 0), 3, "view", 1.0)],
        )
        q.processAllAvailable()
        # batch 3: a LATE event back at 10:30 — now behind the 13:30
        # watermark, so it must be dropped, and the closed 10-11 window
        # flushes with its original contents
        write_batch(
            "b3",
            [(5, __import__("datetime").datetime(2024, 1, 1, 10, 30), 9, "view", 99.0)],
        )
        q.processAllAvailable()
        # one more epoch so any pending finalized windows flush
        write_batch(
            "b4",
            [(6, __import__("datetime").datetime(2024, 1, 1, 14, 5), 3, "view", 1.0)],
        )
        q.processAllAvailable()
        rows = {
            (r["window"].start.hour, r.n_events, float(r.sum_value))
            for r in spark.sql("SELECT * FROM wm_test").collect()
        }
    finally:
        q.stop()
    # 10:00 window finalized with the ORIGINAL 3 events — the late
    # 10:30 row (value 99.0) was dropped, not merged
    assert (10, 3, 3.0) in rows
    assert not any(v == 99.0 or n == 4 for _, n, v in rows)


def test_stream_incr_rollup_matches_batch(spark, sf_dir):
    """foreachBatch rollup maintenance converges to the one-shot batch
    rollup — the streaming half of q_incr_rollup's incremental==batch
    property."""
    from locopy_spark.queries.events_ext import q_incr_rollup
    from locopy_spark.streaming.jobs import read_event_stream, stream_incr_rollup

    stream = read_event_stream(spark, sf_dir)
    q = stream_incr_rollup(stream, state_view="rollup_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.hour_us // 1_000_000, r.event_type): (r.n_events, r.sum_value_fix)
        for r in spark.table("global_temp.rollup_state_t").collect()
    }
    want = {
        (r.hour_ts, r.event_type): (
            r.n_events,
            round(r.sum_value * 1000),
        )
        for r in q_incr_rollup(spark, sf_dir).collect()
    }
    assert got and got == want


def test_stream_asof_enrich_matches_batch(spark, sf_dir):
    """Temporal dimension lookup on the stream equals the batch as-of
    join on the same data — late events get the dimension state at
    THEIR time, not the latest snapshot row."""
    from locopy_spark.functions.numeric import epoch_us
    from locopy_spark.operators.asof import asof_join
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import stream_asof_enrich

    o = load_table(spark, sf_dir, "orders")
    dim = o.select(
        F.col("o_custkey").alias("user_id"),
        epoch_us(o, "o_orderdate").alias("od_us"),
        "o_orderkey",
        "o_totalprice",
    )
    stream = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    )
    q = stream_asof_enrich(
        stream, dim, on="user_id", left_time="ts_us", right_time="od_us",
        value_cols=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
        out_view="asof_en_t",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.event_id, r.o_orderkey)
        for r in spark.table("global_temp.asof_en_t").collect()
    }
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    left = e.select("user_id", "event_id", epoch_us(e, "ts").alias("ts_us"))
    want = {
        (r.event_id, r.o_orderkey)
        for r in asof_join(
            left, dim, on="user_id", left_time="ts_us", right_time="od_us",
            value_cols=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
        ).collect()
    }
    assert got and got == want


def test_stream_near_dedup_matches_batch(spark, sf_dir):
    """First-seen-band streaming near-dup equals the batch arrival
    dedup when docs arrive in order (single-file stream)."""
    from locopy_spark.queries.docs import d_incr_dedup
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_near_dedup

    q = stream_near_dedup(
        read_document_stream(spark, sf_dir), out_view="ndd_out",
        state_view="ndd_state",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.is_dup)
        for r in spark.table("global_temp.ndd_out").collect()
    }
    want = {
        (r.doc_id, r.is_dup) for r in d_incr_dedup(spark, sf_dir).collect()
    }
    assert got and got == want
    assert any(d for _, d in got)  # the corpus really contains near-dups


def test_stream_cdc_apply_matches_batch(spark, sf_dir, tmp_path):
    """Micro-batched I/U/D replay converges to the batch cdc_apply:
    the streaming dimension follows its changelog exactly."""
    import shutil
    from pathlib import Path

    from locopy_spark.queries.etl_ext import _changelog, q_cdc_apply
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cdc_apply

    c = load_table(spark, sf_dir, "customer")
    log = _changelog(c)
    stream_dir = tmp_path / "cdc_stream"
    stream_dir.mkdir()
    # one file per seq epoch, named + mtime-ordered so the file source
    # delivers the changelog in order with maxFilesPerTrigger=1
    for s in (1, 2, 3):
        staging = tmp_path / f"stage_{s}"
        log.filter(F.col("seq") == s).coalesce(1).write.parquet(str(staging))
        part = next(Path(staging).glob("part-*.parquet"))
        shutil.move(str(part), str(stream_dir / f"{s:03d}.parquet"))
    changes = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = stream_cdc_apply(
        changes, c, key="c_custkey", seq_col="seq", state_view="cdc_state_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in
        spark.table("global_temp.cdc_state_t")
        .filter(~F.col("__deleted"))
        .drop("__seq", "__deleted")
        .collect()
    )
    want = sorted(tuple(r) for r in q_cdc_apply(spark, sf_dir).collect())
    assert got and got == want


def test_stream_topk_matches_batch(spark, sf_dir):
    """O(K)-state top-K maintenance over the stream equals the batch
    top-K over the same documents."""
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_topk

    score = F.expr(
        "CAST(size(filter(split(lower(trim(text)), '\\\\s+'),"
        " t -> t IN ('the', 'and', 'is', 'to', 'of', 'a', 'in', 'that',"
        " 'it', 'on', 'for'))) AS DOUBLE) / size(split(lower(trim(text)), '\\\\s+'))"
    )
    stream = read_document_stream(spark, sf_dir)
    q = stream_topk(stream, score, k=25, state_view="topk_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        (r.doc_id, r.score)
        for r in spark.table("global_temp.topk_state_t")
        .orderBy(F.col("score").desc(), "doc_id")
        .collect()
    ]
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = [
        (r.doc_id, r.score)
        for r in docs.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(25)
        .collect()
    ]
    assert got and got == want


def test_stream_profile_matches_batch(spark, sf_dir):
    """The additively-merged streaming profile equals the batch
    aggregate — every metric is a commutative monoid, so arrival
    order and batching cannot change the result."""
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_profile

    stream = read_document_stream(spark, sf_dir)
    q = stream_profile(stream, state_view="profile_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("global_temp.profile_state_t").collect()
    assert len(got) == 1
    docs = load_table(spark, sf_dir, "documents")
    want = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("COUNT(*) - COUNT(text)").alias("n_null_text"),
        F.min("doc_id"), F.max("doc_id"),
        F.min("n_chars"), F.max("n_chars"),
    ).collect()
    assert tuple(got[0]) == tuple(want[0])


def test_stream_cdc_apply_out_of_order_delete_sticks(spark, sf_dir, tmp_path):
    """A stale pre-delete change arriving AFTER the delete must not
    resurrect the key: the tombstone retains the applied sequence."""
    import shutil
    from pathlib import Path

    from locopy_spark.streaming.stateful import stream_cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, val double"
    )
    log_schema = "k long, op string, seq long, name string, val double"
    # file 001: delete k=1 at seq 5; file 002: STALE update at seq 3
    batches = [
        [(1, "D", 5, None, None)],
        [(1, "U", 3, "stale", 99.0)],
    ]
    stream_dir = tmp_path / "ooo_cdc"
    stream_dir.mkdir()
    for i, rows in enumerate(batches, 1):
        staging = tmp_path / f"ooo_stage_{i}"
        spark.createDataFrame(rows, log_schema).coalesce(1).write.parquet(
            str(staging)
        )
        part = next(Path(staging).glob("part-*.parquet"))
        shutil.move(str(part), str(stream_dir / f"{i:03d}.parquet"))
    changes = (
        spark.readStream.schema(log_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = stream_cdc_apply(
        changes, snap, key="k", seq_col="seq", state_view="cdc_ooo_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = {
        r.k: (r.name, r.val)
        for r in spark.table("global_temp.cdc_ooo_t")
        .filter(~F.col("__deleted"))
        .collect()
    }
    assert live == {2: ("b", 20.0)}  # k=1 stays deleted


def test_stream_daily_anomaly_matches_batch(spark, sf_dir):
    """The additively-merged daily series (and its trailing-window
    z-scores) equals the batch aggregate over the same events —
    per-day sums are commutative monoids, so batching cannot change
    the series, and both sides share ONE scorer."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        score_daily_anomalies,
        stream_daily_anomaly,
    )

    stream = read_event_stream(spark, sf_dir)
    q = stream_daily_anomaly(stream, state_view="daily_anomaly_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_anomalies(
            spark.table("global_temp.daily_anomaly_t")
        ).orderBy("day").collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(
            F.expr("cast(floor(value * 1000 + 0.5) as bigint)")
        ).alias("x_fix")
    )
    want = [
        tuple(r)
        for r in score_daily_anomalies(daily).orderBy("day").collect()
    ]
    assert got and got == want


def test_stream_quantiles_matches_batch(spark, sf_dir):
    """The additively-merged histogram state yields the same quantiles
    as the batch binning over the full events table, and each quantile
    brackets the exact percentile within one bin width."""
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        binned_counts,
        histogram_quantiles,
        stream_quantiles,
    )

    q = stream_quantiles(
        read_event_stream(spark, sf_dir), state_view="qh_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.p: (r.q_upper, r.total)
        for r in histogram_quantiles(spark.table("global_temp.qh_t")).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.p: (r.q_upper, r.total)
        for r in histogram_quantiles(binned_counts(ev)).collect()
    }
    assert got and got == want
    exact = ev.selectExpr(
        "percentile(value, array(0.5, 0.9, 0.99)) as qs"
    ).collect()[0].qs
    for p, x in zip((0.5, 0.9, 0.99), exact):
        assert abs(got[p][0] - x) <= 0.5 + 1e-9  # one bin width


def test_binned_counts_negative_values(spark):
    """Floor division (not `div` truncation): negative values must get
    uniform-width bins so the one-bin-width quantile bound holds."""
    from locopy_spark.streaming.stateful import binned_counts

    df = spark.createDataFrame(
        [(-0.7,), (-0.3,), (0.3,), (0.7,)], "value double"
    )
    got = {r.bin: r.n for r in binned_counts(df).collect()}
    # width 0.5: -0.7 -> bin -2, -0.3 -> bin -1, 0.3 -> bin 0, 0.7 -> bin 1
    assert got == {-2: 1, -1: 1, 0: 1, 1: 1}


def test_stream_triangle_count_matches_batch(spark, sf_dir, tmp_path):
    """Count-at-last-edge: the incrementally-maintained triangle count
    over 4 out-of-order edge chunks equals the batch census on the
    full edge set (every triangle has exactly one last edge)."""
    from locopy_spark.functions.cache import managed_persist
    from locopy_spark.operators.graph import triangle_census
    from locopy_spark.queries.mining import copurchase_edges
    from locopy_spark.streaming.stateful import stream_triangle_count

    e = managed_persist(copurchase_edges(spark, sf_dir), "tri_stream_test")
    want = triangle_census(e).collect()[0].n_triangles
    for i, pred in enumerate(["2", "0", "3", "1"]):
        e.filter(f"pmod(a + b, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"echunk{i}"))
    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "echunk*"))
    )
    q = stream_triangle_count(stream, state_view="tri_s", count_view="tri_c")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("global_temp.tri_c").collect()[0].n_triangles
    assert got == want and want > 0
    # second read over the SAME maintained edge state: the local
    # clustering-coefficient profile closes on demand via edges=
    from locopy_spark.queries.mining import q_clustering_coef

    got_cc = [
        tuple(r)
        for r in q_clustering_coef(
            spark, sf_dir, edges=spark.table("global_temp.tri_s")
        ).collect()
    ]
    want_cc = [tuple(r) for r in q_clustering_coef(spark, sf_dir).collect()]
    assert got_cc and got_cc == want_cc
    # third read over the SAME edge state: Jaccard link prediction
    from locopy_spark.queries.mining import q_jaccard_links

    got_j = [
        tuple(r)
        for r in q_jaccard_links(
            spark, sf_dir, edges=spark.table("global_temp.tri_s")
        ).collect()
    ]
    want_j = [tuple(r) for r in q_jaccard_links(spark, sf_dir).collect()]
    assert got_j and got_j == want_j


def test_stream_acf_matches_batch(spark, sf_dir):
    """ACF over the additively maintained daily series equals the
    batch scorer over the same events — same maintainer as the
    anomaly state, one shared scorer (acf_over_daily)."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.queries.stats import acf_over_daily
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import score_daily_acf, stream_acf

    stream = read_event_stream(spark, sf_dir)
    q = stream_acf(stream, state_view="acf_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_acf(spark.table("global_temp.acf_state_t"))
        .orderBy("lag")
        .collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("x")
    )
    want = [tuple(r) for r in acf_over_daily(daily).orderBy("lag").collect()]
    assert got and got == want


def test_stream_mann_kendall_matches_batch(spark, sf_dir):
    """The MK trend verdict over the additively maintained daily
    series equals the batch scorer over the same events — the third
    scorer sharing the daily-anomaly state layout."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.queries.assoc import mk_over_daily
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        score_daily_mk,
        stream_mann_kendall,
    )

    stream = read_event_stream(spark, sf_dir)
    q = stream_mann_kendall(stream, state_view="mk_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_mk(
            spark.table("global_temp.mk_state_t")
        ).collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("x")
    )
    want = [tuple(r) for r in mk_over_daily(daily).collect()]
    assert got and got == want


def test_stream_seasonal_matches_batch(spark, sf_dir):
    """The seasonal profile over the additively maintained daily
    series equals the batch scorer over the same events — fourth
    scorer on the shared daily-state layout."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.queries.trends import seasonal_over_daily
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        score_daily_seasonal,
        stream_seasonal,
    )

    stream = read_event_stream(spark, sf_dir)
    q = stream_seasonal(stream, state_view="seasonal_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_seasonal(
            spark.table("global_temp.seasonal_state_t")
        ).collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("x")
    )
    want = [tuple(r) for r in seasonal_over_daily(daily).collect()]
    assert got and got == want


def test_stream_boilerplate_matches_batch(spark, sf_dir, tmp_path):
    """The (source, doc, span) inverted index is a set and the doc
    counts are additive over never-seen docs, so stream state + the
    shared finisher equals batch t_boilerplate even when chunks
    OVERLAP (doc re-delivery must not double-count)."""
    from locopy_spark.queries.docs_ext import boiler_report, t_boilerplate
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    # overlapping chunks: doc_id % 4 in {p, p+1 mod 4} — every doc is
    # delivered exactly twice, out of order
    for i, p in enumerate([2, 0, 3, 1]):
        docs.filter(
            f"pmod(doc_id, 4) in ({p}, {(p + 1) % 4})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"boilchunk{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "boilchunk*"))
    )
    q = stream_boilerplate(
        stream, span_view="boiler_span_t", count_view="boiler_count_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in boiler_report(
            spark.table("global_temp.boiler_span_t"),
            spark.table("global_temp.boiler_count_t"),
        )
        .orderBy("source")
        .collect()
    ]
    want = [tuple(r) for r in t_boilerplate(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_lexical_index_matches_batch_prf(spark, sf_dir, tmp_path):
    """The postings state is a set and the doc count is additive over
    never-seen docs, so on-demand scoring from the streamed index
    (shared lexical_from_postings + prf_report finishers) equals
    batch s_prf_expand even with OVERLAPPING out-of-order chunks."""
    from locopy_spark.queries.docs import KNN_QUERY_IDS
    from locopy_spark.queries.docs_ext import (
        PRF_FB,
        lexical_from_postings,
        prf_report,
        s_prf_expand,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_lexical_index

    docs = load_table(spark, sf_dir, "documents")
    for i, p in enumerate([1, 3, 0, 2]):
        docs.filter(
            f"pmod(doc_id, 4) in ({p}, {(p + 2) % 4})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"lexchunk{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lexchunk*"))
    )
    q = stream_lexical_index(
        stream, tok_view="lex_tok_t", count_view="lex_count_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = lexical_from_postings(
        spark.table("global_temp.lex_tok_t"),
        spark.table("global_temp.lex_count_t"),
        KNN_QUERY_IDS,
        PRF_FB,
    )
    got = [tuple(r) for r in prf_report(t).collect()]
    want = [tuple(r) for r in s_prf_expand(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_dedup_yield_matches_batch(spark, sf_dir, tmp_path):
    """The fingerprint table is the honest state (late-arriving
    smaller ids change keepers), so stream state + the shared
    resolution finisher equals batch p_dedup_yield on OVERLAPPING
    out-of-order chunks — including keeper flips across chunks."""
    from locopy_spark.queries.corpus import dedup_yield_report, p_dedup_yield
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_dedup_yield

    docs = load_table(spark, sf_dir, "documents")
    # reversed order: high doc_ids first, so keepers flip as smaller
    # ids arrive in later chunks; each chunk also repeats a few docs
    # WITHIN itself (same-batch re-delivery — the case the cross-batch
    # seen anti-join cannot catch)
    for i, p in enumerate([3, 2, 1, 0]):
        chunk = docs.filter(f"pmod(doc_id, 4) in ({p}, {(p + 1) % 4})")
        chunk.unionAll(chunk.limit(5)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"dychunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "dychunk*"))
    )
    q = stream_dedup_yield(stream, state_view="dedup_yield_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in dedup_yield_report(
            spark.table("global_temp.dedup_yield_t")
        )
        .orderBy("source")
        .collect()
    ]
    want = [tuple(r) for r in p_dedup_yield(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_user_totals_tws_matches_batch_and_v1(spark, sf_dir):
    """The transformWithStateInPandas form (typed ValueState over the
    RocksDB provider) computes the same exact totals as the
    applyInPandasWithState form and the batch aggregate.  Where the
    state-v2 protobuf dependency is absent (this container), the job
    must fail LOUD with the dependency named — the spark-avro
    convention — and the parity assertion is skipped."""
    import pytest

    from locopy_spark.streaming.jobs import read_event_stream, run_to_memory
    from locopy_spark.streaming.stateful import stream_user_totals_tws

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            stream_user_totals_tws(read_event_stream(spark, sf_dir))
        pytest.skip("protobuf not installed: state-v2 parity not runnable here")

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, sf_dir)
        run_to_memory(
            stream_user_totals_tws(stream), "totals_tws_out", mode="update"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = {
        r.user_id: (r.n_events, r.sum_value_fix)
        for r in spark.sql("SELECT * FROM totals_tws_out").collect()
    }
    assert got, "transformWithState produced no rows"
    batch = {
        r.user_id: (r.n, r.s_fix)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("cast(floor(value * 1000 + 0.5) as bigint)")
            ).alias("s_fix"),
        )
        .collect()
    }
    assert got == batch


def test_stream_shapley_matches_batch(spark, sf_dir, tmp_path):
    """Per-user first-touch times are IDEMPOTENT MIN monoids; the
    four chunks OVERLAP (every event delivered twice) AND are keyed
    by EVENT id so one user's purchase and touches arrive in
    different batches — the mask must converge to the batch mask
    regardless; state + grid + φ panel equals batch exactly, and the
    Shapley efficiency identity Σφ·k! = k!·(v(full) − v(∅)) holds."""
    from locopy_spark.queries.events_ext import (
        q_attribution_shapley,
        shapley_grid,
        shapley_report,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_shapley

    e = load_table(spark, sf_dir, "events")
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        e.filter(
            f"pmod(event_id, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"shapchunk{i}")
        )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "shapchunk0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "shapchunk*"))
    )
    q = stream_shapley(stream, state_view="shapley_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_rows = shapley_report(
        shapley_grid(spark.table("global_temp.shapley_t")), spark
    ).collect()
    got = [tuple(r) for r in got_rows]
    want = [tuple(r) for r in q_attribution_shapley(spark, sf_dir).collect()]
    assert got and got == want
    # efficiency identity: Σφ·k! = k!·(v(full) − v(∅))
    v_full, v_empty = got_rows[0].v_full, got_rows[0].v_empty
    assert sum(r.phi_x24 for r in got_rows) == 24 * (v_full - v_empty)


def test_stream_ann_postings_matches_batch(spark, sf_dir, tmp_path):
    """The live postings state must equal the batch signature table for
    any chunking (the signature kernel is bit-deterministic per row),
    and serving knn_lsh THROUGH the streamed postings must equal the
    batch serving path exactly."""
    from locopy_spark.operators.similarity import knn_lsh, lsh_signatures
    from locopy_spark.queries.docs import KNN_K, KNN_QUERY_IDS
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ann_postings

    emb = load_table(spark, sf_dir, "embeddings")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"annchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "annchunk*"))
    )
    q = stream_ann_postings(stream, state_view="annp_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.table("global_temp.annp_t").collect()
    )
    want = sorted(tuple(r) for r in lsh_signatures(emb).collect())
    assert got and got == want
    served = sorted(
        tuple(r)
        for r in knn_lsh(
            emb,
            query_ids=KNN_QUERY_IDS,
            k=KNN_K,
            postings=spark.table("global_temp.annp_t"),
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in knn_lsh(emb, query_ids=KNN_QUERY_IDS, k=KNN_K).collect()
    )
    assert served == batch


def test_stream_ann_lists_matches_batch(spark, sf_dir, tmp_path):
    """Live IVF lists against frozen centroids must equal the batch
    assignment for any chunking, and serving knn_ivf THROUGH the
    streamed lists + the same centroids must equal batch s_knn_ivf's
    deployable plan exactly (assignment is per-row deterministic, so
    unlike the LSH arrow path there is no batch-shape caveat)."""
    from pyspark.sql import functions as F

    from locopy_spark.operators.similarity import (
        _ivf_centroids,
        ivf_base_lists,
        knn_ivf,
        with_fixed_norm,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ann_lists

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(
        with_fixed_norm(emb), "vec_id", "embedding", 16
    ).localCheckpoint()
    for i, pred in enumerate(["2", "0", "3", "1"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ivfchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ivfchunk*"))
    )
    q = stream_ann_lists(stream, cent, state_view="annl_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table("global_temp.annl_t")
    got = sorted(
        (r.centroid_id, r.n_id, r.n_norm) for r in state.collect()
    )
    want = sorted(
        (r.centroid_id, r.n_id, r.n_norm)
        for r in ivf_base_lists(emb).collect()
    )
    assert got and got == want
    served = sorted(
        tuple(r)
        for r in knn_ivf(
            emb,
            query_ids=[0, 1, 2, 3, 4],
            k=5,
            n_centroids=16,
            n_probe=4,
            base_lists=state,
            centroids=cent,
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in knn_ivf(
            emb, query_ids=[0, 1, 2, 3, 4], k=5, n_centroids=16, n_probe=4
        ).collect()
    )
    assert served == batch


# -- stream twin == batch twin, one table ------------------------------------
#
# Every monoid twin below is checked the same way: its streamed table is
# written once per module as 4 pmod(key, 4) chunks in a scrambled order
# (overlapping chunks deliver every row twice, exercising idempotent
# merges), the file source feeds one chunk per micro-batch
# (maxFilesPerTrigger=1), and each finisher over the final state must
# equal its batch twin exactly.  Chunk keys are chosen so one merge key's
# rows span several batches (e.g. lineitem by SUPPLIER splits an order's
# lines; orders by ORDER key splits a customer's orders).
#
# A row: twin -> (streamed table + static dims, chunk key, overlap,
# checks).  A check is (finisher, batch twin[, may be empty]); a finisher is
# "module.fn" in locopy_spark.queries applied to the state, or
# fn(state, table); a batch twin is a queries() key or fn(table).

_CHUNK_ORDER = (2, 0, 3, 1)


def _cms_probes(t):
    from locopy_spark.functions.text import tokens_expr
    from locopy_spark.queries.corpus import CMS_PROBE_K

    vocab = (
        t("documents")
        .select(F.explode(F.expr(tokens_expr("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        vocab.orderBy(F.desc("c"), "token")
        .limit(CMS_PROBE_K)
        .select("token", F.col("c").alias("true_c"))
    )


def _kmv_batch(t):
    from locopy_spark.functions.text import shingles_expr, tokens_expr
    from locopy_spark.operators.sketches import kmv_sketch

    sh = (
        t("documents")
        .select("source", F.expr(tokens_expr("text")).alias("toks"))
        .select(
            "source", F.explode(F.expr(shingles_expr("toks", 3))).alias("sh")
        )
    )
    return (
        kmv_sketch(sh, "source", "sh", k=64)
        .select("source", "kmv")
        .orderBy("source")
    )


def _bloom_batch(t):
    from locopy_spark.queries.tpch_ext import _bloom_pos_spark

    return (
        t("orders")
        .select("o_custkey")
        .distinct()
        .select(F.explode(F.expr(_bloom_pos_spark("o_custkey"))).alias("pos"))
        .distinct()
        .orderBy("pos")
    )


def _q(module, fn):
    from importlib import import_module

    return getattr(import_module(f"locopy_spark.queries.{module}"), fn)


def _risk(s):
    return _q("assoc", "lifetime_risk_report")(s)


def _ranked(s, t):
    return _q("stats", "inequality_ranked")(t("customer"), s)


TWINS = {
    "fertility": (
        ["documents"], "doc_id", False,
        [("corpus.fertility_report", "p_tokenizer_fertility")],
    ),
    "length_histogram": (
        ["documents"], "doc_id", False,
        [("corpus.length_report", "p_length_histogram")],
    ),
    # ORDERS split by customer: one custkey's orders land in one chunk,
    # but its bit positions collide with other chunks' keys
    "bloom": (
        ["orders"], "o_custkey", False,
        [(lambda s, t: s.orderBy("pos"), _bloom_batch)],
    ),
    "ols_trend": (
        ["orders"], "o_orderkey", False,
        [("trends.ols_report", "q_ols_trend")],
    ),
    "benford": (
        ["orders", "customer"], "o_orderkey", False,
        [("trends.benford_report", "q_benford")],
    ),
    "weekday_uplift": (
        ["orders"], "o_orderkey", False,
        [("tpch_ext.weekday_report", "q_weekday_uplift")],
    ),
    "vocab": (
        ["documents"], "doc_id", False,
        [("corpus.vocab_coverage_report", "p_vocab_coverage")],
    ),
    "xcorr": (
        ["events"], "event_id", False,
        [("events_ext.xcorr_report", "q_xcorr")],
    ),
    "cramers": (
        ["orders", "customer"], "o_orderkey", False,
        [
            ("assoc.cramers_report", "q_cramers_v"),
            ("assoc.lambda_report", "q_goodman_lambda"),
        ],
    ),
    "hhi": (
        ["lineitem", "supplier", "nation"], "l_orderkey", False,
        [("assoc.hhi_report", "q_hhi")],
    ),
    "co_engagement": (
        ["events"], "event_id", True,
        [(
            lambda s, t: _q("events_ext", "co_engagement_report")(s)
            .orderBy("a", "b"),
            "q_co_engagement",
        )],
    ),
    "ca_trend": (
        ["events"], "event_id", False,
        [("trends.ca_report", "q_cochran_armitage")],
    ),
    "filter_funnel": (
        ["documents"], "doc_id", False,
        [("quality.funnel_report", "p_filter_funnel")],
    ),
    "centroids": (
        ["embeddings"], "vec_id", False,
        [("docs_ext.centroid_report", "d_embedding_centroids")],
    ),
    "mix_drift": (
        ["orders"], "o_orderkey", False,
        [("trends.mix_report", "q_mix_drift")],
    ),
    # the d x w cells themselves, then probing them through the shared
    # cms_estimate finisher
    "cms": (
        ["documents"], "doc_id", False,
        [
            (
                lambda s, t: s.orderBy("r", "col"),
                lambda t: _q("corpus", "cms_cells")(t("documents"))
                .orderBy("r", "col"),
            ),
            (
                lambda s, t: _q("corpus", "cms_estimate")(s, _cms_probes(t)),
                "t_cms_counts",
                True,
            ),
        ],
    ),
    "kmv_sketch": (
        ["documents"], "doc_id", False,
        [(lambda s, t: s.orderBy("source"), _kmv_batch)],
    ),
    "simpson": (
        ["documents"], "doc_id", False,
        [
            ("corpus.simpson_report", "t_simpson_diversity"),
            ("corpus.zipf_report", "t_zipf_deviation"),
            ("corpus.hapax_report", "t_hapax_ratio"),
            ("corpus.source_overlap_report", "t_source_overlap"),
        ],
    ),
    "norm_hist": (
        ["embeddings"], "vec_id", False,
        [(lambda s, t: s.orderBy("band"), "d_norm_histogram")],
    ),
    "heatmap": (
        ["events"], "event_id", False,
        [("timeseries.heat_report", "q_calendar_heatmap")],
    ),
    "dormancy": (
        ["events"], "event_id", False,
        [("timeseries.dormancy_report", "q_dormancy_curve")],
    ),
    "centroid_purity": (
        ["embeddings"], "vec_id", False,
        [(
            lambda s, t: _q("docs_ext", "purity_report")(t("embeddings"), s),
            "s_centroid_purity",
        )],
    ),
    "anova": (
        ["orders"], "o_orderkey", False,
        [
            ("stats.anova_report", "q_anova"),
            ("stats.posthoc_report", "q_posthoc_pairs"),
        ],
    ),
    "backlog": (
        ["orders"], "o_orderkey", False,
        [(
            lambda s, t: _q("tpch_ext", "backlog_report")(
                s, horizon_from=t("orders")
            ),
            "q_backlog_aging",
        )],
    ),
    "survival": (
        ["orders"], "o_orderkey", False,
        [
            (
                lambda s, t: _q("assoc", "km_from_risk")(_risk(s)),
                "q_kaplan_meier",
            ),
            (
                lambda s, t: _q("assoc", "na_from_risk")(_risk(s)),
                "q_nelson_aalen",
            ),
        ],
    ),
    "inequality": (
        ["orders"], "o_orderkey", False,
        [
            (
                lambda s, t: _q("stats", "gini_from_ranked")(_ranked(s, t)),
                "q_gini",
            ),
            (
                lambda s, t: _q("stats", "lorenz_from_ranked")(_ranked(s, t)),
                "q_lorenz_curve",
            ),
        ],
    ),
    "peaks": (
        ["orders"], "o_orderkey", False,
        [
            ("timeseries.peaks_report", "q_peak_days"),
            ("timeseries.changepoint_report", "q_changepoint"),
            ("timeseries.drawdown_report", "q_drawdown"),
            ("stats.seasonal_strength_report", "q_seasonal_strength"),
            ("timeseries.xmr_report", "q_xmr_control", True),
            ("timeseries.bollinger_report", "q_bollinger"),
            ("timeseries.rsi_report", "q_rsi"),
            ("timeseries.mase_report", "q_mase"),
        ],
    ),
    "fulfillment": (
        ["lineitem", "orders"], "l_suppkey", False,
        [("tpch_ext.fulfillment_report", "q_fulfillment_lag")],
    ),
    "basket_size": (
        ["lineitem"], "l_suppkey", False,
        [(
            lambda s, t: _q("tpch", "basket_report")(s, t("orders")),
            "q_basket_size_dist",
        )],
    ),
    "value_migration": (
        ["orders"], "o_orderkey", False,
        [("tpch_ext.migration_report", "q_value_migration")],
    ),
    "street_vs_list": (
        ["lineitem", "part"], "l_orderkey", False,
        [("tpch_ext.svl_report", "q_street_vs_list")],
    ),
    "price_index": (
        ["lineitem"], "l_suppkey", False,
        [("tpch_ext.price_index_report", "q_price_index")],
    ),
    "stickiness": (
        ["events"], "event_id", True,
        [("timeseries.stickiness_report", "q_stickiness")],
    ),
    "abc_xyz": (
        ["lineitem"], "l_suppkey", False,
        [
            ("tpch_ext.abc_xyz_report", "q_abc_xyz"),
            ("tpch_ext.croston_report", "q_croston"),
            ("tpch_ext.obsolete_report", "q_demand_obsolete", True),
            ("tpch_ext.newsvendor_report", "q_newsvendor"),
            (
                lambda s, t: _q("stats", "brand_xcorr_report")(s, t("part")),
                "q_brand_xcorr",
            ),
        ],
    ),
    "odds_ratio": (
        ["lineitem"], "l_orderkey", False,
        [("tpch_ext.odds_report", "q_odds_ratio")],
    ),
    "cycle_time": (
        ["lineitem", "orders"], "l_suppkey", False,
        [("tpch_ext.little_law_report", "q_little_law")],
    ),
    "leadtime": (
        ["lineitem", "orders"], "l_orderkey", False,
        [("tpch_ext.leadtime_report", "q_supplier_leadtime")],
    ),
    "sla": (
        ["lineitem", "orders"], "l_orderkey", False,
        [
            ("tpch_ext.sla_report", "q_ship_sla"),
            ("stats.friedman_report", "q_friedman"),
        ],
    ),
    "mcnemar": (
        ["orders"], "o_orderkey", True,
        [
            ("trends.mcnemar_report", "q_mcnemar"),
            ("trends.capture_report", "q_capture_recapture"),
        ],
    ),
    "growth": (
        ["events"], "event_id", True,
        [("timeseries.growth_report", "q_growth_accounting")],
    ),
    "did": (
        ["lineitem", "part"], "l_orderkey", False,
        [("trends.did_report", "q_did")],
    ),
    "dispersion": (
        ["lineitem", "part"], "l_orderkey", False,
        [(
            lambda s, t: _q("tpch_ext", "dispersion_report")(s, t("part")),
            "q_price_dispersion",
        )],
    ),
    "logrank": (
        ["orders", "customer"], "o_orderkey", False,
        [("assoc.logrank_report", "q_logrank")],
    ),
    "cliffs": (
        ["orders", "customer"], "o_orderkey", False,
        [
            ("stats.cliffs_report", "q_cliffs_delta"),
            ("stats.ks_report", "q_ks_test"),
            ("stats.mw_report", "q_mann_whitney"),
        ],
    ),
    "levene": (
        ["orders"], "o_orderkey", False,
        [("stats.levene_report", "q_levene")],
    ),
    "cuped": (
        ["orders"], "o_orderkey", False,
        [(
            lambda s, t: _q("trends", "cuped_report")(
                _q("trends", "cuped_treat")(s)
            ),
            "q_cuped",
        )],
    ),
    "loyalty": (
        ["orders"], "o_orderkey", False,
        [("tpch_ext.loyalty_report", "q_loyalty_migration")],
    ),
    "ndr": (
        ["orders"], "o_orderkey", False,
        [("timeseries.ndr_report", "q_ndr")],
    ),
    "bass": (
        ["orders"], "o_orderkey", True,
        [(
            lambda s, t: _q("timeseries", "bass_report")(
                _q("timeseries", "bass_grid")(s), s.sparkSession
            ),
            "q_bass_diffusion",
        )],
    ),
    "sprt": (
        ["events"], "event_id", True,
        [("trends.sprt_report", "q_sprt")],
    ),
    "funnel_sig": (
        ["events"], "event_id", True,
        [("events_ext.funnel_sig_report", "q_funnel_sig")],
    ),
    "phash": (
        ["documents"], "doc_id", True,
        [("docs_ext.phash_pairs", "m_phash_near_dup")],
    ),
    "jarque_bera": (
        ["orders"], "o_orderkey", False,
        [("stats.jb_report", "q_jarque_bera")],
    ),
    "cochran_q": (
        ["events"], "event_id", False,
        [("events_ext.cochran_report", "q_cochran_q")],
    ),
    "welch": (
        ["orders"], "o_orderkey", False,
        [("stats.welch_report", "q_welch_anova")],
    ),
    "moods": (
        ["orders"], "o_orderkey", False,
        [("stats.moods_report", "q_moods_median")],
    ),
}


@pytest.fixture(scope="module")
def twin_chunks(spark, sf_dir, tmp_path_factory):
    """(table, key, overlap) -> a file stream over 4 out-of-order
    pmod(key, 4) chunks of the table, one chunk per micro-batch; each
    chunk set is written once per module."""
    root = tmp_path_factory.mktemp("twin_chunks")
    made = {}

    def get(table, key, overlap):
        d = root / f"{table}_{key}_{int(overlap)}"
        if d not in made:
            df = load_table(spark, sf_dir, table)
            for i, p in enumerate(_CHUNK_ORDER):
                ps = f"{p}, {(p + 1) % 4}" if overlap else f"{p}"
                chunk = df.filter(f"pmod({key}, 4) IN ({ps})").coalesce(1)
                chunk.write.parquet(str(d / f"chunk{i}"))
            made[d] = spark.read.parquet(str(d / "chunk0")).schema
        return (
            spark.readStream.schema(made[d])
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "chunk*"))
        )

    return get


def _check_twin(spark, sf_dir, twin_chunks, name):
    import __spark_entry__ as entrymod
    from locopy_spark.streaming import stateful

    (table, *dims), key, overlap, checks = TWINS[name]

    def t(tbl):
        return load_table(spark, sf_dir, tbl)

    view = f"{name}_t"
    q = getattr(stateful, f"stream_{name}")(
        twin_chunks(table, key, overlap), *map(t, dims), state_view=view
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table(f"global_temp.{view}")
    for finisher, batch, *may_be_empty in checks:
        if isinstance(finisher, str):
            got_df = _q(*finisher.split("."))(state)
        else:
            got_df = finisher(state, t)
        if isinstance(batch, str):
            want_df = entrymod.queries()[batch](spark, sf_dir)
        else:
            want_df = batch(t)
        got = [tuple(r) for r in got_df.collect()]
        want = [tuple(r) for r in want_df.collect()]
        assert got == want, (name, batch)
        if not may_be_empty:
            assert got, (name, batch)


def _twin_test(name):
    def test(spark, sf_dir, twin_chunks):
        _check_twin(spark, sf_dir, twin_chunks, name)

    test.__doc__ = f"stream_{name} state + finishers == batch twins."
    return test


# One test per table row, named as the per-twin test it replaced.
_SUFFIX = {
    "survival": "both_batch_estimators",
    "inequality": "both_batch_reads",
}
for _name in TWINS:
    _test = f"test_stream_{_name}_matches_{_SUFFIX.get(_name, 'batch')}"
    globals()[_test] = _twin_test(_name)


def test_stream_view_owned_by_live_query(spark, sf_dir):
    """A second start on a view a live query owns raises ValueError
    naming the view, and the live query's state is left intact —
    whether the second start is the same twin or another twin."""
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_cms, stream_vocab

    q = stream_cms(read_document_stream(spark, sf_dir), state_view="owned_t")
    try:
        q.processAllAvailable()
        n = spark.table("global_temp.owned_t").count()
        assert n > 0
        for twin in (stream_cms, stream_vocab):
            with pytest.raises(ValueError, match="owned_t"):
                twin(read_document_stream(spark, sf_dir), state_view="owned_t")
        assert q.isActive
        assert spark.table("global_temp.owned_t").count() == n
    finally:
        q.stop()
    # once stopped, the view is free again
    stream_vocab(
        read_document_stream(spark, sf_dir), state_view="owned_t"
    ).stop()
