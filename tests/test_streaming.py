"""Structured Streaming tests: real streaming engine (file source, state
store, watermark) driven deterministically with availableNow +
processAllAvailable (SURVEY.md §5 — these semantics have no batch oracle)."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestion_pt_ms_spark.catalog import table_path
from dataingestion_pt_ms_spark.sources.readers import stream_from_dir
from dataingestion_pt_ms_spark.streaming.ingest import (
    ASSET_SCHEMA,
    RAW_BAR_SCHEMA,
    streaming_ingest,
)
from dataingestion_pt_ms_spark.streaming.jobs import (
    sessionized_stream,
    stateful_dedup_stream,
    tumbling_counts_stream,
)

UTC = dt.timezone.utc

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    """Stage the events table as a streaming-source directory (µs ts)."""
    src = str(tmp_path / "events_src")
    from dataingestion_pt_ms_spark.catalog import load_table

    load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).write.parquet(src)
    return src


def _run_to_memory(stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, sf_dir, events_dir):
    stream = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    _run_to_memory(tumbling_counts_stream(stream), "tumble_out", "append")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tumble_out").collect()
    }
    from dataingestion_pt_ms_spark.queries.timeseries import events_tumbling_6h

    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in events_tumbling_6h(spark, sf_dir).collect()
    }
    # append mode emits only windows the watermark closed; every emitted
    # window must match the batch result, and most windows must be emitted
    assert got, "no windows emitted"
    assert all(got[k] == want[k] for k in got)
    # the final (unclosed) window per event_type is withheld by the
    # watermark in append mode — up to 5 groups
    assert len(got) >= len(want) - 5


def test_stateful_dedup_stream(spark, events_dir, tmp_path):
    dup_dir = str(tmp_path / "dup_src")
    shutil.copytree(events_dir, dup_dir)
    # duplicate every file's contents once → every event_id appears twice
    spark.read.schema(EVENTS_SCHEMA).parquet(events_dir).write.mode("append").parquet(dup_dir)
    stream = stream_from_dir(spark, dup_dir, EVENTS_SCHEMA)
    _run_to_memory(stateful_dedup_stream(stream), "dedup_out", "append")
    out = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM dedup_out").first()
    assert out.n == out.d == 1000


def test_windowed_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a redelivery of the same event_id
    with a slightly later timestamp (at-least-once source behavior) is
    suppressed while inside the watermark horizon."""
    import glob
    import os
    import time

    from dataingestion_pt_ms_spark.streaming.jobs import windowed_dedup_stream

    src = str(tmp_path / "wdd_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    original = [(i, t0 + dt.timedelta(minutes=i), 1, "click", 1.0) for i in range(5)]
    redelivered = [
        (i, t0 + dt.timedelta(minutes=i, seconds=30), 1, "click", 1.0)
        for i in range(5)
    ]
    now = time.time()
    for i, rows in enumerate([original, redelivered]):
        stage = str(tmp_path / f"wdd{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage)
        dest = f"{src}/{i}.parquet"
        shutil.copyfile(glob.glob(f"{stage}/part-*.parquet")[0], dest)
        os.utime(dest, (now - 200 + i * 100, now - 200 + i * 100))
    stream = stream_from_dir(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    _run_to_memory(windowed_dedup_stream(stream, watermark="1 hour"), "wdd_out", "append")
    out = spark.sql(
        "SELECT count(*) n, count(DISTINCT event_id) d FROM wdd_out"
    ).first()
    assert out.n == out.d == 5  # each redelivery suppressed


def test_session_window_stream(spark, events_dir):
    stream = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    _run_to_memory(sessionized_stream(stream), "sess_out", "append")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert rows, "no sessions emitted"
    # session invariants: start <= end, positive counts
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: a row older than watermark horizon after the
    max event time advances far enough is excluded from its (closed)
    window."""
    import glob
    import os
    import time

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, 0, 0, tzinfo=UTC)
    on_time = [(i, t0 + dt.timedelta(minutes=i), 1, "click", 1.0) for i in range(1, 5)]
    advance = [(99, t0 + dt.timedelta(hours=8), 1, "click", 1.0)]
    advance2 = [(98, t0 + dt.timedelta(hours=9), 1, "click", 1.0)]
    late = [(100, t0 + dt.timedelta(minutes=5), 1, "click", 1.0)]  # hours late
    # The file source orders batches by modification time: stage each batch
    # as one explicitly named file with increasing mtime. Two advance
    # batches are needed — the watermark crossing finalizes the first
    # window one trigger after the advancing data, and only rows arriving
    # after that finalization are dropped as too-late.
    now = time.time()
    for i, rows in enumerate([on_time, advance, advance2, late]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = f"{src}/{i}.parquet"
        shutil.copyfile(part, dest)
        os.utime(dest, (now - 400 + i * 100, now - 400 + i * 100))
    stream = stream_from_dir(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    agg = tumbling_counts_stream(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first_window = [
        r
        for r in spark.sql("SELECT * FROM late_out").collect()
        if r.window_start == "2024-01-01 00:00:00"
    ]
    assert first_window and first_window[0].n_events == 4  # late row dropped


def test_streaming_ingest_foreachbatch_idempotent(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "bars")
    ckpt1, ckpt2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    rows = [
        ("SPY", "Day", dt.datetime(2024, 1, 1 + d, tzinfo=UTC), 1.0, 2.0, 0.5, 1.5, 10)
        for d in range(3)
    ]
    spark.createDataFrame(rows, RAW_BAR_SCHEMA).write.parquet(raw_dir)
    assets = spark.createDataFrame(
        [("alpaca_SPY", "alpaca", "SPY", "SPDR", "ETF")], ASSET_SCHEMA
    )
    for ckpt in (ckpt1, ckpt2):  # fresh checkpoint = full replay = same table
        stream = stream_from_dir(spark, raw_dir, RAW_BAR_SCHEMA)
        q = streaming_ingest(spark, stream, assets, table, ckpt)
        q.awaitTermination(120)
    assert spark.read.parquet(table).count() == 3


def test_streaming_ingest_processing_time_trigger(spark, tmp_path):
    """R23 steady-state interval mode: a processingTime-triggered ingest
    stays alive across micro-batches; a second file delivered mid-flight
    (duplicating batch-1 keys + one new bar) upserts idempotently."""
    import glob
    import os

    raw_dir = str(tmp_path / "raw")
    os.makedirs(raw_dir)
    table = str(tmp_path / "bars")
    rows1 = [
        ("SPY", "Day", dt.datetime(2024, 1, 1 + d, tzinfo=UTC), 1.0, 2.0, 0.5, 1.5, 10)
        for d in range(3)
    ]
    rows2 = rows1 + [
        ("SPY", "Day", dt.datetime(2024, 1, 9, tzinfo=UTC), 1.0, 2.0, 0.5, 1.5, 10)
    ]
    for i, rows in enumerate([rows1, rows2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, RAW_BAR_SCHEMA).coalesce(1).write.parquet(stage)
        if i == 0:
            shutil.copyfile(
                glob.glob(f"{stage}/part-*.parquet")[0], f"{raw_dir}/b{i}.parquet"
            )
    assets = spark.createDataFrame(
        [("alpaca_SPY", "alpaca", "SPY", "SPDR", "ETF")], ASSET_SCHEMA
    )
    stream = stream_from_dir(spark, raw_dir, RAW_BAR_SCHEMA)
    q = streaming_ingest(
        spark,
        stream,
        assets,
        table,
        str(tmp_path / "ckpt"),
        processing_time="1 second",
    )
    try:
        q.processAllAvailable()  # micro-batch 1: the 3 original bars
        assert spark.read.parquet(table).count() == 3
        shutil.copyfile(
            glob.glob(f"{tmp_path}/stage1/part-*.parquet")[0],
            f"{raw_dir}/b1.parquet",
        )
        q.processAllAvailable()  # micro-batch 2: 3 dup keys + 1 new
    finally:
        q.stop()
    written = spark.read.parquet(table)
    assert written.count() == 4  # idempotent on the 3 replayed keys
    assert written.select("symbol", "timeframe", "ts").distinct().count() == 4


def test_status_served_from_memory_sink(spark, tmp_path):
    """R21/R22: the run-status record aggregated in complete mode into a
    memory sink, then served with the GET "/" projection (SELECT * +
    bars_count) — the engine-side twin of the ingest_status_serving query."""
    import os

    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    rows = [
        (1, t0, 7, "click", 1.0),
        (2, t0 + dt.timedelta(hours=1), 8, "click", 2.0),
        (3, t0 + dt.timedelta(hours=2), 7, "error", 0.0),
    ]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = stream_from_dir(spark, src, EVENTS_SCHEMA)
    status = stream.groupBy().agg(
        F.max("ts").alias("last_attempt_ts"),
        F.max(F.when(F.col("event_type") != "error", F.col("ts"))).alias(
            "last_success_ts"
        ),
        F.approx_count_distinct("user_id").alias("assets_processed_count"),
        F.count(F.lit(1)).alias("bars_count"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "error_count"
        ),
    )
    q = (
        status.writeStream.format("memory")
        .queryName("ingest_status")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    served = spark.sql(
        "SELECT *, bars_count > 0 AS healthy FROM ingest_status"
    ).collect()
    assert len(served) == 1
    s = served[0]
    assert s.bars_count == 3 and s.error_count == 1 and s.healthy
    assert s.assets_processed_count == 2
    assert s.last_attempt_ts > s.last_success_ts  # error arrived last


def test_stream_static_broadcast_join(spark, events_dir):
    """Stream-static join: the arriving stream enriches against a static
    dim per micro-batch (the reference's assets-dim lookup, streaming-
    native). The static side is broadcast — no stateful join state."""
    dim = spark.createDataFrame(
        [(u, "gold" if u % 2 == 0 else "basic") for u in range(50)],
        "user_id long, tier string",
    )
    stream = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", F.coalesce("tier", F.lit("unknown")).alias("tier")
    )
    _run_to_memory(enriched, "enriched_out", "append")
    out = spark.sql(
        "SELECT count(*) n, sum(CASE WHEN tier = 'unknown' THEN 1 ELSE 0 END) u "
        "FROM enriched_out"
    ).first()
    assert out.n == 1000
    # every event with user_id < 50 got a real tier
    mismatch = spark.sql(
        "SELECT count(*) c FROM enriched_out WHERE user_id < 50 AND tier = 'unknown'"
    ).first()
    assert mismatch.c == 0


def test_rate_source_smoke(spark):
    from dataingestion_pt_ms_spark.sources.readers import stream_rate

    q = (
        stream_rate(spark, 50)
        .writeStream.format("memory")
        .queryName("rate_out")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 30
    n = 0
    while time.time() < deadline:
        n = spark.sql("SELECT count(*) c FROM rate_out").first().c
        if n > 0:
            break
        time.sleep(1)
    q.stop()
    assert n > 0


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState: cumulative per-key counts across two
    micro-batches (update mode — later rows supersede earlier ones)."""
    import glob
    import os
    import time

    from dataingestion_pt_ms_spark.streaming.jobs import running_counts_stateful_stream

    src = str(tmp_path / "state_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    b0 = [(1, t0, 1, "click", 1.0), (2, t0, 1, "click", 2.0), (3, t0, 1, "buy", 5.0)]
    b1 = [(4, t0, 1, "click", 3.0)]
    now = time.time()
    for i, rows in enumerate([b0, b1]):
        stage = str(tmp_path / f"st{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage)
        dest = f"{src}/{i}.parquet"
        shutil.copyfile(glob.glob(f"{stage}/part-*.parquet")[0], dest)
        os.utime(dest, (now - 200 + i * 100, now - 200 + i * 100))
    stream = stream_from_dir(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    q = (
        running_counts_stateful_stream(stream)
        .writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM state_out").collect()
    # final state per key: click count 3 (2 then +1), buy count 1
    latest = {}
    for r in rows:
        latest[r.key] = max(latest.get(r.key, 0), r.running_count)
    assert latest == {"click": 3, "buy": 1}
    totals = {r.key: r.running_total for r in rows if r.running_count == latest[r.key]}
    assert totals == {"click": 6.0, "buy": 5.0}


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range bound:
    purchases joined to clicks by the same user within the prior 30 min."""
    src = str(tmp_path / "ssj_src")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    rows = [
        (1, t0 + dt.timedelta(minutes=0), 7, "click", 1.0),
        (2, t0 + dt.timedelta(minutes=10), 7, "purchase", 9.0),   # joins to 1
        (3, t0 + dt.timedelta(minutes=50), 7, "purchase", 5.0),   # too late for 1
        (4, t0 + dt.timedelta(minutes=45), 8, "click", 1.0),
        (5, t0 + dt.timedelta(minutes=60), 8, "purchase", 2.0),   # joins to 4
        (6, t0 + dt.timedelta(hours=6), 9, "click", 1.0),         # advances wm
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(src)
    clicks = (
        stream_from_dir(spark, src, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream_from_dir(spark, src, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    assert pairs == {(1, 2), (4, 5)}


def test_complete_output_mode(spark, events_dir):
    """Complete mode re-emits the full aggregate each trigger — no watermark
    needed; final table equals the batch group-by exactly."""
    stream = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("complete_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_type: (r.n, r.v) for r in spark.sql("SELECT * FROM complete_out").collect()}
    from dataingestion_pt_ms_spark.catalog import load_table

    want = {
        r.event_type: (r.n, r.v)
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    }
    assert got == want


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental resume: a SECOND query over the SAME
    checkpoint picks up only files added after the first run (the file
    source's committed-offset log), with an append parquet sink so any
    reprocessing would be visible as duplicate rows."""
    import glob
    import os

    src = str(tmp_path / "resume_src")
    out = str(tmp_path / "resume_out")
    ckpt = str(tmp_path / "resume_ckpt")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)

    def stage(name, ids):
        stage_dir = str(tmp_path / f"stage_{name}")
        rows = [(i, t0 + dt.timedelta(minutes=i), 1, "click", 1.0) for i in ids]
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage_dir)
        shutil.copyfile(
            glob.glob(f"{stage_dir}/part-*.parquet")[0], f"{src}/{name}.parquet"
        )

    def run_once():
        q = (
            stream_from_dir(spark, src, EVENTS_SCHEMA)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    stage("batch1", [1, 2, 3])
    run_once()
    assert spark.read.parquet(out).count() == 3
    stage("batch2", [10, 11])
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 5  # 3 + 2: batch1 NOT replayed
    assert {r.event_id for r in got.collect()} == {1, 2, 3, 10, 11}


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Stream-stream LEFT OUTER join: unmatched clicks emit with NULL
    purchase once the watermark passes their join window (state eviction),
    not before. Two files + maxFilesPerTrigger=1 force two micro-batches so
    the watermark advance from batch 2 flushes batch 1's unmatched rows."""
    import glob
    import os

    src = str(tmp_path / "ssoj_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)

    def stage(name, rows, mtime):
        stage_dir = str(tmp_path / f"ssoj_stage_{name}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage_dir)
        dst = f"{src}/{name}.parquet"
        shutil.copyfile(glob.glob(f"{stage_dir}/part-*.parquet")[0], dst)
        os.utime(dst, (mtime, mtime))

    stage(
        "f1",
        [
            (1, t0, 7, "click", 1.0),                              # matches 2
            (2, t0 + dt.timedelta(minutes=10), 7, "purchase", 9.0),
            (4, t0 + dt.timedelta(minutes=5), 8, "click", 1.0),    # never matches
        ],
        1_700_000_000,
    )
    stage(
        "f2",
        [(6, t0 + dt.timedelta(hours=6), 9, "click", 1.0)],        # advances wm
        1_700_000_100,
    )
    # the watermark computed from f2's max event time only takes effect in
    # the NEXT micro-batch — a third file forces that batch so f1's
    # unmatched click is evicted and emitted
    stage(
        "f3",
        [(8, t0 + dt.timedelta(hours=7), 9, "purchase", 1.0)],
        1_700_000_200,
    )
    reader = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    clicks = (
        reader.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        reader.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssoj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssoj_out").collect()
    }
    assert (1, 2) in rows            # matched pair
    assert (4, None) in rows         # unmatched click flushed by wm advance
    assert (1, None) not in rows     # matched click must NOT also emit null


def test_streaming_state_conf_lands_in_fresh_checkpoint(spark, events_dir, tmp_path):
    """The §17c sizing knob end-to-end (round 10, VERDICT r9 #1): the
    partition count streaming_state_conf selects is what a FRESH
    checkpoint freezes (state/0/<partition> directories), a later run
    WITHOUT the knob keeps the frozen count (the freeze is real — this
    is why sizing must happen before the first run), and the session
    conf is restored after the block."""
    from dataingestion_pt_ms_spark.session import (
        session_conf,
        streaming_state_conf,
    )
    from dataingestion_pt_ms_spark.streaming.jobs import tumbling_counts_stream

    schema = spark.read.parquet(events_dir).schema
    ckpt = str(tmp_path / "knob_ckpt")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    # one stateful agg, latency-targeted on 12 "cores" → 12 partitions;
    # cap to 6 via key cardinality to keep the fixture fast and distinct
    # from every session default in play
    conf = streaming_state_conf(
        1, cores=12, trigger_seconds=2, key_cardinality=6
    )
    assert conf["spark.sql.shuffle.partitions"] == "6"

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(events_dir)
        q = (
            tumbling_counts_stream(stream)
            .writeStream.format("noop")  # memory sink can't resume a ckpt
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with session_conf(spark, conf):
        run_once()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def state_partitions() -> int:
        state0 = tmp_path / "knob_ckpt" / "state" / "0"
        return sum(1 for p in state0.iterdir() if p.name.isdigit())

    assert state_partitions() == 6
    # second run on the same checkpoint, session default back in force:
    # the checkpoint's frozen count wins, not the session conf
    run_once()
    assert state_partitions() == 6


def test_windowed_histogram_stream_matches_batch_and_psi(spark, events_dir):
    """Drive the drift-monitor histogram through the real streaming engine
    (file source, availableNow) and check (a) the emitted per-window bin
    counts equal the batch groupBy of the same binning, and (b) a PSI
    assembled from the emitted counts against a static baseline equals the
    PSI computed directly from the batch table — i.e. the single stateful
    aggregation is sufficient state for the full drift statistic."""
    from dataingestion_pt_ms_spark.streaming.jobs import windowed_histogram_stream

    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    q = (
        windowed_histogram_stream(stream)
        .writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["bin"]): r["n"]
        for r in spark.table("hist_stream").collect()
    }
    ev = spark.read.parquet(events_dir)
    bin_col = F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9))
    batch = (
        ev.groupBy(
            F.date_format(
                F.window("ts", "6 hours").start, "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            bin_col.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r["window_start"], r["bin"]): r["n"] for r in batch.collect()}
    # append mode withholds the final (watermark-open) window; every
    # emitted (window, bin) must match the batch count exactly
    assert got, "no windows emitted"
    assert all(got[k] == want[k] for k in got)
    open_windows = {w for (w, _) in want} - {w for (w, _) in got}
    assert len(open_windows) <= 1
    # PSI from emitted counts vs PSI from the batch table (baseline = the
    # whole table's bin distribution), Laplace(+1) smoothing as in the
    # batch twin — pure python assembly over O(windows * nbins) rows
    import math

    base = {r["bin"]: r["n"] for r in ev.groupBy(bin_col.alias("bin")).count().withColumnRenamed("count", "n").collect()}
    t_base = sum(base.values())

    def psi(counts: dict) -> float:
        t_cur = sum(counts.values())
        s = 0.0
        for b in range(10):
            p_b = (base.get(b, 0) + 1) / (t_base + 10)
            p_c = (counts.get(b, 0) + 1) / (t_cur + 10)
            s += (p_c - p_b) * math.log(p_c / p_b)
        return s

    for w in {w for (w, _) in got}:
        stream_psi = psi({b: n for (ww, b), n in got.items() if ww == w})
        batch_psi = psi({b: n for (ww, b), n in want.items() if ww == w})
        assert abs(stream_psi - batch_psi) < 1e-12


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Two micro-batches through streaming_incremental_dedup must leave
    (a) a signature store identical to batch minhash_signature over all
    docs, and (b) a dups table equal to the batch incremental check of
    batch 2 against batch 1's signatures (batch 1 sees an empty store)."""
    from dataingestion_pt_ms_spark.catalog import load_table
    from dataingestion_pt_ms_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signature,
    )
    from dataingestion_pt_ms_spark.streaming.jobs import streaming_incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    src = str(tmp_path / "docs_src")
    # one file per batch → maxFilesPerTrigger=1 yields two epochs in order
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
    store = str(tmp_path / "sig_store")
    dups = str(tmp_path / "dups_out")
    q = streaming_incremental_dedup(
        spark, stream, store, dups, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got_sigs = {
        r.doc_id: tuple(r.signature)
        for r in spark.read.parquet(store).collect()
    }
    want_sigs = {
        r.doc_id: tuple(r.signature)
        for r in minhash_signature(docs, "text", "doc_id").collect()
    }
    assert got_sigs == want_sigs

    # file commit order is not guaranteed to follow append order — recover
    # which split formed each epoch from the store-less first batch: the
    # cross-store check only ran for the SECOND epoch, against the first's
    # sigs; the intra-batch upper-triangle pass ran for BOTH epochs.
    got_dups = {
        (r.new_key, r.stored_key, r.est_jaccard)
        for r in spark.read.parquet(dups).collect()
    }

    def intra(b):
        return {
            (r.new_key, r.stored_key, r.est_jaccard)
            for r in incremental_minhash_dedup(
                b, minhash_signature(b, "text", "doc_id"), "text", "doc_id"
            )
            .filter(F.col("new_key") < F.col("stored_key"))
            .collect()
        }

    intra_all = intra(b1) | intra(b2)
    want_a = {
        (r.new_key, r.stored_key, r.est_jaccard)
        for r in incremental_minhash_dedup(
            b2, minhash_signature(b1, "text", "doc_id"), "text", "doc_id"
        ).collect()
    } | intra_all
    want_b = {
        (r.new_key, r.stored_key, r.est_jaccard)
        for r in incremental_minhash_dedup(
            b1, minhash_signature(b2, "text", "doc_id"), "text", "doc_id"
        ).collect()
    } | intra_all
    assert got_dups in (want_a, want_b)


def test_streaming_incremental_dedup_replay_idempotent(spark, sf_dir, tmp_path):
    """Crash-after-signature-write replay must not change outputs (ADVICE
    r3, medium): simulate a replay by pre-writing epoch 0's signatures to
    the store WITHOUT committing a checkpoint, then run the stream. The
    replayed epoch 0 must overwrite its own partition (not re-append) and
    must NOT emit self-matches or phantom within-batch pairs from its own
    half-written signatures."""
    from dataingestion_pt_ms_spark.catalog import load_table
    from dataingestion_pt_ms_spark.operators.dedup import minhash_signature
    from dataingestion_pt_ms_spark.streaming.jobs import streaming_incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    src = str(tmp_path / "docs_src")
    docs.coalesce(1).write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    store = str(tmp_path / "sig_store")
    dups = str(tmp_path / "dups_out")

    # clean run first, to capture the expected outputs
    q = streaming_incremental_dedup(
        spark,
        stream_from_dir(spark, src, schema),
        store,
        dups,
        str(tmp_path / "ckpt_clean"),
    )
    q.awaitTermination(120)
    want_sigs = sorted(
        (r.doc_id, tuple(r.signature)) for r in spark.read.parquet(store).collect()
    )
    want_dups = sorted(
        (r.new_key, r.stored_key) for r in spark.read.parquet(dups).collect()
    )

    # crashed-replay run: epoch 0's signatures are already in the store
    # (from the "crashed" first attempt) but the checkpoint was never
    # committed — a fresh checkpoint dir replays epoch 0 from scratch
    store2 = str(tmp_path / "sig_store2")
    dups2 = str(tmp_path / "dups_out2")
    pre = minhash_signature(docs, "text", "doc_id")
    pre.write.parquet(f"{store2}/epoch=0")
    q2 = streaming_incremental_dedup(
        spark,
        stream_from_dir(spark, src, schema),
        store2,
        dups2,
        str(tmp_path / "ckpt_replay"),
    )
    q2.awaitTermination(120)
    got_sigs = sorted(
        (r.doc_id, tuple(r.signature)) for r in spark.read.parquet(store2).collect()
    )
    got_dups = sorted(
        (r.new_key, r.stored_key) for r in spark.read.parquet(dups2).collect()
    )
    assert got_sigs == want_sigs  # overwrote, did not double-append
    assert got_dups == want_dups  # no self-matches / phantom pairs


def test_interval_join_stream_matches_batch(spark, sf_dir, events_dir):
    """Stream-stream interval join (errors ⋈ same-user clicks in the prior
    10 minutes, both sides watermarked) must emit exactly the batch inner
    join's pairs — the streaming twin of join_range_clicks_before_error."""
    from dataingestion_pt_ms_spark.catalog import load_table
    from dataingestion_pt_ms_spark.streaming.jobs import interval_join_stream

    stream_e = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    stream_c = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    _run_to_memory(
        interval_join_stream(stream_e, stream_c), "ijoin_out", "append"
    )
    got = {
        (r.event_id, r.user_id, r.c_ts, r.value)
        for r in spark.sql("SELECT * FROM ijoin_out").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("e_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), "value"
    )
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    want = {
        (r.event_id, r.user_id, r.c_ts, r.value)
        for r in errors.join(clicks, cond, "inner")
        .select("event_id", "user_id", "c_ts", "value")
        .collect()
    }
    assert got == want
    assert want  # non-vacuous: fixture has clicks-before-error pairs


def test_interval_join_stream_left_outer(spark, sf_dir, events_dir):
    """left_outer adds errors with NO same-user click in the prior 10 min
    as NULL-click rows, emitted once the watermark closes their interval;
    matched pairs are identical to the inner join."""
    from dataingestion_pt_ms_spark.catalog import load_table
    from dataingestion_pt_ms_spark.streaming.jobs import interval_join_stream

    stream_e = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    stream_c = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
    _run_to_memory(
        interval_join_stream(stream_e, stream_c, join_type="left_outer"),
        "ijoin_lo_out",
        "append",
    )
    rows = spark.sql("SELECT * FROM ijoin_lo_out").collect()
    got_matched = {(r.event_id, r.user_id, r.c_ts, r.value) for r in rows if r.c_ts is not None}
    got_unmatched = {(r.event_id, r.user_id) for r in rows if r.c_ts is None}

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("e_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), "value"
    )
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    inner = errors.join(clicks, cond, "inner").select(
        "event_id", "user_id", "c_ts", "value"
    )
    want_matched = {(r.event_id, r.user_id, r.c_ts, r.value) for r in inner.collect()}
    matched_ids = {r.event_id for r in inner.select("event_id").distinct().collect()}
    want_unmatched = {
        (r.event_id, r.user_id)
        for r in errors.collect()
        if r.event_id not in matched_ids
    }
    assert got_matched == want_matched
    # watermark may withhold outer rows whose interval never provably
    # closes at end-of-stream (the final watermark advance is best-effort);
    # every emitted NULL row must be a true non-match, and most must emit
    assert got_unmatched <= want_unmatched
    assert len(got_unmatched) >= int(0.8 * len(want_unmatched)), (
        len(got_unmatched), len(want_unmatched)
    )


def test_incremental_mv_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming the orders table through the MV maintainer in two
    micro-batches must leave a stored MV exactly equal to the one-shot
    batch aggregate (mergeable-partials algebra; DECIMAL sums make it
    arrival-order independent)."""
    from dataingestion_pt_ms_spark.catalog import load_table
    from dataingestion_pt_ms_spark.streaming.jobs import incremental_mv_stream

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    src = str(tmp_path / "orders_src")
    orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(src)
    orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    mv = str(tmp_path / "mv")
    q = incremental_mv_stream(spark, stream, mv, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {
        (r.o_orderpriority, r.order_month): (r.n_orders, str(r.revenue))
        for r in spark.read.parquet(mv).collect()
    }
    want = {
        (r.o_orderpriority, r.order_month): (r.n_orders, str(r.revenue))
        for r in orders.groupBy(
            "o_orderpriority",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
        .collect()
    }
    assert got == want and got


def test_dynamic_gap_session_window(spark, tmp_path):
    """session_window with a per-row gap expression: 'error' events hold a
    session open 30 min, routine events only 5 min — so the SAME 10-min
    spacing merges error events into one session but splits clicks into
    separate ones. This asymmetry is only expressible with the dynamic-gap
    form (Spark 3.2+); a fixed gap gets one of the two users wrong."""
    import os

    from dataingestion_pt_ms_spark.streaming.jobs import (
        dynamic_gap_sessionized_stream,
    )

    import glob
    import time

    src = str(tmp_path / "dyn_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, 0, 0, tzinfo=UTC)
    rows = [
        # user 1: clicks 10 min apart -> two sessions (5-min gap closes)
        (1, t0, 1, "click", 1.0),
        (2, t0 + dt.timedelta(minutes=10), 1, "click", 1.0),
        # user 2: errors 10 min apart -> one session (30-min gap holds)
        (3, t0, 2, "error", 1.0),
        (4, t0 + dt.timedelta(minutes=10), 2, "error", 1.0),
    ]
    # append mode emits a session only after the watermark passes its end:
    # stage an advancing batch (next day) behind the data batch
    advance = [(99, t0 + dt.timedelta(days=1), 9, "click", 1.0)]
    now = time.time()
    for i, batch in enumerate([rows, advance]):
        stage = str(tmp_path / f"dyn_stage{i}")
        spark.createDataFrame(batch, EVENTS_SCHEMA).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = f"{src}/{i}.parquet"
        shutil.copyfile(part, dest)
        os.utime(dest, (now - 400 + i * 100, now - 400 + i * 100))
    stream = stream_from_dir(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    _run_to_memory(
        dynamic_gap_sessionized_stream(stream), "dyn_sess_out", "append"
    )
    got = {
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT * FROM dyn_sess_out").collect()
    }
    assert got == {(1, 1), (2, 2)}
    n_user1 = len(
        spark.sql("SELECT * FROM dyn_sess_out WHERE user_id = 1").collect()
    )
    assert n_user1 == 2


def test_rocksdb_state_store_matches_default(spark, events_dir, tmp_path):
    """RocksDB state store (the 100 TB provider: the HDFS-backed default
    keeps all state on the JVM heap and dies at large key counts;
    RocksDB spills to local disk with changelog checkpointing) must be a
    pure swap: the same stateful dedup over the same input produces the
    IDENTICAL result set under both providers. Runs on dropDuplicates
    state."""
    from dataingestion_pt_ms_spark.streaming.jobs import stateful_dedup_stream

    def run(provider, name):
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        if provider:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        try:
            stream = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
            _run_to_memory(stateful_dedup_stream(stream), name, "append")
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        return {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}

    default_rows = run(None, "sdp_default_out")
    rocks_rows = run(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "sdp_rocks_out",
    )
    assert rocks_rows == default_rows
    assert rocks_rows, "dedup emitted nothing"


def test_streaming_query_listener_captures_progress(spark, events_dir):
    """StreamingQueryListener (the ops surface for streams, sibling of
    df.observe for batch): progress events carry per-trigger row counts —
    the hook a production pipeline exports to its metrics system instead
    of polling query.lastProgress."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen = {"progress_rows": 0, "started": 0, "terminated": 0}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            seen["started"] += 1

        def onQueryProgress(self, event):
            seen["progress_rows"] += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            seen["terminated"] += 1

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        stream = stream_from_dir(spark, events_dir, EVENTS_SCHEMA)
        q = (
            stream.groupBy("event_type").count()
            .writeStream.format("memory").queryName("lst_out")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        # listener callbacks are delivered asynchronously after termination
        import time
        for _ in range(50):
            if seen["terminated"] and seen["progress_rows"]:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    n_src = spark.read.parquet(events_dir).count()
    assert seen["started"] >= 1
    assert seen["terminated"] >= 1
    assert seen["progress_rows"] == n_src


def test_stream_source_kill_and_resume_exactly_once(spark, tmp_path):
    """VERDICT r4 #7: interrupt the custom streaming DataSource mid-stream
    and restart from the checkpoint — the drained output must contain every
    bar exactly once (no duplicate, no gap). Requires the round-5
    ``state_dir`` head persistence: without it a fresh reader reports a
    head behind the recovered offset and the engine re-serves committed
    ranges (measured 56 duplicate bars of 100 before the fix)."""
    import time as _time
    from collections import Counter

    from dataingestion_pt_ms_spark.sources.pydatasource import (
        register_synth_bars,
        synth_bar,
    )

    register_synth_bars(spark)
    ckpt, out, state = (
        str(tmp_path / "ckpt"), str(tmp_path / "out"), str(tmp_path / "state")
    )

    def start():
        return (
            spark.readStream.format("synth_bars")
            .option("symbols", "AAPL,MSFT")
            .option("bars_per_batch", "7")
            .option("max_bars", "50")
            .option("state_dir", state)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def rows_written():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q1 = start()
    deadline = _time.time() + 90
    while _time.time() < deadline and rows_written() < 2 * 21:
        _time.sleep(0.3)
    q1.stop()  # the kill: several batches committed, stream NOT drained
    q1.awaitTermination(60)
    mid = rows_written()
    assert 0 < mid < 2 * 50, f"kill point not mid-stream: {mid} rows"

    q2 = start()  # resume from the same checkpoint with a FRESH reader
    deadline = _time.time() + 120
    while _time.time() < deadline and rows_written() < 2 * 50:
        _time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(60)

    rows = [
        (r.symbol, r.bar_idx)
        for r in spark.read.parquet(out).select("symbol", "bar_idx").collect()
    ]
    dups = {k: v for k, v in Counter(rows).items() if v > 1}
    want = {(s, i) for s in ("AAPL", "MSFT") for i in range(50)}
    assert not dups, f"duplicate bars after resume: {sorted(dups)[:8]}"
    assert set(rows) == want, f"missing bars: {sorted(want - set(rows))[:8]}"
    # and the values themselves are the deterministic bar space
    full = {
        (r.symbol, r.bar_idx): (r.open, r.close, r.volume)
        for r in spark.read.parquet(out).collect()
    }
    for sym in ("AAPL", "MSFT"):
        for i in (0, mid // 4, 49):
            s, idx, o, c, v = synth_bar(sym, i)
            assert full[(sym, i)] == (o, c, v)


def test_stream_source_restart_without_state_dir_fails_loudly(spark, tmp_path):
    """Exactly-once by failing: restarting from a checkpoint WITHOUT
    state_dir must error on the backward offset range (partitions()
    raises), never silently re-serve committed bars."""
    import time as _time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dataingestion_pt_ms_spark.sources.pydatasource import register_synth_bars

    register_synth_bars(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("synth_bars")
            .option("symbols", "AAPL")
            .option("bars_per_batch", "5")
            .option("max_bars", "30")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def rows_written():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q1 = start()
    deadline = _time.time() + 90
    while _time.time() < deadline and rows_written() < 10:
        _time.sleep(0.3)
    q1.stop()
    q1.awaitTermination(60)
    before = rows_written()
    assert before >= 10

    q2 = start()
    failed = False
    try:
        q2.awaitTermination(90)
    except StreamingQueryException as exc:
        failed = True
        assert "backward offset range" in str(exc)
    finally:
        if q2.isActive:
            q2.stop()
    assert failed, "restart without state_dir should fail, not duplicate"
    # the engine may legitimately re-run the one in-flight batch whose
    # offsets were logged but not committed (rows it had never written) —
    # what must NEVER happen is a duplicate bar
    from collections import Counter

    rows = [
        (r.symbol, r.bar_idx)
        for r in spark.read.parquet(out).select("symbol", "bar_idx").collect()
    ]
    dups = {k: v for k, v in Counter(rows).items() if v > 1}
    assert not dups, f"bars re-served after the failure: {sorted(dups)[:8]}"
    assert len(rows) >= before


def test_synth_kafka_stream_exactly_once(spark, tmp_path):
    """Streaming read of the wire-format source: per-partition offsets
    advance rows_per_trigger per trigger (the real source's commit-log
    bookkeeping shape), every (partition, offset) arrives EXACTLY once,
    and the drained total equals the batch read of the same options."""
    import time as _t

    from dataingestion_pt_ms_spark.sources.kafka import kafka_records

    recs = kafka_records(
        spark,
        provider="synthetic",
        streaming=True,
        topic="t2",
        partitions=3,
        rows_per_partition=40,
        rows_per_trigger=15,
    )
    q = (
        recs.writeStream.format("memory")
        .queryName("kafka_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _t.time() + 120
        while _t.time() < deadline:
            if spark.sql("SELECT count(*) c FROM kafka_stream").first().c >= 120:
                break
            _t.sleep(1)
    finally:
        q.stop()
    rows = spark.sql("SELECT partition, offset FROM kafka_stream").collect()
    assert len(rows) == 120, len(rows)
    assert len({(r.partition, r.offset) for r in rows}) == 120


def test_streaming_ingest_txnlog_exactly_once(spark, tmp_path):
    """R16's production streaming form (round 8): foreachBatch into the
    txn-log table. A fresh-checkpoint full replay (the at-least-once
    re-delivery case) short-circuits on the committed batch_id — same
    final table, NO new snapshot for the duplicate epoch — and the first
    micro-batch's state stays time-travel-readable."""
    from dataingestion_pt_ms_spark.sources import tableformat as TF
    from dataingestion_pt_ms_spark.streaming.ingest import (
        _txn_app_id,
        streaming_ingest_txnlog,
    )

    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "bars_txn")
    rows = [
        ("SPY", "Day", dt.datetime(2024, 1, 1 + d, tzinfo=UTC), 1.0, 2.0, 0.5, 1.5, 10)
        for d in range(3)
    ]
    spark.createDataFrame(rows, RAW_BAR_SCHEMA).write.parquet(raw_dir)
    assets = spark.createDataFrame(
        [("alpaca_SPY", "alpaca", "SPY", "SPDR", "ETF")], ASSET_SCHEMA
    )
    # same checkpoint PATH both runs = same batch_id tags on replay
    # (the tag hashes the FULL path — shared basenames don't collide)
    ckpt = str(tmp_path / "ckpt_txn")
    stream = stream_from_dir(spark, raw_dir, RAW_BAR_SCHEMA)
    q = streaming_ingest_txnlog(spark, stream, assets, table, ckpt)
    q.awaitTermination(120)
    snaps_first = TF.list_snapshots(spark, table)
    assert TF.read_snapshot(spark, table).count() == 3

    shutil.rmtree(ckpt)  # lose the checkpoint → engine replays epoch 0
    stream = stream_from_dir(spark, raw_dir, RAW_BAR_SCHEMA)
    q = streaming_ingest_txnlog(spark, stream, assets, table, ckpt)
    q.awaitTermination(120)
    assert TF.list_snapshots(spark, table) == snaps_first  # exactly-once
    assert TF.read_snapshot(spark, table).count() == 3
    # history records the streaming epoch's batch id
    h = TF.history(spark, table).collect()
    assert any(r.batch_id == f"{_txn_app_id(ckpt, None)}-0" for r in h)
