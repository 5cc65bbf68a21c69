"""Ingest pipeline tests (SURVEY.md §5: upsert idempotency — run twice,
count once — mirroring reference R16; fixtures follow FIXTURES.md A)."""

from __future__ import annotations

import datetime as dt
import json
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from dataingestion_pt_ms_spark.sources.sinks import (
    emit_ingest_events,
    upsert_partitioned_parquet,
)
from dataingestion_pt_ms_spark.streaming.ingest import (
    ASSET_SCHEMA,
    RAW_BAR_SCHEMA,
    normalize_bars,
    run_batch_ingest,
)

UTC = dt.timezone.utc


def _raw_bars(spark, days=5, symbols=("SPY", "QQQ")):
    rows = []
    for s in symbols:
        for d in range(days):
            t = dt.datetime(2024, 1, 1 + d, tzinfo=UTC)
            base = 100.0 + d
            rows.append((s, "Day", t, base, base + 2, base - 1, base + 1, 1000 + d))
    return spark.createDataFrame(rows, RAW_BAR_SCHEMA)


def _assets(spark):
    return spark.createDataFrame(
        [
            ("alpaca_SPY", "alpaca", "SPY", "SPDR S&P 500", "ETF"),
            ("alpaca_QQQ", "alpaca", "QQQ", "Invesco QQQ", "ETF"),
            ("alpaca_BAD", "alpaca", None, "null-symbol row (R4 guard)", "ETF"),
        ],
        ASSET_SCHEMA,
    )


def _table_rows(spark, path):
    """Every stored row, ordered, without ``updated_at`` (the write time,
    which a replay refreshes by design)."""
    df = spark.read.parquet(path).drop("updated_at")
    return df.orderBy(*df.columns).collect()


def _partition_files(table):
    """{partition dir: {parquet file name: size}}."""
    return {
        pdir.name: {f.name: f.stat().st_size for f in pdir.glob("*.parquet")}
        for pdir in table.glob("bar_date=*")
    }


def test_normalize_bars_shape(spark):
    bars = normalize_bars(_raw_bars(spark), _assets(spark))
    rows = bars.collect()
    assert len(rows) == 10
    r = rows[0]
    assert r.bar_doc_id.endswith("_Day") and "T" in r.bar_doc_id  # R14 key
    assert r.asset_doc_id in ("alpaca_SPY", "alpaca_QQQ")
    assert r.low <= r.open <= r.high


def test_normalize_drops_null_symbol_and_bad_timeframe(spark):
    raw = _raw_bars(spark).unionByName(
        spark.createDataFrame(
            [
                (None, "Day", dt.datetime(2024, 1, 1, tzinfo=UTC), 1.0, 1.0, 1.0, 1.0, 1),
                ("SPY", "Fortnight", dt.datetime(2024, 1, 1, tzinfo=UTC), 1.0, 1.0, 1.0, 1.0, 1),
            ],
            RAW_BAR_SCHEMA,
        )
    )
    assert normalize_bars(raw, _assets(spark)).count() == 10


def test_upsert_idempotent_run_twice_count_once(spark, tmp_path):
    """The R16 contract: re-running the same batch must not duplicate."""
    path = str(tmp_path / "bars")
    raw, assets = _raw_bars(spark), _assets(spark)
    r1 = run_batch_ingest(spark, raw, assets, path)
    first = _table_rows(spark, path)
    r2 = run_batch_ingest(spark, raw, assets, path)
    assert r1.total_bars_saved == 10
    assert r2.total_bars_saved == 10  # idempotent
    written = spark.read.parquet(path)
    assert written.count() == 10
    assert written.select("symbol", "timeframe", "ts").distinct().count() == 10
    # the replay leaves every row's values unchanged, not only the count
    assert _table_rows(spark, path) == first


def test_upsert_last_wins_on_key_collision(spark, tmp_path):
    path = str(tmp_path / "bars")
    assets = _assets(spark)
    run_batch_ingest(spark, _raw_bars(spark), assets, path)
    # second run: same keys, new close values → overwrite, not append
    updated = _raw_bars(spark).withColumn("c", F.col("c") + 50)
    run_batch_ingest(spark, updated, assets, path)
    written = spark.read.parquet(path)
    assert written.count() == 10
    assert written.filter(F.col("close") > 150).count() == 10


def test_upsert_touches_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "bars")
    assets = _assets(spark)
    run_batch_ingest(spark, _raw_bars(spark, days=5), assets, path)
    before = _partition_files(tmp_path / "bars")
    # a batch covering only day 1 must leave days 2-5 intact
    one_day = _raw_bars(spark, days=1).withColumn("c", F.col("c") + 50)
    run_batch_ingest(spark, one_day, assets, path)
    written = spark.read.parquet(path)
    assert written.count() == 10
    assert written.filter(F.col("close") > 150).count() == 2  # 2 symbols × day 1
    # days 2-5 are not rewritten: same file names and sizes
    after = _partition_files(tmp_path / "bars")
    untouched = sorted(d for d in before if d != "bar_date=2024-01-01")
    assert len(untouched) == 4
    assert {d: after[d] for d in untouched} == {d: before[d] for d in untouched}


def test_ingest_events_payload(spark):
    bars = normalize_bars(_raw_bars(spark), _assets(spark))
    events = emit_ingest_events(bars, ["symbol", "timeframe"], "ts").collect()
    assert len(events) == 2
    payloads = [json.loads(r.event_json) for r in events]
    for p in payloads:
        assert p["event_type"] == "HistoricalDataUpdated"
        assert p["payload"]["bars_count"] == 5
        # R19 fixed: min/max, not first/last — ISO-8601 Z format (R11)
        assert p["payload"]["start_timestamp_utc"] == "2024-01-01T00:00:00Z"
        assert p["payload"]["end_timestamp_utc"] == "2024-01-05T00:00:00Z"


def test_upsert_hadoop_fs_uri_path(spark, tmp_path):
    """The existence probe must work through the Hadoop FileSystem API on
    scheme-qualified URIs. With the old os.path probe a ``file://`` URI
    (like any s3a://.. path) looked absent on the second run, so the merge
    step was skipped and day-2 rows were dropped by the overwrite — the
    object-store silent-data-loss mode (VERDICT r01 #2)."""
    path = "file://" + str(tmp_path / "bars_uri")
    assets = _assets(spark)
    run_batch_ingest(spark, _raw_bars(spark, days=2), assets, path)
    # second run touches only day 1; day 2 must survive the merge
    one_day = _raw_bars(spark, days=1).withColumn("c", F.col("c") + 50)
    run_batch_ingest(spark, one_day, assets, path)
    written = spark.read.parquet(path)
    assert written.count() == 4  # 2 symbols × 2 days, nothing lost
    assert written.filter(F.col("close") > 150).count() == 2


def test_upsert_first_write_branch_fs_api(spark, tmp_path):
    """First write into a missing dir and into a dir holding only metadata
    children must both take the no-merge branch (no read of a non-existent
    parquet table)."""
    from dataingestion_pt_ms_spark.sources.sinks import _table_exists

    missing = str(tmp_path / "nope")
    assert not _table_exists(spark, missing)
    meta_only = tmp_path / "meta_only"
    meta_only.mkdir()
    (meta_only / "_SUCCESS").write_text("")
    (meta_only / ".hidden.crc").write_text("")
    assert not _table_exists(spark, str(meta_only))
    df = spark.createDataFrame(
        [(1, "a", 1, dt.date(2024, 1, 1))], "k long, v string, ver long, dt date"
    )
    upsert_partitioned_parquet(spark, df, str(meta_only), ["k"], ["dt"], "ver")
    assert _table_exists(spark, str(meta_only))
    assert spark.read.parquet(str(meta_only)).count() == 1


def test_upsert_standalone_writer(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1, dt.date(2024, 1, 1)), (2, "b", 1, dt.date(2024, 1, 2))],
        "k long, v string, ver long, dt date",
    )
    upsert_partitioned_parquet(spark, df, path, ["k"], ["dt"], "ver")
    df2 = spark.createDataFrame(
        [(1, "a2", 2, dt.date(2024, 1, 1))], "k long, v string, ver long, dt date"
    )
    upsert_partitioned_parquet(spark, df2, path, ["k"], ["dt"], "ver")
    out = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert out == {(1, "a2"), (2, "b")}


def test_delete_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """Keyed deletion: requested rows gone, same-partition neighbors kept,
    untouched partitions byte-identical (their files are not rewritten)."""
    import glob as g

    from dataingestion_pt_ms_spark.sources.sinks import (
        delete_keys_partitioned_parquet,
        write_partitioned_parquet,
    )

    out = str(tmp_path / "tbl")
    rows = [
        ("AAPL", 1, 10.0),
        ("AAPL", 2, 11.0),
        ("MSFT", 3, 20.0),
        ("MSFT", 4, 21.0),
        ("GOOG", 5, 30.0),
    ]
    df = spark.createDataFrame(rows, "symbol string, bar_id long, close double")
    write_partitioned_parquet(df, out, ["symbol"])
    goog_files_before = sorted(g.glob(f"{out}/symbol=GOOG/part-*.parquet"))
    keys = spark.createDataFrame(
        [("AAPL", 1), ("MSFT", 4)], "symbol string, bar_id long"
    )
    delete_keys_partitioned_parquet(spark, out, keys, ["bar_id"], ["symbol"])
    left = {(r.symbol, r.bar_id) for r in spark.read.parquet(out).collect()}
    assert left == {("AAPL", 2), ("MSFT", 3), ("GOOG", 5)}
    # untouched partition kept its exact files (no rewrite)
    assert sorted(g.glob(f"{out}/symbol=GOOG/part-*.parquet")) == goog_files_before
    # idempotent: deleting the same keys again changes nothing
    delete_keys_partitioned_parquet(spark, out, keys, ["bar_id"], ["symbol"])
    assert {(r.symbol, r.bar_id) for r in spark.read.parquet(out).collect()} == left


def test_seed_if_absent_guard(spark, tmp_path):
    """R25 semantics: first seeding inserts all rows; re-seeding (even with
    an overlapping, larger seed list) inserts only the genuinely new keys."""
    from dataingestion_pt_ms_spark.sources.sinks import seed_if_absent

    out = str(tmp_path / "assets")
    seed1 = spark.createDataFrame(
        [("SPY", "alpaca"), ("QQQ", "alpaca")], "symbol string, provider string"
    )
    assert seed_if_absent(spark, out, seed1, ["symbol"]) == 2
    seed2 = spark.createDataFrame(
        [("SPY", "alpaca"), ("IWM", "alpaca")], "symbol string, provider string"
    )
    assert seed_if_absent(spark, out, seed2, ["symbol"]) == 1  # only IWM
    rows = {r.symbol for r in spark.read.parquet(out).collect()}
    assert rows == {"SPY", "QQQ", "IWM"}
    assert seed_if_absent(spark, out, seed2, ["symbol"]) == 0  # idempotent


def test_delete_keys_removes_fully_emptied_partition(spark, tmp_path):
    """If EVERY row of a touched partition matches the deletion keys,
    dynamic overwrite writes nothing for it — the sink must explicitly
    delete the partition directory or the forgotten keys silently survive
    (ADVICE r2, high)."""
    import glob as g

    from dataingestion_pt_ms_spark.sources.sinks import (
        delete_keys_partitioned_parquet,
        write_partitioned_parquet,
    )

    out = str(tmp_path / "tbl")
    rows = [("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 3, 20.0)]
    df = spark.createDataFrame(rows, "symbol string, bar_id long, close double")
    write_partitioned_parquet(df, out, ["symbol"])
    keys = spark.createDataFrame(
        [("AAPL", 1), ("AAPL", 2)], "symbol string, bar_id long"
    )
    delete_keys_partitioned_parquet(spark, out, keys, ["bar_id"], ["symbol"])
    assert not g.glob(f"{out}/symbol=AAPL"), "emptied partition dir must be gone"
    left = {(r.symbol, r.bar_id) for r in spark.read.parquet(out).collect()}
    assert left == {("MSFT", 3)}


def test_delete_keys_is_partition_scoped(spark, tmp_path):
    """A key value listed for ONE partition must not be deleted from other
    touched partitions that reuse the same key value (ADVICE r2, medium):
    deleting (AAPL, bar_id=1) while also touching MSFT must keep MSFT's
    bar_id=1 row."""
    from dataingestion_pt_ms_spark.sources.sinks import (
        delete_keys_partitioned_parquet,
        write_partitioned_parquet,
    )

    out = str(tmp_path / "tbl")
    rows = [("AAPL", 1, 10.0), ("MSFT", 1, 20.0), ("MSFT", 4, 21.0)]
    df = spark.createDataFrame(rows, "symbol string, bar_id long, close double")
    write_partitioned_parquet(df, out, ["symbol"])
    keys = spark.createDataFrame(
        [("AAPL", 1), ("MSFT", 4)], "symbol string, bar_id long"
    )
    delete_keys_partitioned_parquet(spark, out, keys, ["bar_id"], ["symbol"])
    left = {(r.symbol, r.bar_id) for r in spark.read.parquet(out).collect()}
    assert left == {("MSFT", 1)}


def test_sinks_restore_partition_overwrite_mode(spark, tmp_path):
    """Both partition-rewriting sinks must leave the session's
    partitionOverwriteMode as they found it (ADVICE r2, low): they set
    dynamic overwrite on their own writer only, so later overwrites in the
    same session keep their semantics."""
    import datetime as dt

    from dataingestion_pt_ms_spark.sources.sinks import (
        delete_keys_partitioned_parquet,
        upsert_partitioned_parquet,
        write_partitioned_parquet,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        path = str(tmp_path / "up")
        df = spark.createDataFrame(
            [(1, "a", 1, dt.date(2024, 1, 1))], "k long, v string, ver long, dt date"
        )
        upsert_partitioned_parquet(spark, df, path, ["k"], ["dt"], "ver")
        assert spark.conf.get(key) == "static"

        out = str(tmp_path / "tbl")
        rows = [("AAPL", 1, 10.0), ("AAPL", 2, 11.0)]
        t = spark.createDataFrame(rows, "symbol string, bar_id long, close double")
        write_partitioned_parquet(t, out, ["symbol"])
        keys = spark.createDataFrame([("AAPL", 1)], "symbol string, bar_id long")
        delete_keys_partitioned_parquet(spark, out, keys, ["bar_id"], ["symbol"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)


def test_seed_if_absent_dedupes_within_batch(spark, tmp_path):
    """A seed batch listing the same key twice must insert it once — the
    reference's per-document exists-guard can never double-insert
    (ADVICE r2, low)."""
    from dataingestion_pt_ms_spark.sources.sinks import seed_if_absent

    out = str(tmp_path / "assets")
    seed = spark.createDataFrame(
        [("SPY", "alpaca"), ("SPY", "alpaca"), ("QQQ", "alpaca")],
        "symbol string, provider string",
    )
    assert seed_if_absent(spark, out, seed, ["symbol"]) == 2
    rows = [r.symbol for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == ["QQQ", "SPY"]
    # and the dedup also applies on the anti-join path (table now exists)
    assert seed_if_absent(spark, out, seed, ["symbol"]) == 0
    # a NEW key duplicated within the batch, seeded into an EXISTING table,
    # must still insert exactly once (VERDICT r3 #2: the anti-join branch
    # used to rebind from the raw seed, silently dropping its own dedupe)
    seed2 = spark.createDataFrame(
        [("IWM", "alpaca"), ("IWM", "alpaca"), ("SPY", "alpaca")],
        "symbol string, provider string",
    )
    assert seed_if_absent(spark, out, seed2, ["symbol"]) == 1
    rows2 = [r.symbol for r in spark.read.parquet(out).collect()]
    assert sorted(rows2) == ["IWM", "QQQ", "SPY"]


def test_compact_recovers_stranded_old_dir(spark, tmp_path):
    """A crash between the two swap renames leaves the table at
    <path>_compact_old; the next call must rename it back and proceed
    (ADVICE r2, medium)."""
    import os

    from dataingestion_pt_ms_spark.sources.sinks import compact_parquet_dir

    out = str(tmp_path / "tbl")
    spark.range(100).repartition(8).write.parquet(out)
    # simulate the crash window: table moved aside, new copy never landed
    os.rename(out, out + "_compact_old")
    n = compact_parquet_dir(spark, out, target_file_bytes=1 << 30)
    assert n == 1
    assert not os.path.exists(out + "_compact_old")
    assert spark.read.parquet(out).count() == 100


def test_ingest_event_collect_is_group_bounded(spark):
    """run_batch_ingest collects ONLY the per-(symbol,timeframe) event rows
    — one per group, mirroring the reference's one Pub/Sub event per asset
    (R20). A many-group batch must produce exactly group-count events,
    proving the driver-side collect is dimension-bounded, not data-bounded
    (VERDICT r2 hygiene note)."""
    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.sources.sinks import emit_ingest_events

    # 200 groups x 50 rows = 10k rows, but only 200 events may come back
    batch = (
        spark.range(10_000)
        .select(
            F.concat(F.lit("SYM"), (F.col("id") % 200).cast("string")).alias("symbol"),
            F.lit("Day").alias("timeframe"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        )
    )
    events = emit_ingest_events(batch, ["symbol", "timeframe"], "ts")
    assert events.count() == 200


def _multi_day_batch(spark):
    """Three days of two timeframes for two symbols, plus an in-batch
    duplicate key and a null-symbol row (R4)."""
    rows = []
    for s in ("SPY", "QQQ"):
        for d in range(3):
            for tf in ("Day", "Hour"):
                t = dt.datetime(2024, 1, 1 + d, 14, 30, tzinfo=UTC)
                rows.append((s, tf, t, 100.0 + d, 102.0 + d, 99.0 + d, 101.0 + d, 1000 + d))
    t = dt.datetime(2024, 1, 2, 14, 30, tzinfo=UTC)
    rows.append(("SPY", "Day", t, 1.0, 2.0, 0.5, 1.5, 7))
    rows.append((None, "Day", t, 1.0, 2.0, 0.5, 1.5, 7))
    return spark.createDataFrame(rows, RAW_BAR_SCHEMA)


def _node_names(graph):
    nodes = graph.allNodes()
    return [nodes.apply(i).name() for i in range(nodes.size())]


@pytest.fixture(scope="module")
def second_ingest(spark, tmp_path_factory):
    """Ingest the multi-day batch twice into one table; the second call
    runs in its own job group and reports its jobs, its write's executed
    plan nodes and the RDD blocks it left stored."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        it = store.executionsList().iterator()
        ids = []
        while it.hasNext():
            ids.append(it.next().executionId())
        return ids

    def stored_rdds():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    path = str(tmp_path_factory.mktemp("ingest") / "bars")
    raw, assets = _multi_day_batch(spark), _assets(spark)
    run_batch_ingest(spark, raw, assets, path)
    bus.waitUntilEmpty()
    seen, blocks = set(execution_ids()), stored_rdds()
    group = "second-ingest"
    sc.setJobGroup(group, group)
    try:
        result = run_batch_ingest(spark, raw, assets, path)
    finally:
        sc.setJobGroup("", "")
    bus.waitUntilEmpty()
    plans = [
        _node_names(store.planGraph(i)) for i in execution_ids() if i not in seen
    ]
    return SimpleNamespace(
        raw=raw,
        result=result,
        jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
        writes=[p for p in plans if "Execute InsertIntoHadoopFsRelationCommand" in p],
        new_blocks=stored_rdds() - blocks,
    )


def test_second_ingest_runs_at_most_nine_jobs(second_ingest):
    """One aggregate for events and touched partitions, one upsert write
    and one status aggregate: no second normalize, no semi-join, no
    schema inference and no staging job."""
    assert second_ingest.jobs <= 9, second_ingest.jobs
    assert second_ingest.result.total_bars_saved == 12
    assert second_ingest.result.assets_processed_count == 2


def test_upsert_write_has_one_exchange(second_ingest):
    """The write's executed plan shuffles once, on the partition column:
    the last-wins window partitioned by (bar_date, *key) reuses it."""
    (nodes,) = second_ingest.writes
    assert nodes.count("Exchange") == 1, nodes
    assert "Window" in nodes


def test_ingest_leaves_no_stored_blocks(second_ingest):
    """The upsert stages nothing in executor-local blocks: a lost executor
    cannot fail a later read of them."""
    assert not second_ingest.new_blocks


# The events a multi-day batch produced before the ingest ran in one pass;
# bars_count counts the batch's valid rows, in-batch duplicates included.
_GOLDEN_EVENTS = [
    '{"event_type":"HistoricalDataUpdated","payload":{"symbol":"QQQ","timeframe":"Day",'
    '"bars_count":3,"start_timestamp_utc":"2024-01-01T14:30:00Z","end_timestamp_utc":"2024-01-03T14:30:00Z"}}',
    '{"event_type":"HistoricalDataUpdated","payload":{"symbol":"QQQ","timeframe":"Hour",'
    '"bars_count":3,"start_timestamp_utc":"2024-01-01T14:30:00Z","end_timestamp_utc":"2024-01-03T14:30:00Z"}}',
    '{"event_type":"HistoricalDataUpdated","payload":{"symbol":"SPY","timeframe":"Day",'
    '"bars_count":4,"start_timestamp_utc":"2024-01-01T14:30:00Z","end_timestamp_utc":"2024-01-03T14:30:00Z"}}',
    '{"event_type":"HistoricalDataUpdated","payload":{"symbol":"SPY","timeframe":"Hour",'
    '"bars_count":3,"start_timestamp_utc":"2024-01-01T14:30:00Z","end_timestamp_utc":"2024-01-03T14:30:00Z"}}',
]


def test_ingest_events_byte_identical_on_multi_day_batch(spark, second_ingest):
    assert sorted(second_ingest.result.events) == _GOLDEN_EVENTS
    bars = normalize_bars(second_ingest.raw, _assets(spark))
    alone = emit_ingest_events(bars, ["symbol", "timeframe"], "ts").collect()
    assert sorted(r.event_json for r in alone) == _GOLDEN_EVENTS


def test_upsert_prunes_by_every_partition_column(spark, tmp_path):
    """Two partition columns, one of them null for a key: the batch
    rewrites exactly the (region, day) pairs it touches, and a pair that
    shares only one value with a touched pair keeps its files."""
    path = tmp_path / "t"
    schema = "k long, v string, ver long, region string, day date"
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    first = [
        (1, "a", 1, "eu", d1),
        (2, "b", 1, "eu", d2),
        (3, "c", 1, "us", d1),
        (4, "d", 1, None, d1),
    ]
    upsert_partitioned_parquet(
        spark, spark.createDataFrame(first, schema), str(path), ["k"], ["region", "day"], "ver"
    )

    def files():
        return {
            p.relative_to(path).as_posix(): p.stat().st_size
            for p in path.glob("region=*/day=*/*.parquet")
        }

    before = files()
    batch = [(1, "a2", 2, "eu", d1), (4, "d2", 2, None, d1), (5, "e", 1, "us", d2)]
    upsert_partitioned_parquet(
        spark, spark.createDataFrame(batch, schema), str(path), ["k"], ["region", "day"], "ver"
    )
    got = {(r.k, r.v) for r in spark.read.parquet(str(path)).collect()}
    assert got == {(1, "a2"), (2, "b"), (3, "c"), (4, "d2"), (5, "e")}
    after = files()
    for untouched in ("region=eu/day=2024-01-02/", "region=us/day=2024-01-01/"):
        kept = {f: s for f, s in before.items() if f.startswith(untouched)}
        assert kept and kept == {f: s for f, s in after.items() if f.startswith(untouched)}


def test_upsert_key_partition_contract(spark, tmp_path):
    """The upsert dedups per (partition, key) and reads only touched
    partitions, which is per-key last-wins because a key's partition value
    is a function of the key: a re-sent key replaces its row. A caller
    that moves a stored key to another partition breaks the contract and
    keeps one row per partition, as the docstring states."""
    path = str(tmp_path / "t")
    schema = "k long, v string, ver long, dt date"
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    for rows in ([(1, "a", 1, d1), (2, "b", 1, d2)], [(1, "a2", 2, d1)]):
        upsert_partitioned_parquet(
            spark, spark.createDataFrame(rows, schema), path, ["k"], ["dt"], "ver"
        )
    got = sorted((r.k, r.v, r.dt) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a2", d1), (2, "b", d2)]
    moved = spark.createDataFrame([(2, "b2", 2, d1)], schema)
    upsert_partitioned_parquet(spark, moved, path, ["k"], ["dt"], "ver")
    got = sorted((r.k, r.v, r.dt) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a2", d1), (2, "b", d2), (2, "b2", d1)]
