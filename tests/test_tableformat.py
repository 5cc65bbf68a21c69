"""Transaction-log table format tests (round 8, VERDICT r7 #4): MERGE
semantics, exactly-once replay, snapshot isolation / time travel, file
pruning with untouched-file byte identity, the RTBF delete, and parity
with the parquet upsert sink (same contents, same tie winners)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataingestion_pt_ms_spark.sources import tableformat as TF
from dataingestion_pt_ms_spark.sources.sinks import upsert_partitioned_parquet


def _batch(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, ts=ts, v=v) for k, ts, v in rows], "k long, ts long, v string"
    )


def _state(spark, table, snapshot=None):
    return {
        (r.k): (r.ts, r.v)
        for r in TF.read_snapshot(spark, table, snapshot).collect()
    }


def test_merge_insert_update_and_last_wins(spark, tmp_path):
    t = str(tmp_path / "t")
    s0 = TF.merge_into(
        spark, _batch(spark, [(1, 10, "a"), (2, 10, "b")]), t, ["k"], "ts"
    )
    assert s0 == 0
    # update k=1 with newer ts; stale ts for k=2 must NOT win; k=3 inserts
    s1 = TF.merge_into(
        spark,
        _batch(spark, [(1, 20, "a2"), (2, 5, "stale"), (3, 10, "c")]),
        t,
        ["k"],
        "ts",
    )
    assert s1 == 1
    assert _state(spark, t) == {1: (20, "a2"), 2: (10, "b"), 3: (10, "c")}


def test_merge_source_wins_order_ties(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "old")]), t, ["k"], "ts")
    TF.merge_into(spark, _batch(spark, [(1, 10, "new")]), t, ["k"], "ts")
    # WHEN MATCHED AND s.ts >= t.ts: equal ts → source row wins
    assert _state(spark, t) == {1: (10, "new")}


def test_exactly_once_batch_id_replay(spark, tmp_path):
    t = str(tmp_path / "t")
    b = _batch(spark, [(1, 10, "a"), (2, 10, "b")])
    s0 = TF.merge_into(spark, b, t, ["k"], "ts", batch_id="load-001")
    s1 = TF.merge_into(spark, b, t, ["k"], "ts", batch_id="load-001")
    assert (s0, s1) == (0, 0)  # replay is a no-op, no new snapshot
    assert len(TF.list_snapshots(spark, t)) == 1
    assert TF.read_snapshot(spark, t).count() == 2


def test_idempotent_without_batch_id(spark, tmp_path):
    """run-twice-count-once even without the batch id: last-wins dedup
    makes the second apply rewrite the same logical rows."""
    t = str(tmp_path / "t")
    b = _batch(spark, [(1, 10, "a"), (2, 10, "b")])
    TF.merge_into(spark, b, t, ["k"], "ts")
    TF.merge_into(spark, b, t, ["k"], "ts")
    assert len(TF.list_snapshots(spark, t)) == 2
    assert _state(spark, t) == {1: (10, "a"), 2: (10, "b")}


def test_time_travel_and_history(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    TF.merge_into(spark, _batch(spark, [(1, 20, "a2"), (2, 10, "b")]), t, ["k"], "ts")
    assert _state(spark, t, snapshot=0) == {1: (10, "a")}
    assert _state(spark, t, snapshot=1) == {1: (20, "a2"), 2: (10, "b")}
    assert _state(spark, t) == _state(spark, t, snapshot=1)
    h = {r.snapshot: r for r in TF.history(spark, t).collect()}
    assert h[0].operation == "MERGE" and h[1].n_removes >= 1


def test_file_pruning_keeps_disjoint_files_byte_identical(spark, tmp_path):
    t = str(tmp_path / "t")
    # two commits over disjoint key ranges → live files with disjoint stats
    lo_keys = _batch(spark, [(k, 10, f"v{k}") for k in range(0, 500, 10)])
    hi_keys = _batch(spark, [(k, 10, f"v{k}") for k in range(1000, 1500, 10)])
    TF.merge_into(spark, lo_keys, t, ["k"], "ts")
    TF.merge_into(spark, hi_keys, t, ["k"], "ts")
    live0 = {f["path"]: f for f in TF.live_files(spark, t)}
    assert len(live0) > 1, "need >1 file to prove pruning"
    # touch only the high range: low-range files must survive untouched
    TF.merge_into(spark, _batch(spark, [(1200, 20, "new")]), t, ["k"], "ts")
    live1 = {f["path"]: f for f in TF.live_files(spark, t)}
    survivors = set(live0) & set(live1)
    rewritten = set(live0) - set(live1)
    assert survivors, "disjoint files must survive the merge un-rewritten"
    assert rewritten != set(live0), "merge must not rewrite every file"
    for p in rewritten:  # only files whose range can contain 1200
        assert live0[p]["max"] >= 1200 and live0[p]["min"] <= 1200
    for p in survivors:
        assert live0[p]["max"] < 1200 or live0[p]["min"] > 1200
    # value check: everything still present, updated key updated
    st = _state(spark, t)
    assert st[1200] == (20, "new") and st[0] == (10, "v0") and len(st) == 100


def test_delete_keys_rtbf(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(
        spark, _batch(spark, [(k, 10, f"v{k}") for k in range(20)]), t, ["k"], "ts"
    )
    doomed = spark.createDataFrame([Row(k=3), Row(k=7)], "k long")
    s = TF.delete_keys(spark, doomed, t, ["k"])
    st = _state(spark, t)
    assert 3 not in st and 7 not in st and len(st) == 18
    # the pre-delete snapshot is still time-travel-readable (VACUUM's job
    # to actually purge, as in Delta)
    assert len(_state(spark, t, snapshot=s - 1)) == 20


def test_concurrent_commit_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    # a racing writer already holds snapshot 1: committing it again must
    # lose the exclusive-create race and surface the retryable conflict
    assert TF._create_exclusive(spark, TF._log_path(t, 1), b"{}")
    with pytest.raises(RuntimeError, match="concurrent"):
        TF._commit(spark, t, 1, "MERGE", [], [], None)
    # and a fresh merge simply serializes AFTER the competitor's commit
    TF.merge_into(spark, _batch(spark, [(2, 10, "b")]), t, ["k"], "ts")
    assert TF.current_snapshot(spark, t) == 2


def test_upsert_provider_parity(spark, tmp_path):
    """The txn-log MERGE and the parquet upsert converge to the same table
    contents for the same batch sequence, including a batch whose order
    value ties an existing row (the batch row wins in both)."""
    pq, tx = str(tmp_path / "pq"), str(tmp_path / "tx")
    batches = [
        [(1, 10, "a"), (2, 10, "b")],
        [(1, 20, "a2"), (3, 10, "c")],
        [(2, 10, "b2")],
    ]
    for rows in batches:
        b = _batch(spark, rows).withColumn("part", F.col("k") % 2)
        upsert_partitioned_parquet(spark, b, pq, ["k"], ["part"], "ts")
        TF.merge_into(spark, b, tx, ["k"], "ts")
    left = {
        r.k: (r.ts, r.v, r.part)
        for r in spark.read.parquet(pq).collect()
    }
    right = {
        r.k: (r.ts, r.v, r.part)
        for r in TF.read_snapshot(spark, tx).collect()
    }
    assert left == right == {
        1: (20, "a2", 1),
        2: (10, "b2", 0),
        3: (10, "c", 1),
    }


def test_upsert_tie_winner_independent_of_arrival_order(spark, tmp_path):
    """Two batch rows with the same key and order value keep the same
    winner whichever arrives first — a replayed batch (every row of a
    batch shares one ``current_timestamp()``) must store what the first
    run stored."""
    rows = [(1, 5, "x"), (1, 5, "y")]
    kept = set()
    for i, order in enumerate((rows, rows[::-1])):
        b = _batch(spark, order).coalesce(1).withColumn("part", F.lit(0))
        pq, tx = str(tmp_path / f"pq{i}"), str(tmp_path / f"tx{i}")
        upsert_partitioned_parquet(spark, b, pq, ["k"], ["part"], "ts")
        TF.merge_into(spark, b, tx, ["k"], "ts")
        kept |= {r.v for r in spark.read.parquet(pq).collect()}
        kept |= {r.v for r in TF.read_snapshot(spark, tx).collect()}
    assert len(kept) == 1, kept


def test_checkpoint_compacts_and_preserves_state(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        TF.merge_into(
            spark, _batch(spark, [(i, 10 + i, f"v{i}")]), t, ["k"], "ts"
        )
    before = _state(spark, t)
    cp = TF.checkpoint(spark, t)
    assert cp == 4
    c = TF.read_commit(spark, t, cp)
    assert c["operation"] == "CHECKPOINT" and c["checkpoint_of"] == [0, 1, 2, 3]
    # replay-from-scratch equals pre-checkpoint state; merges continue after
    assert _state(spark, t) == before
    TF.merge_into(spark, _batch(spark, [(9, 10, "z")]), t, ["k"], "ts")
    assert _state(spark, t) == {**before, 9: (10, "z")}


def test_vacuum_deletes_unreferenced_keeps_retained(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    TF.merge_into(spark, _batch(spark, [(1, 20, "a2")]), t, ["k"], "ts")
    # snapshot 0's file is superseded; retention=1 may delete it
    # (min_file_age_ms=0: this test IS the exclusive single writer)
    deleted = TF.vacuum(spark, t, retain_snapshots=1, min_file_age_ms=0)
    assert deleted, "superseded file should be vacuumed"
    # the current snapshot still reads; the vacuumed one no longer does
    assert _state(spark, t) == {1: (20, "a2")}
    with pytest.raises(Exception):
        TF.read_snapshot(spark, t, 0).collect()


def test_vacuum_retention_preserves_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    TF.merge_into(spark, _batch(spark, [(1, 20, "a2")]), t, ["k"], "ts")
    assert TF.vacuum(spark, t, retain_snapshots=2, min_file_age_ms=0) == []
    assert _state(spark, t, snapshot=0) == {1: (10, "a")}


def test_vacuum_table_under_data_ancestor_dir(spark, tmp_path):
    """ADVICE r8 (high): relative paths must come from stripping the
    table's own data-dir prefix, not from splitting on the first
    '/data/' — a table mounted under an ancestor directory named data
    (e.g. /data/lake/t) must not have its LIVE files swept."""
    t = str(tmp_path / "data" / "lake" / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    TF.merge_into(spark, _batch(spark, [(1, 20, "a2")]), t, ["k"], "ts")
    deleted = TF.vacuum(spark, t, retain_snapshots=1, min_file_age_ms=0)
    assert deleted, "superseded file should still be vacuumed"
    assert all(d.startswith("data/s") for d in deleted)
    assert _state(spark, t) == {1: (20, "a2")}  # live files survived


def test_vacuum_retention_window_skips_fresh_files(spark, tmp_path):
    """ADVICE r8 (medium): files younger than min_file_age_ms may belong
    to an in-flight merge (data lands before its log commit) — the
    default window must skip them instead of corrupting that merge."""
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    TF.merge_into(spark, _batch(spark, [(1, 20, "a2")]), t, ["k"], "ts")
    # default window (1h): the just-written superseded file is too fresh
    assert TF.vacuum(spark, t, retain_snapshots=1) == []
    assert _state(spark, t, snapshot=0) == {1: (10, "a")}  # still readable
    # explicit 0 (single-writer escape hatch) sweeps it
    assert TF.vacuum(spark, t, retain_snapshots=1, min_file_age_ms=0)


def test_delete_keys_after_schema_evolution(spark, tmp_path):
    """ADVICE r8 (medium): the RTBF rewrite must read overlapping files
    with mergeSchema, or evolved columns silently vanish from every
    surviving row in rewritten files."""
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a"), (2, 10, "b")]), t, ["k"], "ts")
    widened = _batch(spark, [(3, 10, "c")]).withColumn("lang", F.lit("en"))
    TF.merge_into(spark, widened, t, ["k"], "ts")
    doomed = spark.createDataFrame([Row(k=2)], "k long")
    TF.delete_keys(spark, doomed, t, ["k"])
    rows = {r.k: (r.ts, r.v, r.lang) for r in TF.read_snapshot(spark, t).collect()}
    # the evolved column survives the copy-on-write rewrite
    assert rows == {1: (10, "a", None), 3: (10, "c", "en")}


def test_delete_keys_emptying_every_overlapping_file(spark, tmp_path):
    """Deleting every key in the overlapping files commits removes with
    zero adds (no pre-count probe job, no phantom empty-file adds)."""
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a"), (2, 10, "b")]), t, ["k"], "ts")
    doomed = spark.createDataFrame([Row(k=1), Row(k=2)], "k long")
    s = TF.delete_keys(spark, doomed, t, ["k"])
    c = TF.read_commit(spark, t, s)
    assert c["adds"] == [] and c["removes"], "empty rewrite → pure removal"
    with pytest.raises(ValueError, match="no data"):
        TF.read_snapshot(spark, t)  # table is now empty
    assert len(_state(spark, t, snapshot=s - 1)) == 2  # time travel intact


def test_checkpoint_skip_makes_log_reads_o1(spark, tmp_path):
    """VERDICT r8 #2: after a checkpoint, a merge's log reads must be
    O(commits since checkpoint), not O(all commits) — the scaling the
    checkpoint docstring promises. Counted via TF.LOG_READS."""
    t = str(tmp_path / "t")
    n = 10
    for i in range(n):
        TF.merge_into(
            spark,
            _batch(spark, [(i, 10, f"v{i}")]),
            t, ["k"], "ts",
            batch_id=f"epoch-{i}",
        )
    # without a checkpoint a merge replays every commit (> n reads)
    before = TF.LOG_READS
    TF.merge_into(
        spark, _batch(spark, [(100, 10, "x")]), t, ["k"], "ts",
        batch_id="epoch-pre-ckpt",
    )
    assert TF.LOG_READS - before > n
    cp = TF.checkpoint(spark, t)
    # post-checkpoint: batch-id set + live files come from the checkpoint
    # commit plus the (zero) commits after it — a small constant
    before = TF.LOG_READS
    TF.merge_into(
        spark, _batch(spark, [(101, 10, "y")]), t, ["k"], "ts",
        batch_id="epoch-post-ckpt",
    )
    post_ckpt_reads = TF.LOG_READS - before
    assert post_ckpt_reads <= 4, f"expected O(1) log reads, got {post_ckpt_reads}"
    # exactly-once replay still short-circuits on PRE-checkpoint batch ids
    # (the checkpoint carries the committed set forward)
    n_snaps = len(TF.list_snapshots(spark, t))
    TF.merge_into(
        spark, _batch(spark, [(0, 99, "dup")]), t, ["k"], "ts",
        batch_id="epoch-0",
    )
    assert len(TF.list_snapshots(spark, t)) == n_snaps  # replay was a no-op
    assert _state(spark, t)[0] == (10, "v0")
    # time travel to a pre-checkpoint snapshot still replays from 0
    assert _state(spark, t, snapshot=0) == {0: (10, "v0")}
    assert _state(spark, t, snapshot=cp) == _state(spark, t, snapshot=cp - 1)


def test_txn_app_id_disambiguates_shared_basenames():
    """ADVICE r8 (low): two queries whose checkpoints share a basename
    must not collide in the exactly-once batch-id namespace."""
    from dataingestion_pt_ms_spark.streaming.ingest import _txn_app_id

    a = _txn_app_id("/jobs/alpha/ckpt", None)
    b = _txn_app_id("/jobs/beta/ckpt", None)
    assert a != b
    assert _txn_app_id("/jobs/alpha/ckpt/", None) == a  # slash-insensitive
    assert _txn_app_id("/jobs/alpha/ckpt", "explicit") == "explicit"


def test_schema_evolution_on_merge(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a"), (2, 10, "b")]), t, ["k"], "ts")
    widened = _batch(spark, [(2, 20, "b2"), (3, 10, "c")]).withColumn(
        "lang", F.lit("en")
    )
    TF.merge_into(spark, widened, t, ["k"], "ts")
    rows = {r.k: (r.ts, r.v, r.lang) for r in TF.read_snapshot(spark, t).collect()}
    # old row surfaces NULL in the evolved column; updated/new rows carry it
    assert rows == {1: (10, "a", None), 2: (20, "b2", "en"), 3: (10, "c", "en")}
    # pre-evolution snapshot keeps the narrow schema
    assert "lang" not in TF.read_snapshot(spark, t, 0).columns


def test_optimize_compacts_atomically(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        TF.merge_into(
            spark,
            _batch(spark, [(100 * i + j, 10, f"v{i}.{j}") for j in range(5)]),
            t, ["k"], "ts",
        )
    before = _state(spark, t)
    n_files_before = len(TF.live_files(spark, t))
    assert n_files_before >= 4
    s = TF.optimize(spark, t, "k", target_files=1)
    assert len(TF.live_files(spark, t)) == 1
    assert _state(spark, t) == before  # data-preserving
    assert _state(spark, t, snapshot=s - 1) == before  # old snapshot intact
    c = TF.read_commit(spark, t, s)
    assert c["operation"] == "OPTIMIZE" and len(c["removes"]) == n_files_before


def test_expire_log_after_checkpoint(spark, tmp_path):
    """Log retention: commits older than the newest checkpoint expire;
    current reads, post-checkpoint time travel, history, and exactly-once
    replay (via the checkpoint's carried batch-id set) all survive —
    expired-snapshot time travel fails by design."""
    t = str(tmp_path / "t")
    for i in range(4):
        TF.merge_into(
            spark, _batch(spark, [(i, 10, f"v{i}")]), t, ["k"], "ts",
            batch_id=f"e{i}",
        )
    before = _state(spark, t)
    cp = TF.checkpoint(spark, t)
    with_post = TF.merge_into(
        spark, _batch(spark, [(9, 10, "z")]), t, ["k"], "ts", batch_id="e9"
    )
    expired = TF.expire_log(spark, t)
    assert expired == [0, 1, 2, 3]
    assert TF.list_snapshots(spark, t) == [cp, with_post]
    assert _state(spark, t) == {**before, 9: (10, "z")}
    assert _state(spark, t, snapshot=cp) == before
    # pre-checkpoint batch ids still replay as no-ops (carried forward)
    n = len(TF.list_snapshots(spark, t))
    TF.merge_into(
        spark, _batch(spark, [(0, 99, "dup")]), t, ["k"], "ts", batch_id="e0"
    )
    assert len(TF.list_snapshots(spark, t)) == n
    assert _state(spark, t)[0] == (10, "v0")
    # expired snapshots are gone by design
    with pytest.raises(Exception):
        TF.read_snapshot(spark, t, 1).collect()
    # a second checkpoint supersedes the first; expiry sweeps it + marker
    cp2 = TF.checkpoint(spark, t)
    expired2 = TF.expire_log(spark, t)
    assert cp in expired2 and with_post in expired2
    assert TF.list_snapshots(spark, t) == [cp2]
    assert _state(spark, t) == {**before, 9: (10, "z")}


def test_expire_log_requires_checkpoint(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.merge_into(spark, _batch(spark, [(1, 10, "a")]), t, ["k"], "ts")
    with pytest.raises(ValueError, match="no checkpoint"):
        TF.expire_log(spark, t)
