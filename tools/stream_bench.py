"""Streaming throughput bench (round 7, VERDICT r6 #5) — BENCH.md §17.

The batch sections (§1–§16) never measured the streaming half. This tool
drives the four stateful streaming jobs end-to-end through the REAL
engine — file source staged into N files (``maxFilesPerTrigger=1`` → N
triggers), ``availableNow`` catch-up-then-stop — and reports, per job:

- rows/sec (input rows / wall-clock from start() to termination),
- per-trigger latency (p50 / max ``durationMs.triggerExecution`` from
  the engine's own StreamingQueryProgress),
- state size (stateOperators' ``numRowsTotal`` + ``memoryUsedBytes``
  for stateful-operator jobs; on-disk store bytes for the foreachBatch
  jobs whose "state" is the persisted parquet store itself),

at sf0.1 and (``--sf-dir .benchdata/sf1x``) 10× input volumes, with
``--provider both`` comparing the heap (HDFSBackedStateStoreProvider)
and RocksDB state stores on the stateful-operator jobs (the
foreachBatch jobs keep no engine state, so the provider is inert
there and they run once).

Usage:
    python tools/stream_bench.py [--sf-dir /root/testdata/sf0.1]
                                 [--triggers 8] [--provider heap|rocksdb|both]
                                 [job ...]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dataingestion_pt_ms_spark.catalog import load_table
from dataingestion_pt_ms_spark.session import get_spark

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

JOBS = (
    "windowed_histogram_stream",
    "interval_join_stream",
    "streaming_incremental_dedup",
    "incremental_mv_stream",
)
STATEFUL_OPERATOR_JOBS = {"windowed_histogram_stream", "interval_join_stream"}


def _stage(spark, sf_dir: str, table: str, cols, n_files: int, tmp: str) -> tuple[str, int]:
    """Write the table as ``n_files`` parquet files — one file per trigger."""
    src = f"{tmp}/{table}_src"
    df = load_table(spark, sf_dir, table).select(*cols)
    df.repartition(n_files).write.mode("overwrite").parquet(src)
    return src, df.count()


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p) if isinstance(p, str) else p)
    return out


def _drain(q, timeout: int = 900) -> None:
    q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
        raise RuntimeError("stream did not terminate inside the bench timeout")


def _trigger_stats(progress: list[dict]) -> tuple[int, float, float, int, int]:
    execs = sorted(
        p["durationMs"]["triggerExecution"]
        for p in progress
        if p.get("numInputRows", 0) > 0 and "triggerExecution" in p.get("durationMs", {})
    )
    n = len(execs)
    p50 = execs[n // 2] if n else 0.0
    mx = execs[-1] if n else 0.0
    # PEAK state across triggers (the capacity number): the final
    # availableNow trigger reports post-eviction state, which understates
    # what the store had to hold mid-run
    state_rows = state_bytes = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        if ops:
            rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
            byts = sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
            for o in ops:
                cm = o.get("customMetrics") or {}
                byts = max(byts, int(cm.get("rocksdbTotalSSTFilesBytes", 0)))
            state_rows = max(state_rows, rows)
            state_bytes = max(state_bytes, byts)
    return n, p50, mx, state_rows, state_bytes


def _dir_bytes(path: str) -> int:
    p = Path(path)
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.exists() else 0


def run_job(spark, name: str, sf_dir: str, n_triggers: int, tmp: str) -> dict:
    from dataingestion_pt_ms_spark.sources.readers import stream_from_dir
    from dataingestion_pt_ms_spark.streaming import jobs as J

    if name == "windowed_histogram_stream":
        src, n_rows = _stage(
            spark, sf_dir, "events",
            ["event_id", "ts", "user_id", "event_type", "value"], n_triggers, tmp,
        )
        schema = spark.read.parquet(src).schema
        stream = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        t0 = time.perf_counter()
        q = (
            J.windowed_histogram_stream(stream)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt_hist")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        wall = time.perf_counter() - t0
        prog = _progress(q)
        state_disk = 0
    elif name == "interval_join_stream":
        src, n_rows = _stage(
            spark, sf_dir, "events",
            ["event_id", "ts", "user_id", "event_type", "value"], n_triggers, tmp,
        )
        schema = spark.read.parquet(src).schema
        errors = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        clicks = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        t0 = time.perf_counter()
        q = (
            J.interval_join_stream(errors, clicks)
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt_ij")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        wall = time.perf_counter() - t0
        prog = _progress(q)
        state_disk = 0
    elif name == "streaming_incremental_dedup":
        src, n_rows = _stage(
            spark, sf_dir, "documents", ["doc_id", "text"], max(2, n_triggers // 2), tmp
        )
        schema = spark.read.parquet(src).schema
        stream = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        t0 = time.perf_counter()
        q = J.streaming_incremental_dedup(
            spark, stream,
            sig_store_path=f"{tmp}/sig_store",
            dups_out_path=f"{tmp}/dups",
            checkpoint_path=f"{tmp}/ckpt_dedup",
        )
        _drain(q)
        wall = time.perf_counter() - t0
        prog = _progress(q)
        state_disk = _dir_bytes(f"{tmp}/sig_store")
    elif name == "incremental_mv_stream":
        src, n_rows = _stage(
            spark, sf_dir, "orders",
            ["o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"],
            n_triggers, tmp,
        )
        schema = spark.read.parquet(src).schema
        stream = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        t0 = time.perf_counter()
        q = J.incremental_mv_stream(
            spark, stream,
            mv_path=f"{tmp}/mv",
            checkpoint_path=f"{tmp}/ckpt_mv",
        )
        _drain(q)
        wall = time.perf_counter() - t0
        prog = _progress(q)
        state_disk = _dir_bytes(f"{tmp}/mv")
    else:
        raise ValueError(f"unknown job {name}")

    n_trig, p50, mx, state_rows, state_bytes = _trigger_stats(prog)
    return {
        "job": name,
        "rows": n_rows,
        "wall_s": round(wall, 2),
        "rows_per_s": round(n_rows / wall) if wall else 0,
        "triggers": n_trig,
        "trigger_p50_ms": p50,
        "trigger_max_ms": mx,
        "state_rows": state_rows,
        "state_bytes": max(state_bytes, state_disk),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--triggers", type=int, default=8)
    ap.add_argument("--provider", choices=("heap", "rocksdb", "both"), default="both")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or list(JOBS)
    providers = ["heap", "rocksdb"] if args.provider == "both" else [args.provider]

    spark = get_spark("stream-bench")
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()  # worker warmup

    label = Path(args.sf_dir.rstrip("/")).name
    print(
        "| job | sf | provider | rows | wall s | rows/s | trigger p50/max ms "
        "| state rows | state MB |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    results = []
    for name in names:
        for prov in providers:
            if prov == "rocksdb" and name not in STATEFUL_OPERATOR_JOBS:
                continue  # foreachBatch jobs keep no engine state store
            if prov == "rocksdb":
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            tmp = tempfile.mkdtemp(prefix=f"streambench_{name}_")
            try:
                m = run_job(spark, name, args.sf_dir, args.triggers, tmp)
            finally:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
                shutil.rmtree(tmp, ignore_errors=True)
            m.update(sf=label, provider=prov)
            results.append(m)
            print(
                f"| {name} | {label} | {prov} | {m['rows']} | {m['wall_s']} "
                f"| {m['rows_per_s']} | {m['trigger_p50_ms']:.0f}/{m['trigger_max_ms']:.0f} "
                f"| {m['state_rows']} | {m['state_bytes'] / 1e6:.2f} |"
            )
            sys.stdout.flush()
    Path("/tmp/stream_bench_last.json").write_text(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
