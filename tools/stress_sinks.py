"""Stress rung for the ingest sinks (round 8, VERDICT r7 #5 — BENCH.md
§13f): the keyed upsert and RTBF delete writers driven at sf1x / sf10x
bar volumes with the four properties a production ingest owner cares
about measured, not assumed:

- **wall** per pass (initial load, incremental upsert, replayed upsert,
  keyed delete, replayed delete);
- **partition scope**: how many of the 30 day-partitions each pass
  rewrote (the sink's O(affected partitions) claim);
- **re-run idempotency**: replaying the same batch/delete leaves row
  count AND value checksum unchanged (run-twice-count-once, R16);
- **untouched-partition byte-identity**: every file in a day the batch
  didn't touch keeps its exact (name, size, mtime) — dynamic partition
  overwrite must never churn cold data.

Input: the synthesized ``.benchdata/sf1x`` / ``sf10x`` events table
(run ``tools/stress_sf1.py --regen`` first) — 1M / 10M rows over 30
day-partitions, the same replica geometry as the query rungs.

Usage:
    python tools/stress_sinks.py [--factor 10|100] [--keep]

Prints the §13f markdown rows with each pass's measured wall.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from dataingestion_pt_ms_spark.session import get_spark
from dataingestion_pt_ms_spark.sources.sinks import (
    delete_keys_partitioned_parquet,
    upsert_partitioned_parquet,
)

_BENCHDATA = Path(__file__).resolve().parent.parent / ".benchdata"

UPSERT_DAYS = ("2024-01-10", "2024-01-11")
DELETE_DAYS = ("2024-01-20", "2024-01-21")


def _events(spark, factor: int):
    src = _BENCHDATA / ("sf1x" if factor == 10 else f"sf{factor // 10}x")
    path = src / "events.parquet"
    if not path.exists():
        sys.exit(f"missing {path} — run tools/stress_sf1.py --factor {factor} first")
    df = spark.read.parquet(str(path))
    return df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def _partition_files(table: str) -> dict[str, dict[str, tuple[int, float]]]:
    """{day: {filename: (size, mtime)}} — the byte-identity fingerprint."""
    out: dict[str, dict[str, tuple[int, float]]] = {}
    root = Path(table)
    if not root.exists():
        return out
    for pdir in root.glob("day=*"):
        day = pdir.name.split("=", 1)[1]
        out[day] = {
            f.name: (f.stat().st_size, f.stat().st_mtime)
            for f in pdir.glob("*.parquet")
        }
    return out


def _table_checksum(spark, table: str) -> tuple[int, int]:
    row = (
        spark.read.parquet(table)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("event_id") * 31 + F.floor(F.col("value") * 100))
                % F.lit(1_000_000_007)
            )
            .cast("long")
            .alias("chk"),
        )
        .collect()[0]
    )
    return row["n"], row["chk"]


def _assert_untouched(before, after, touched: set[str], label: str) -> None:
    cold = [d for d in before if d not in touched]
    for day in cold:
        if before[day] != after.get(day):
            sys.exit(
                f"FAIL {label}: untouched partition day={day} changed "
                f"({len(before[day])} files before, "
                f"{len(after.get(day, {}))} after)"
            )
    print(
        f"# {label}: {len(cold)} untouched partitions byte-identical",
        file=sys.stderr,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10, choices=(10, 100))
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    spark = get_spark("stress-sinks")
    events = _events(spark, args.factor).localCheckpoint(eager=True)
    n_input = events.count()

    tmp = tempfile.mkdtemp(prefix=f"stress_sinks_{args.factor}x_")
    table = f"{tmp}/events_table"
    walls: dict[str, float] = {}
    rows: list[str] = []

    def timed(name: str, fn) -> float:
        t0 = time.perf_counter()
        fn()
        w = time.perf_counter() - t0
        walls[name] = w
        return w

    try:
        # A. initial load — every partition written once
        timed(
            "sink_upsert_initial_load",
            lambda: upsert_partitioned_parquet(
                spark, events, table, ["event_id"], ["day"], "ts"
            ),
        )
        n0, chk0 = _table_checksum(spark, table)
        assert n0 == n_input, (n0, n_input)
        files0 = _partition_files(table)
        rows.append(
            f"| initial load | {n_input} rows | {len(files0)} partitions "
            f"written | {walls['sink_upsert_initial_load']:.1f} |"
        )

        # B. incremental upsert: 2 hot days fully updated (+1 value, +1s ts
        # so the newer row wins deterministically) plus 1% new keys
        hot = events.filter(F.col("day").isin(*UPSERT_DAYS))
        n_hot = hot.count()
        updates = hot.withColumn("value", F.col("value") + 1).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
        )
        inserts = (
            hot.filter(F.col("event_id") % 100 == 0)
            .withColumn("event_id", F.col("event_id") + F.lit(10**13))
        )
        batch = updates.unionByName(inserts).localCheckpoint(eager=True)
        n_new = batch.count() - n_hot
        timed(
            "sink_upsert_incremental",
            lambda: upsert_partitioned_parquet(
                spark, batch, table, ["event_id"], ["day"], "ts"
            ),
        )
        n1, chk1 = _table_checksum(spark, table)
        assert n1 == n0 + n_new, (n1, n0, n_new)
        files1 = _partition_files(table)
        _assert_untouched(files0, files1, set(UPSERT_DAYS), "incremental upsert")
        rows.append(
            f"| incremental upsert | {n_hot} updates + {n_new} inserts | "
            f"{len(UPSERT_DAYS)}/{len(files0)} partitions rewritten | "
            f"{walls['sink_upsert_incremental']:.1f} |"
        )

        # C. replay the SAME batch — run-twice-count-once
        timed(
            "sink_upsert_replay",
            lambda: upsert_partitioned_parquet(
                spark, batch, table, ["event_id"], ["day"], "ts"
            ),
        )
        n2, chk2 = _table_checksum(spark, table)
        assert (n2, chk2) == (n1, chk1), "replayed upsert changed the table"
        files2 = _partition_files(table)
        _assert_untouched(files1, files2, set(UPSERT_DAYS), "replayed upsert")
        rows.append(
            f"| replayed upsert | same batch | rows+checksum unchanged | "
            f"{walls['sink_upsert_replay']:.1f} |"
        )

        # D. RTBF delete: every 1000th key within 2 cold days
        doomed = (
            spark.read.parquet(table)
            .filter(
                F.col("day").isin(*DELETE_DAYS) & (F.col("event_id") % 1000 == 0)
            )
            .select("event_id", "day")
            .localCheckpoint(eager=True)
        )
        n_doomed = doomed.count()
        timed(
            "sink_rtbf_delete",
            lambda: delete_keys_partitioned_parquet(
                spark, table, doomed, ["event_id"], ["day"]
            ),
        )
        n3, chk3 = _table_checksum(spark, table)
        assert n3 == n2 - n_doomed, (n3, n2, n_doomed)
        files3 = _partition_files(table)
        _assert_untouched(files2, files3, set(DELETE_DAYS), "RTBF delete")
        rows.append(
            f"| RTBF delete | {n_doomed} keys | {len(DELETE_DAYS)}/"
            f"{len(files0)} partitions rewritten | "
            f"{walls['sink_rtbf_delete']:.1f} |"
        )

        # E. replay the delete — idempotent no-op on the data
        timed(
            "sink_rtbf_delete_replay",
            lambda: delete_keys_partitioned_parquet(
                spark, table, doomed, ["event_id"], ["day"]
            ),
        )
        n4, chk4 = _table_checksum(spark, table)
        assert (n4, chk4) == (n3, chk3), "replayed delete changed the table"
        rows.append(
            f"| replayed delete | same keys | rows+checksum unchanged | "
            f"{walls['sink_rtbf_delete_replay']:.1f} |"
        )
    finally:
        if args.keep:
            print(f"# table kept at {table}", file=sys.stderr)
        else:
            shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n### §13f sink rung — factor {args.factor} ({n_input} rows)\n")
    print("| pass | volume | scope | wall s |")
    print("|---|---|---|---|")
    for r in rows:
        print(r)


if __name__ == "__main__":
    main()
