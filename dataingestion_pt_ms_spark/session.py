"""SparkSession factory.

Defaults mirror a production cluster profile, scaled to local mode:

- **AQE on** (runtime shuffle-partition coalescing, skew-join splitting,
  adaptive broadcast): this is the whole "optimizer story" beyond Catalyst
  defaults — see SURVEY.md §4.
- **UTC session timezone**: the reference normalizes every timestamp to UTC
  (reference ``app/alpaca_service.py:161``); it also makes DuckDB-oracle
  comparisons well-defined (DuckDB timestamps are UTC-naive).
- **shuffle.partitions ~ cores**: on a real cluster this would be 2-3x total
  executor cores (or left to AQE's coalescing from a high initial value);
  200 is wrong in both directions for local mode.
- **Arrow enabled**: the few Pandas-UDF operators (MinHash banding helpers,
  multimodal feature stubs) use Arrow-batched transfer, never row-at-a-time.
- **Codegen cache sized for the registry** (``CODEGEN_CACHE_MAX_ENTRIES``):
  Spark's default keeps fewer generated classes than one pass over a
  handful of queries compiles, so every repeat of a query recompiled them.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


# Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``, default
# 100) holds compiled Janino classes; one llm_curation pass alone compiles
# about 240, so at the default every pass recompiled all of them. A full
# ``registry()`` sweep at sf0.001 (414 queries, build + noop drain +
# collect) in a fresh JVM with an unbounded cache compiles 5,574 distinct
# classes; 8,192 leaves 47 % headroom for plans that differ at other scale
# factors. Cost, measured after that sweep on a 4-core host: Metaspace
# 241 MB used against 197 MB at the default (about 8 KB per cached class),
# JVM RSS 7.69 GB against 7.66 GB. A static conf, read once per JVM before
# its first codegen, so it is set when the session is built and shipped to
# executors in the cluster profile.
CODEGEN_CACHE_MAX_ENTRIES = 8192


def cluster_profile_conf(env: dict[str, str] | None = None) -> dict[str, str]:
    """Map the env cluster profile to explicit Spark confs — the
    local→cluster knob story as an EXECUTABLE function (round 7, VERDICT
    r6 #7), consumed three ways: ``get_spark(extra_conf=...)`` locally,
    ``scripts/submit_example.sh`` (via the ``--submit-conf`` CLI below)
    for a real ``spark-submit``, and the pytest that pins the formulas.

    Profile env (all optional; parenthesized defaults):

    - ``SPARK_GRAFT_EXECUTORS`` (8): executor count. Local mode ignores
      it at runtime but the conf is still set and assertable.
    - ``SPARK_GRAFT_EXECUTOR_CORES`` (4) / ``SPARK_GRAFT_EXECUTOR_MEM``
      ("16g"): per-executor sizing.
    - ``SPARK_GRAFT_SHUFFLE_MULT`` (3): shuffle partitions = mult ×
      executors × cores — the "2-3× total cores" rule this module has
      documented in prose since round 1, now computed. AQE coalescing
      shrinks small stages from there at runtime.
    - ``SPARK_GRAFT_MAX_PARTITION_BYTES`` ("128m"): scan split size; at
      100 TB this bounds mapper memory and first-stage task count
      (~819k tasks at 128m — raise it if the driver chokes on task
      bookkeeping, lower it if scans spill).
    - ``SPARK_GRAFT_DRIVER_MEM`` ("48g" local): driver heap — on a
      cluster the driver only plans/collects bounded frames, so the
      local default is deliberately the ceiling, not the floor.

    Fixed, with no env: ``spark.sql.codegen.cache.maxEntries`` =
    :data:`CODEGEN_CACHE_MAX_ENTRIES`. Every executor JVM keeps its own
    codegen cache and reads the size once, so it ships with the job.
    """
    e = os.environ if env is None else env
    executors = max(1, int(e.get("SPARK_GRAFT_EXECUTORS", "8")))
    cores = max(1, int(e.get("SPARK_GRAFT_EXECUTOR_CORES", "4")))
    mult = max(1, int(e.get("SPARK_GRAFT_SHUFFLE_MULT", "3")))
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores),
        "spark.executor.memory": e.get("SPARK_GRAFT_EXECUTOR_MEM", "16g"),
        "spark.sql.shuffle.partitions": str(mult * executors * cores),
        "spark.sql.files.maxPartitionBytes": e.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"
        ),
        "spark.driver.memory": e.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    }


# State-store instances PER PARTITION each stateful operator kind plans
# (what multiplies into the per-batch commit count): a stream-stream join
# keeps four stores per partition (two sides × keyToNumValues /
# keyWithIndexToValue); aggregations, dedup, [flat]MapGroupsWithState and
# session windows keep one.
STATE_STORES_PER_OP = {
    "agg": 1,
    "dedup": 1,
    "session_window": 1,
    "groups_with_state": 1,
    "stream_stream_join": 4,
}

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def streaming_state_conf(
    n_state_stores: int,
    cores: int | None = None,
    trigger_seconds: float | None = None,
    key_cardinality: int | None = None,
    state_gb: float = 0.0,
    object_store: bool = False,
) -> dict[str, str]:
    """Size ``spark.sql.shuffle.partitions`` for a STREAMING query from
    the stores-per-core arithmetic BENCH.md §17c measured (round 10,
    VERDICT r9 #1) — the batch default freezes an unmeetable trigger
    floor into the first checkpoint, because every state store commits
    once per micro-batch and the commit overhead is per-STORE, not
    per-row (32 partitions × 4 join stores = 128 commits/batch gave the
    interval join a 6.9 s p50 floor that no data rate could fix; 8
    partitions met a 2 s trigger to 200 k rows/s/side).

    ``n_state_stores``: stores per partition across the query's stateful
    operators — sum :data:`STATE_STORES_PER_OP` over the plan (e.g. one
    stream-stream join = 4; a windowed agg feeding a dedup = 2).

    The dial, exactly as measured:

    - **latency-sized** (``trigger_seconds`` < 5): stores-per-core ≤ 1 —
      ``partitions = cores // n_state_stores`` — so one commit wave per
      batch; §17c: meets a 2 s trigger up to 200 k rows/s/side where the
      cores-sized count cannot meet it at ANY rate.
    - **throughput-sized** (``trigger_seconds`` ≥ 5 or None):
      ``partitions = cores`` — full data-path parallelism; §17b: carries
      800 k rows/s/side at a 5 s trigger.

    ``key_cardinality`` caps the count (a partition without keys is a
    store that still commits every batch); ``state_gb`` ≥ 1 adds the
    RocksDB provider (§17b: bounded-tail commits at GB state are worth
    its ~1.4× median penalty; below that heap is strictly better on
    local disk). ``object_store=True`` additionally enables RocksDB
    changelog checkpointing when RocksDB is selected — on S3/GCS-class
    storage the commit ships the per-batch changelog instead of
    re-uploading SST files, which is the production default there;
    §17c measured it NEUTRAL-to-worse on local disk (the only place
    this container can measure), which is exactly why it is gated
    behind this flag rather than always on. On a cluster pass total
    executor cores; the invariant scales with the fleet, and the FIRST
    run's checkpoint freezes the choice for the query's life — size it
    before that run.
    """
    if n_state_stores < 1:
        raise ValueError("n_state_stores must be >= 1")
    cores = cores or default_parallelism()
    if trigger_seconds is not None and trigger_seconds < 5:
        parts = max(1, cores // n_state_stores)
    else:
        parts = max(1, cores)
    if key_cardinality is not None:
        parts = max(1, min(parts, key_cardinality))
    conf = {"spark.sql.shuffle.partitions": str(parts)}
    if state_gb >= 1.0:
        conf["spark.sql.streaming.stateStore.providerClass"] = _ROCKSDB_PROVIDER
        if object_store:
            conf[
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            ] = "true"
    return conf


# per-row resident cost of stream-stream join state on the heap store,
# measured (BENCH.md §17b/§17c): 100 k rows/s/side × ~70 s accumulated
# on both sides ≈ 14 M rows at 1 883 MB ⇒ ~135 B/row (row data + the
# keyToNumValues/keyWithIndexToValue store overhead). RocksDB SST
# footprints read 5–10× smaller on disk but the planning number that
# matters for the §17b provider rule is resident state.
_JOIN_STATE_BYTES_PER_ROW = 135


def interval_join_state_gb(
    rate_rows_per_sec: float,
    lookback_minutes: float,
    watermark_minutes: float,
    sides: int = 2,
) -> float:
    """Steady-state stream-stream-join state estimate (GB) — the input
    ``streaming_state_conf`` needs for its ``state_gb`` provider rule,
    computed instead of guessed. A watermarked interval join retains
    each side's rows until no future row can join them: ~(watermark +
    lookback) worth of arrivals per side, so

        state ≈ rate × (watermark + lookback) × sides × bytes_per_row

    with the per-row constant measured in §17b (135 B on the heap
    store). Validated against the recorded runs: 100 k rows/s/side ×
    (15 m watermark, but only ~70 s elapsed in-run) reached 1.9 GB —
    at steady state the same job holds ~48 GB, which is exactly why
    the §17b bigstate rule flips the provider to RocksDB long before
    the watermark horizon fills."""
    rows = rate_rows_per_sec * (watermark_minutes + lookback_minutes) * 60.0
    return rows * sides * _JOIN_STATE_BYTES_PER_ROW / 1e9


@contextmanager
def session_conf(spark: SparkSession, conf: dict[str, str]):
    """Apply ``conf`` for the duration of the block, then restore —
    the intended wrapper around a streaming ``.start()``: shuffle
    partitions are read at query planning, so only the stream being
    started sees the streaming-sized value and concurrent batch work
    keeps the session default."""
    old: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "dataingestion-pt-ms-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract for
    bench runs) or ``local[*]``.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame-debugging wrapper decorates every DataFrame/
        # Column API call with error-context capture: a Python stack walk
        # plus FOUR extra py4j round-trips per call (conf lookup +
        # PySparkCurrentOrigin getattr/set/clear). Query *construction* is
        # thousands of such calls, so the enrichment tax is paid on every
        # invocation of every query on any driver — measured r10 opt: the
        # dedup family spends 2.9-6.8 s/invocation BUILDING its DataFrame
        # (vs 0.2-0.8 s executing it at sf0.1) and the flag alone cut
        # builds ~30-40 % (minhash_lsh 4.02->2.86 s, cluster_near_dups
        # 9.50->5.87 s). Pinned off; a debugging session that wants errors
        # annotated with user-code call sites passes it in ``extra_conf``.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.ts is parquet TIMESTAMP(NANOS): Spark has no ns timestamp
        # type; read as long and normalize to µs in the catalog (matches
        # DuckDB's ns→µs truncation on read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: driver JVM is the whole cluster; leave headroom in the
        # 128 GiB container. On a real cluster this is per-executor memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
    )
    # opt-in cluster profile: apply the executable knob mapping so a
    # profile-built LOCAL session carries the exact confs spark-submit
    # would ship (assertable end-to-end; VERDICT r6 #7)
    if os.environ.get("SPARK_GRAFT_CLUSTER_PROFILE") == "1":
        for k, v in cluster_profile_conf().items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize an intermediate and cut its lineage — the engine's one
    way to do so, so the policy below is decided here and nowhere else.

    Policy: executor-local blocks (``localCheckpoint``). The blocks live in
    executor block storage and the plan above them is dropped, so a lost
    executor fails the job instead of recomputing the intermediate.

    ``eager=False`` (the default) does not wait for the blocks, but with
    AQE on (the engine default) it is not free: the call plans the subtree
    adaptively, which runs its shuffle and broadcast stages now, and only
    the final stage waits for the first action that reads the blocks (with
    AQE off the call runs no job). So a lazy call saves one job, not the
    work, and Spark's exchange reuse already shares a repeated subtree
    within one plan: a lazy site stays only where removing it costs wall
    time, CPU, shuffle bytes or an extra table-scan stage on the queries
    that reach it.

    ``eager=True`` runs every stage now. It is required where the blocks
    must exist before the next statement:

    - read-own-input staging (key deletion and seeding in
      ``sources/sinks.py``, the materialized-view overwrite in
      ``streaming/jobs.py``): the rows are snapshotted before the write
      that changes what they were read from, and the deletion's
      post-write ``exceptAll`` reads the snapshot, not the new table. The
      keyed upsert needs no staging: dynamic partition overwrite replaces
      partitions only at job commit, after every read;
    - iterative loops (``operators/clustering.py``, ``operators/graph.py``):
      each round's state is stored as the round ends, so the plan stays
      one round deep and the next probe or round reads stored blocks.
    """
    return df.localCheckpoint(eager=eager)


if __name__ == "__main__":  # pragma: no cover - exercised via subprocess test
    import sys

    if "--submit-conf" in sys.argv:
        # print --conf flags for scripts/submit_example.sh; one per line so
        # the shell can splat them into spark-submit
        print(
            " ".join(
                f"--conf {k}={v}" for k, v in sorted(cluster_profile_conf().items())
            )
        )
    else:
        print(__doc__)
