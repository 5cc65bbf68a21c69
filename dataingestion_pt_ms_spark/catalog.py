"""Loaders for the driver-materialized test tables (TESTDATA.md).

Tables: TPC-H-ish star schema + ``events`` (stream stand-in) +
``documents``/``embeddings`` (LLM ops). One parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale notes (100 TB discipline):
- ``region``/``nation`` are bounded-small by schema semantics (5 / 25 rows at
  any SF) — always broadcast-join them explicitly.
- ``supplier``/``part``/``customer`` grow with SF but stay dimension-sized;
  leave the broadcast decision to Catalyst/AQE so the plan survives scale-up.
- ``lineitem``/``orders``/``events``/``documents``/``embeddings`` are fact
  tables: joins between them shuffle on their keys; never broadcast.
"""

from __future__ import annotations

import os
import warnings
import weakref

from pyspark.sql import DataFrame, SparkSession

from .session import CODEGEN_CACHE_MAX_ENTRIES

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dims safe to broadcast unconditionally (bounded cardinality at any SF).
ALWAYS_BROADCAST: frozenset[str] = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _ensure_session_confs(spark: SparkSession) -> None:
    """Queries must work on ANY SparkSession (the driver builds its own):
    - events.ts is parquet TIMESTAMP(NANOS) → unreadable without
      nanosAsLong (PARQUET_TYPE_ILLEGAL);
    - timestamp formatting must be UTC to agree with the DuckDB oracle;
    - AQE + partition coalescing so a session built with default
      shuffle.partitions=200 doesn't pay 200 near-empty tasks per shuffle
      at oracle SF (and picks broadcast/skew plans adaptively at any SF).
    All are runtime-settable SQL confs. The codegen cache size is static
    (read once per JVM, before its first codegen), so a smaller one is only
    reported, once."""
    _warn_small_codegen_cache(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # AQE coalescing targets max(shuffleBytes/parallelism, minPartitionSize),
    # so the stock 1 MB floor coalesces byte-cheap / CPU-dense shuffles
    # (token streams, candidate pairs, archive groups) down to 1-2 tasks.
    # The floor stays at Spark's 1 MB anyway: lowering it changes
    # post-shuffle partition counts globally, which reorders floating-point
    # aggregation and flipped agg_global_summary's 6-decimal rounding vs the
    # oracle (r10 opt). CPU-dense Python stages get explicit repartition()
    # at the operator instead.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")


# One warning per process: a PySpark process drives one JVM, and the
# codegen cache is one per JVM.
_codegen_cache_warned = False


def _warn_small_codegen_cache(spark: SparkSession) -> None:
    global _codegen_cache_warned
    have = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    if have < CODEGEN_CACHE_MAX_ENTRIES and not _codegen_cache_warned:
        _codegen_cache_warned = True
        warnings.warn(
            f"spark.sql.codegen.cache.maxEntries is {have}, below the engine's "
            f"{CODEGEN_CACHE_MAX_ENTRIES}: repeated queries recompile their "
            "generated classes. It is a static conf; set it when the session "
            "is built (session.get_spark does).",
            RuntimeWarning,
            stacklevel=3,
        )


# Memoized (session → {(sf_dir, table) → DataFrame}). A DataFrame is just an
# analyzed plan — reusing it skips only the repeated parquet footer/schema
# read (~130 queries × 2-3 tables each adds up in the driver's correctness
# sweep), never caches row data, and keeps scan-level pushdown/pruning
# intact for every consumer. WeakKey so a stopped session's plans are
# dropped with it.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir.rstrip("/"), name)
    if key in per_session:
        return per_session[key]
    _ensure_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Normalize events.ts to TIMESTAMP (LTZ, µs) whatever the parquet
        # physical type of the driver-generated file:
        # - TIMESTAMP(NANOS): surfaced as long (ns since epoch) via
        #   spark.sql.legacy.parquet.nanosAsLong. Truncate to µs with
        #   integer division (ns epoch values exceed double's 2^53 mantissa
        #   — float division would corrupt them) — identical to DuckDB's
        #   ns→µs truncation on read.
        # - TIMESTAMP_NTZ (isAdjustedToUTC=false µs): plain cast; the
        #   session timezone is pinned UTC so wall-clock values are
        #   preserved bit-exactly and match DuckDB's naive read.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    per_session[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every table as a temp view (for the SQL-API paths)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t + suffix)
