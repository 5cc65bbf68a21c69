"""Window-function surface (SURVEY.md §2.B "Window functions" and
"Sorts / limits / top-k").

Reference parity: lag/lead and moving averages are the bar-over-bar /
SMA analytics the reference's OHLCV domain implies (SURVEY.md §1.1); the
implicit ORDER BY in the reference's batch summary (R19) becomes explicit,
deterministic window ordering here (always a unique tiebreak column).

Scale notes: a window spec = one shuffle on partitionBy keys + per-partition
sort. Determinism rules used throughout: row-frame windows always order by a
unique key tuple; cumulative sums over ties use RANGE frames (peers included
→ tie-order invariant); ranking queries emit row_number only with a unique
tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# --------------------------------------------------------------------------
# Ranking: row_number / rank / dense_rank per nation by balance.
# --------------------------------------------------------------------------
RANK_ORACLE = """
SELECT * FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
         rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
         dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk
  FROM customer
) WHERE rn <= 5
"""


@register("window_rank_top_balances", oracle=RANK_ORACLE)
def window_rank_top_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    by_bal = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    by_bal_key = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(by_bal_key).alias("rn"),
            F.rank().over(by_bal).alias("rnk"),
            F.dense_rank().over(by_bal).alias("drnk"),
        )
        .filter(F.col("rn") <= 5)
    )


# --------------------------------------------------------------------------
# Analytic lag/lead: event-over-event value delta per user.
# --------------------------------------------------------------------------
LAG_ORACLE = """
SELECT event_id, user_id, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       value - coalesce(lag(value) OVER w, 0) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("window_lag_lead_events", oracle=LAG_ORACLE)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.coalesce(prev, F.lit(0.0))).alias("delta"),
    )


# --------------------------------------------------------------------------
# Moving average over a 5-row frame (SMA) per user.
# --------------------------------------------------------------------------
SMA_ORACLE = """
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS sma5
FROM events
"""


@register("window_moving_average", oracle=SMA_ORACLE)
def window_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("sma5"),
    )


# --------------------------------------------------------------------------
# Cumulative sum with a RANGE frame (peers included → deterministic under
# shipdate ties without a tiebreak column).
# --------------------------------------------------------------------------
CUMSUM_ORACLE = """
SELECT l_orderkey, l_linenumber, l_suppkey,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
       round(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
                                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_qty
FROM lineitem
"""


@register("window_cumulative_range", oracle=CUMSUM_ORACLE)
def window_cumulative_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        F.round(F.sum("l_quantity").over(w), 2).alias("cum_qty"),
    )


# --------------------------------------------------------------------------
# Global top-k (Catalyst TakeOrderedAndProject — no full sort at scale).
# --------------------------------------------------------------------------
TOPK_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@register("topk_global_orders", oracle=TOPK_ORACLE)
def topk_global_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Per-group top-k via row_number (the scalable per-key top-k pattern).
# --------------------------------------------------------------------------
TOPK_GRP_ORACLE = """
SELECT * FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
"""


@register("topk_per_brand_parts", oracle=TOPK_GRP_ORACLE)
def topk_per_brand_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# Global sort (range-partitioned at scale) — full ordered projection.
# --------------------------------------------------------------------------
SORT_ORACLE = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
ORDER BY s_acctbal DESC, s_suppkey
"""


@register("sort_global_suppliers", oracle=SORT_ORACLE)
def sort_global_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    return supp.select("s_suppkey", "s_name", "s_acctbal").orderBy(
        F.col("s_acctbal").desc(), "s_suppkey"
    )


# --------------------------------------------------------------------------
# Time-RANGE window frame: per-user trailing 72-hour event-value sum — the
# window feature ROWS frames can't express (the frame is defined by the
# timestamp AXIS, not row count, so gaps and bursts are handled correctly).
# Both engines evaluate the frame over epoch seconds (Spark rangeBetween
# takes numeric bounds; DuckDB gets the identical integer axis), partitioned
# by user — no global window. RANGE frames include peer rows (ties on the
# axis), so a single ORDER BY key is both required (DuckDB) and sufficient
# for a deterministic sum. Money-free doubles, final-only rounding.
# --------------------------------------------------------------------------
RANGE_FRAME_ORACLE = """
SELECT user_id, event_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW), 6)
         AS trailing_72h_sum
FROM events
ORDER BY user_id, event_id
"""


@register("window_range_interval_frame", oracle=RANGE_FRAME_ORACLE)
def window_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # exact microsecond axis on BOTH sides: second-granular unix_timestamp
    # truncates sub-second timestamps and flips frame membership at the
    # 72 h boundary (found at sf0.1 — 3 rows)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-259_200_000_000, 0)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 6).alias("trailing_72h_sum"),
        )
        .orderBy("user_id", "event_id")
    )
