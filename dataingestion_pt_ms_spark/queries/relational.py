"""Core relational queries: scan → filter → project → join → agg → sort/limit.

Covers SURVEY.md §2.B "Scans", "Projections / filters / predicates" and the
TPC-H-style star-schema flagship queries. Reference parity: the projection /
rename / prune / cast chain generalizes reference ``app/alpaca_service.py:
138-162`` (R6-R15 collapse into a single Catalyst-optimized ``select``); the
time-range predicate generalizes R3 (``app/alpaca_service.py:117-121``) and is
pushed into the parquet scan by Catalyst rather than hand-placed.

Scale notes: every query here keeps filters/projections at the scan (pushdown
+ pruning verified in tests/test_plans.py), broadcasts only bounded-small dims
(region/nation; AQE decides for customer/part/supplier), and aggregates with
map-side partials (plain ``groupBy().agg`` — no ``collect()`` anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Flagship: revenue per region per month (5-way star join + hash agg + sort).
# --------------------------------------------------------------------------
FLAGSHIP_ORACLE = """
SELECT r_name,
       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY r_name, order_month
ORDER BY r_name, order_month
"""


@register("flagship_region_monthly_revenue", oracle=FLAGSHIP_ORACLE)
def flagship_region_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            "r_name",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("order_month"),
        )
        .agg(
            # decimal-sum: the per-row double product casts to DECIMAL(18,6)
            # identically in both engines, and the decimal sum is exact, so
            # the 2-dp rounding can't flip on summation order (observed at
            # sf0.1: one group sat on the half-cent boundary under plain
            # double summation)
            F.round(F.sum(_revenue().cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("r_name", "order_month")
    )


# --------------------------------------------------------------------------
# TPC-H Q1 shape: single-table scan + 8 aggregates over 2 group keys.
# --------------------------------------------------------------------------
Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = _revenue()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: selective join + agg + deterministic top-k.
# --------------------------------------------------------------------------
Q3_ORACLE = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate  > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, order_date, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-03-15"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q5 shape: full 5-way join restricted to one region + year.
# --------------------------------------------------------------------------
Q5_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("q5_local_supplier_volume", oracle=Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_revenue()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# --------------------------------------------------------------------------
# Projection: select / rename / prune / derived column (reference R6-R15 as
# one declarative select; Catalyst prunes the parquet scan to 4 columns).
# --------------------------------------------------------------------------
PROJ_ORACLE = """
SELECT l_orderkey AS okey,
       l_linenumber AS line_no,
       l_quantity AS qty,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
"""


@register("proj_rename_prune", oracle=PROJ_ORACLE)
def proj_rename_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(10, 20)).select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
        _revenue().alias("net_price"),
    )


# --------------------------------------------------------------------------
# Predicates: IN-list, LIKE, BETWEEN, boolean combinators, null guards
# (reference R3/R4 generalized).
# --------------------------------------------------------------------------
PRED_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       round(o_totalprice, 2) AS total_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderstatus LIKE 'F%'
  AND o_totalprice BETWEEN 1000 AND 200000
  AND o_custkey IS NOT NULL
  AND (o_orderdate < TIMESTAMP '1998-01-01' OR o_totalprice > 150000)
"""


@register("filter_predicates", oracle=PRED_ORACLE)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_orderstatus").like("F%")
        & F.col("o_totalprice").between(1000, 200000)
        & F.col("o_custkey").isNotNull()
        & ((F.col("o_orderdate") < F.lit("1998-01-01")) | (F.col("o_totalprice") > 150000))
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("total_price"),
    )


# --------------------------------------------------------------------------
# Conditional expression: CASE WHEN bucketing + agg.
# --------------------------------------------------------------------------
CASE_ORACLE = """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 2500 THEN 'low'
            WHEN c_acctbal < 7500 THEN 'mid'
            ELSE 'high' END AS balance_bucket,
       c_mktsegment,
       count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_bal
FROM customer
GROUP BY balance_bucket, c_mktsegment
ORDER BY balance_bucket, c_mktsegment
"""


@register("case_when_bucketing", oracle=CASE_ORACLE)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 2500, "low")
        .when(F.col("c_acctbal") < 7500, "mid")
        .otherwise("high")
        .alias("balance_bucket")
    )
    return (
        cust.groupBy(bucket, F.col("c_mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
        .orderBy("balance_bucket", "c_mktsegment")
    )


# --------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS-style semi join + grouped count.
# --------------------------------------------------------------------------
Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_order_priority_checking", oracle=Q4_ORACLE)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# TPC-H Q6 shape: pure scan-filter-aggregate — the pushdown showcase (all
# three predicates reach the parquet reader; single stage).
# --------------------------------------------------------------------------
Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# TPC-H Q18 shape: agg → HAVING-style filter → join back to facts (large
# order detection). Two shuffles on the same key — Catalyst reuses the
# partitioning for the second join.
# --------------------------------------------------------------------------
Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey AS bo_key, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(o_totalprice, 2) AS total_price,
       total_qty
FROM big
JOIN orders   ON o_orderkey = bo_key
JOIN customer ON c_custkey = o_custkey
ORDER BY total_price DESC, o_orderkey
"""


@register("q18_large_volume_customers", oracle=Q18_ORACLE)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("bo_key"))
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 150)
        .drop("_raw_qty")
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("bo_key"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
    )
