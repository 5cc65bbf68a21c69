"""Set operations + keyed dedup (SURVEY.md §2.B "Set operations").

Reference parity: multi-asset fan-in (union of per-asset batches) and the
idempotent upsert key ``(symbol, timeframe, ts)`` (R16,
``app/alpaca_service.py:194,207``) — the "keep latest per key" query below is
exactly the upsert's last-wins semantics expressed relationally.

Scale notes: union is metadata-only (no shuffle); intersect/except/distinct
shuffle on the full row — prefer keyed ``dropDuplicates`` / window-rank dedup
which shuffle on the key only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# --------------------------------------------------------------------------
# UNION (distinct) of two filtered key sets.
# --------------------------------------------------------------------------
UNION_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal > 8000
"""


@register("set_union_distinct", oracle=UNION_ORACLE)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 8000).select("c_custkey")
    return a.unionByName(b).distinct()


# --------------------------------------------------------------------------
# UNION ALL preserving duplicates, tagged by source branch.
# --------------------------------------------------------------------------
UNION_ALL_ORACLE = """
SELECT c_custkey, 'building' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, 'rich' AS src FROM customer WHERE c_acctbal > 8000
"""


@register("set_union_all_tagged", oracle=UNION_ALL_ORACLE)
def set_union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("building").alias("src")
    )
    b = cust.filter(F.col("c_acctbal") > 8000).select(
        "c_custkey", F.lit("rich").alias("src")
    )
    return a.unionByName(b)


# --------------------------------------------------------------------------
# INTERSECT: customers appearing with both 'O' and 'F' orders.
# --------------------------------------------------------------------------
INTERSECT_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


@register("set_intersect_custkeys", oracle=INTERSECT_ORACLE)
def set_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


# --------------------------------------------------------------------------
# EXCEPT (distinct): customers with orders but none pending.
# --------------------------------------------------------------------------
EXCEPT_ORACLE = """
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


@register("set_except_custkeys", oracle=EXCEPT_ORACLE)
def set_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.subtract(b)


# --------------------------------------------------------------------------
# DISTINCT over a projection.
# --------------------------------------------------------------------------
DISTINCT_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus, l_suppkey FROM lineitem
"""


@register("set_distinct_projection", oracle=DISTINCT_ORACLE)
def set_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus", "l_suppkey").distinct()


# --------------------------------------------------------------------------
# Keyed dedup, last-wins (the reference's upsert semantics, R16): keep each
# customer's latest order deterministically.
# --------------------------------------------------------------------------
LATEST_ORACLE = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


@register("dedup_keyed_last_wins", oracle=LATEST_ORACLE)
def dedup_keyed_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
    )
