"""Aggregation surface (SURVEY.md §2.B "Aggregations").

Reference parity: run counters (R18, ``app/alpaca_service.py:234,262``)
generalize to grouped count/sum; the batch first/last-timestamp summary (R19,
``app/alpaca_service.py:246-247``) is done *correctly* here as min/max —
order-independent, unlike the reference's reliance on source ordering.

Scale notes: all hash aggregations get automatic map-side partial
aggregation; ``approx_count_distinct`` (HLL++) is the 100 TB-scale variant of
exact distinct counting (constant memory per group vs a shuffle of the
distinct values); rollup/cube expand grouping sets in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# --------------------------------------------------------------------------
# Global (ungrouped) aggregation — one-row summary.
# --------------------------------------------------------------------------
GLOBAL_ORACLE = """
SELECT count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
"""


@register("agg_global_summary", oracle=GLOBAL_ORACLE)
def agg_global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Grouped agg + HAVING (post-aggregation filter).
# --------------------------------------------------------------------------
HAVING_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice), 6) AS avg_total
FROM orders
GROUP BY o_orderpriority
HAVING count(*) > 100
ORDER BY o_orderpriority
"""


@register("agg_group_having", oracle=HAVING_ORACLE)
def agg_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_total"),
        )
        .filter(F.col("n_orders") > 100)
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Min/max of timestamp per group — the R19 fix (order-independent).
# --------------------------------------------------------------------------
MINMAX_TS_ORACLE = """
SELECT o_orderstatus,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_date,
       strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("agg_minmax_timestamps", oracle=MINMAX_TS_ORACLE)
def agg_minmax_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_date"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Exact count distinct per group (expands to a two-phase agg at scale).
# --------------------------------------------------------------------------
CDIST_ORACLE = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_distinct_customers,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_count_distinct", oracle=CDIST_ORACLE)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_distinct_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Approximate distinct (HLL++) — the scale path. Sketch estimates are
# algorithm-specific, so no SQL oracle (driver records rows-only).
# --------------------------------------------------------------------------
@register("agg_approx_count_distinct", oracle=None)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Approximate quantiles (percentile_approx ≠ exact quantile → rows-only);
# exact percentile is SQL-checkable and included in agg_stats_moments.
# --------------------------------------------------------------------------
@register("agg_approx_quantiles", oracle=None)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
            F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95_price"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# ROLLUP over the geo hierarchy (grouping sets in one pass).
# --------------------------------------------------------------------------
ROLLUP_ORACLE = """
SELECT coalesce(r_name, 'ALL') AS region_name,
       coalesce(n_name, 'ALL') AS nation_name,
       count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY region_name, nation_name
"""


@register("agg_rollup_geo", oracle=ROLLUP_ORACLE)
def agg_rollup_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_balance",
        )
        .orderBy("region_name", "nation_name")
    )


# --------------------------------------------------------------------------
# CUBE over the lineitem flags (all 4 grouping sets).
# --------------------------------------------------------------------------
CUBE_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


@register("agg_cube_flags", oracle=CUBE_ORACLE)
def agg_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# Statistical moments + exact percentile.
# --------------------------------------------------------------------------
STATS_ORACLE = """
SELECT c_mktsegment,
       round(stddev_samp(c_acctbal), 6) AS stddev_bal,
       round(var_samp(c_acctbal), 4) AS var_bal,
       round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
       count(*) AS n
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("agg_stats_moments", oracle=STATS_ORACLE)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(F.stddev_samp("c_acctbal"), 6).alias("stddev_bal"),
            F.round(F.var_samp("c_acctbal"), 4).alias("var_bal"),
            F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("median_bal"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Bivariate statistics: correlation + covariance per group. Both engines
# compute sample formulas; intermediates are unrounded doubles and only the
# final statistics are rounded (4 dp — |corr| <= 1, far above the ~1e-12
# cross-engine accumulation noise).
# --------------------------------------------------------------------------
CORR_ORACLE = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(corr(c_acctbal, o_totalprice), 4) AS corr_bal_price,
       round(covar_samp(c_acctbal, o_totalprice), 2) AS covar_bal_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("agg_corr_covar", oracle=CORR_ORACLE)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does customer balance predict order size? corr/covar of the joined
    fact — the bivariate members of the stats-moment family (stddev/var/
    median live in agg_stats_moments)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.corr("c_acctbal", "o_totalprice"), 4).alias("corr_bal_price"),
            F.round(F.covar_samp("c_acctbal", "o_totalprice"), 2).alias(
                "covar_bal_price"
            ),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Incremental summary maintenance: a materialized monthly rollup kept
# up-to-date by merging the OLD summary with a re-agg of only the NEW
# partition — never rescanning history. Works because sum/count are
# mergeable partial aggregates (avg = merged sum / merged count; count
# DISTINCT is NOT mergeable — that one needs HLL sketch merge, see
# agg_approx_count_distinct). The oracle is the full recompute, proving
# the incremental path semantics-free. Money sums use the decimal-sum
# pattern (BENCH.md "Cross-engine rounding") from the start.
# --------------------------------------------------------------------------
_CUTOVER = "1997-07-01"

INCR_SUMMARY_ORACLE = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY order_month
ORDER BY order_month
"""


@register("agg_incremental_summary", oracle=INCR_SUMMARY_ORACLE)
def agg_incremental_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
        "order_month"
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_sum"),
            F.count(F.lit(1)).alias("_cnt"),
        )

    old_summary = partial(orders.filter(F.col("o_orderdate") < _CUTOVER))
    delta = partial(orders.filter(F.col("o_orderdate") >= _CUTOVER))
    return (
        old_summary.unionByName(delta)
        .groupBy("order_month")
        .agg(
            F.round(F.sum("_sum"), 2).cast("double").alias("total_price"),
            F.sum("_cnt").alias("n_orders"),
        )
        .orderBy("order_month")
    )


# --------------------------------------------------------------------------
# Mode + discrete percentile family (round 4): the DISCRETE order
# statistics the percentile_cont rows deliberately avoid — mode (most
# frequent quantity, smallest-value tie-break so both engines agree) and
# percentile_disc(0.5) (an actual data value, not an interpolation):
# pick the value at rank ⌈n/2⌉ in value order. Builtin mode()/
# percentile_disc tie rules differ across engines, so both are computed
# from explicit counts + row_number — the WoE/moments discipline.
# --------------------------------------------------------------------------
MODE_DISC_ORACLE = """
WITH counts AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS mode_val,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY flag, mode_val
), md AS (
  SELECT flag, mode_val, c,
         row_number() OVER (PARTITION BY flag ORDER BY c DESC, mode_val) AS r
  FROM counts
), tot AS (
  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY flag
), ranked AS (
  SELECT l_returnflag AS flag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rq
  FROM lineitem
)
SELECT md.flag AS flag, tot.n AS n,
       md.mode_val AS qty_mode, md.c AS mode_count,
       ranked.l_extendedprice AS price_median_disc
FROM md
JOIN tot ON tot.flag = md.flag
JOIN ranked ON ranked.flag = md.flag
           AND ranked.rq = CAST(ceil(tot.n / 2.0) AS BIGINT)
WHERE md.r = 1
ORDER BY flag
"""


@register("lineitem_mode_percentile_disc", oracle=MODE_DISC_ORACLE)
def lineitem_mode_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("mode_val"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wm = W.partitionBy("flag").orderBy(F.col("c").desc(), "mode_val")
    md = counts.withColumn("r", F.row_number().over(wm)).where(F.col("r") == 1)
    tot = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wq = W.partitionBy("flag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice", "l_orderkey",
        "l_linenumber",
    ).withColumn("rq", F.row_number().over(wq))
    return (
        md.join(F.broadcast(tot), "flag")
        .join(
            ranked,
            (md.flag == ranked.flag)
            & (ranked.rq == F.ceil(F.col("n") / 2.0).cast("long")),
        )
        .select(
            md.flag.alias("flag"), "n",
            F.col("mode_val").alias("qty_mode"),
            F.col("c").alias("mode_count"),
            F.col("l_extendedprice").alias("price_median_disc"),
        )
        .orderBy("flag")
    )
