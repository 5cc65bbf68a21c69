"""Distributed ML data-preparation primitives.

The reference repo feeds market bars into downstream consumers
(``app/alpaca_service.py:101-262``); a training-data platform built on the
same tables needs the feature-engineering passes that precede model fitting.
These queries implement the classic *distributed* formulations — the ones
whose communication pattern survives 100 TB:

- ``lineitem_histogram_split_finder``: histogram-based best-split search,
  the core primitive of distributed GBDT (XGBoost approx / LightGBM): one
  map-side partial aggregation builds per-(feature, bin) class histograms
  (result cardinality = Σ bins, independent of row count), then the split
  scan is a window over bins only.
- ``orders_target_encoding_oof``: out-of-fold target encoding computed via
  the all-folds-minus-this-fold identity (global sums minus fold sums), so
  the pass is ONE aggregation over (category, fold) — no per-fold re-scan
  of the fact table, no leakage.

Every query has an exact DuckDB oracle; all math is integer counts plus
final rounded doubles, so the cross-engine hash is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# --------------------------------------------------------------------------
# Histogram split finder (distributed GBDT primitive).
#
# Target: y = 1 iff l_returnflag = 'R'. Three candidate features, each with
# a FIXED binning (no data-dependent quantile pass, so the whole computation
# is a single shuffle on ~hundreds of (feature, bin) keys):
#   qty_bin   = l_quantity (integer 1..50: the value is its own bin)
#   disc_bin  = round(l_discount * 100)        (0..10)
#   price_bin = floor(l_extendedprice / 5000)  (~0..20)
# Split semantics: "bin <= b goes left"; gain = Gini(parent) - weighted
# child Gini, evaluated at every interior boundary, best per feature.
# At 100 TB the per-bin histogram is a map-side partial agg and the gain
# scan touches only Σ bins rows — the LightGBM communication pattern.
# --------------------------------------------------------------------------

SPLIT_FINDER_ORACLE = """
WITH labeled AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CAST(l_quantity AS BIGINT) AS qty_bin,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_bin,
         CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS price_bin
  FROM lineitem
), long AS (
  SELECT 'qty' AS feature, qty_bin AS bin, y FROM labeled
  UNION ALL
  SELECT 'disc' AS feature, disc_bin AS bin, y FROM labeled
  UNION ALL
  SELECT 'price' AS feature, price_bin AS bin, y FROM labeled
), hist AS (
  SELECT feature, bin,
         COUNT(*) AS n, SUM(y) AS pos
  FROM long GROUP BY feature, bin
), scanned AS (
  SELECT feature, bin,
         SUM(n) OVER w AS n_left, SUM(pos) OVER w AS pos_left,
         SUM(n) OVER p AS n_tot,  SUM(pos) OVER p AS pos_tot
  FROM hist
  WINDOW w AS (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         p AS (PARTITION BY feature)
), gains AS (
  SELECT feature, bin,
         n_left, n_tot - n_left AS n_right,
         (1.0 - POWER(CAST(pos_tot AS DOUBLE) / n_tot, 2)
              - POWER(1.0 - CAST(pos_tot AS DOUBLE) / n_tot, 2))
         - (CAST(n_left AS DOUBLE) / n_tot)
           * (1.0 - POWER(CAST(pos_left AS DOUBLE) / n_left, 2)
                  - POWER(1.0 - CAST(pos_left AS DOUBLE) / n_left, 2))
         - (CAST(n_tot - n_left AS DOUBLE) / n_tot)
           * (1.0 - POWER(CAST(pos_tot - pos_left AS DOUBLE) / (n_tot - n_left), 2)
                  - POWER(1.0 - CAST(pos_tot - pos_left AS DOUBLE) / (n_tot - n_left), 2))
           AS gain
  FROM scanned
  WHERE n_left < n_tot
), best AS (
  SELECT feature, bin AS split_bin, n_left, n_right,
         round(gain, 8) AS gain_r,
         row_number() OVER (PARTITION BY feature
                            ORDER BY round(gain, 8) DESC, bin) AS rk
  FROM gains
)
SELECT feature, split_bin,
       CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       gain_r AS gain
FROM best WHERE rk = 1
ORDER BY feature
"""


@register("lineitem_histogram_split_finder", oracle=SPLIT_FINDER_ORACLE)
def lineitem_histogram_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.col("l_quantity").cast("bigint").alias("qty_bin"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_bin"),
        F.floor(F.col("l_extendedprice") / 5000.0).cast("bigint").alias("price_bin"),
    )
    long = li.selectExpr(
        "stack(3, 'qty', qty_bin, 'disc', disc_bin, 'price', price_bin)"
        " AS (feature, bin)",
        "y",
    )
    hist = long.groupBy("feature", "bin").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("feature")
    scanned = hist.select(
        "feature",
        "bin",
        F.sum("n").over(w).alias("n_left"),
        F.sum("pos").over(w).alias("pos_left"),
        F.sum("n").over(p).alias("n_tot"),
        F.sum("pos").over(p).alias("pos_tot"),
    )

    def gini(pos, n):
        pr = pos.cast("double") / n
        return F.lit(1.0) - pr * pr - (1 - pr) * (1 - pr)

    g = (
        scanned.filter(F.col("n_left") < F.col("n_tot"))
        .withColumn("n_right", F.col("n_tot") - F.col("n_left"))
        .withColumn("pos_right", F.col("pos_tot") - F.col("pos_left"))
        .withColumn(
            "gain",
            gini(F.col("pos_tot"), F.col("n_tot"))
            - (F.col("n_left").cast("double") / F.col("n_tot"))
            * gini(F.col("pos_left"), F.col("n_left"))
            - (F.col("n_right").cast("double") / F.col("n_tot"))
            * gini(F.col("pos_right"), F.col("n_right")),
        )
    )
    rk = Window.partitionBy("feature").orderBy(F.round("gain", 8).desc(), F.col("bin"))
    return (
        g.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "feature",
            F.col("bin").alias("split_bin"),
            "n_left",
            "n_right",
            F.round("gain", 8).alias("gain"),
        )
        .orderBy("feature")
    )


# --------------------------------------------------------------------------
# Out-of-fold target encoding (leakage-safe category mean).
#
# fold = md5(o_orderkey) % 5 (content-stable — same discipline as the
# curation split); target = 1 iff o_orderstatus = 'F'. The encoding a row
# in fold f sees for its customer is mean(target) over the OTHER four folds:
#   enc(c, f) = (sum_all(c) - sum_fold(c, f)) / (n_all(c) - n_fold(c, f))
# computed from ONE groupBy (custkey, fold) pass + a per-category window — never
# a per-fold re-aggregation of the fact table. Laplace smoothing (alpha=20)
# toward the own-fold-excluded global prior keeps rare customers sane.
# --------------------------------------------------------------------------

TARGET_ENCODING_ORACLE = """
WITH labeled AS (
  SELECT o_custkey AS custkey,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
           % 5 AS fold,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), cf AS (
  SELECT custkey, fold, COUNT(*) AS n, SUM(y) AS s
  FROM labeled GROUP BY custkey, fold
), enc AS (
  SELECT custkey, fold, n AS n_in_fold,
         SUM(n) OVER (PARTITION BY custkey) - n AS n_oof,
         SUM(s) OVER (PARTITION BY custkey) - s AS s_oof,
         SUM(n) OVER () - n AS n_oof_g,
         SUM(s) OVER () - s AS s_oof_g
  FROM cf
)
SELECT custkey, fold, n_in_fold,
       round((s_oof + 20.0 * (CAST(s_oof_g AS DOUBLE) / n_oof_g))
             / (n_oof + 20.0), 6) AS encoding
FROM enc
ORDER BY custkey, fold
"""


@register("orders_target_encoding_oof", oracle=TARGET_ENCODING_ORACLE)
def orders_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(5),
        ).alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cf = o.groupBy("custkey", "fold").agg(F.count("*").alias("n"), F.sum("y").alias("s"))
    # Global totals as a broadcast 1-row aggregate, NOT an unpartitioned
    # window: (custkey, fold) cardinality grows with scale (customers = SF * 150k)
    # and a global window would single-reduce it.
    tot = cf.agg(F.sum("n").alias("_ng"), F.sum("s").alias("_sg"))
    pc = Window.partitionBy("custkey")
    enc = (
        cf.crossJoin(F.broadcast(tot))
        .select(
            "custkey",
            "fold",
            F.col("n").alias("n_in_fold"),
            (F.sum("n").over(pc) - F.col("n")).alias("n_oof"),
            (F.sum("s").over(pc) - F.col("s")).alias("s_oof"),
            (F.col("_ng") - F.col("n")).alias("n_oof_g"),
            (F.col("_sg") - F.col("s")).alias("s_oof_g"),
        )
    )
    return enc.select(
        "custkey",
        "fold",
        "n_in_fold",
        F.round(
            (
                F.col("s_oof")
                + 20.0 * (F.col("s_oof_g").cast("double") / F.col("n_oof_g"))
            )
            / (F.col("n_oof") + 20.0),
            6,
        ).alias("encoding"),
    ).orderBy("custkey", "fold")
