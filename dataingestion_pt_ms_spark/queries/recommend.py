"""Recommender factorization (round 4, SURVEY.md §2.B): one full
alternating-least-squares round at rank 2, expressed ENTIRELY as grouped
aggregates + closed-form 2×2 solves — no UDFs, no iteration framework.

Why this is Spark-first: at rank k the ALS normal equations need the
k×k Gram matrix Σ q qᵀ and the k-vector Σ r·q per user (then per item) —
k(k+1)/2 + k grouped SUMs, i.e. ONE map-side-combinable aggregation per
half-step, and the solve itself is per-row arithmetic (here the explicit
2×2 inverse; at production rank the solve is the mapInPandas numpy path,
same swap the covariance operator documents). Regularization λ > 0 makes
the system positive-definite (det ≥ λ·(trace+λ) by Cauchy-Schwarz), so no
divide-by-zero guard is needed.

Cross-engine discipline: deterministic md5-based item-factor init (the
make_planes trick), factors ROUNDED to 6 dp after each half-step in both
engines so aggregate summation-order noise never compounds, scores ranked
on (rounded score, item) — engine-independent.

Reference parity: beyond-reference [NS]; generalizes the co-purchase
affinity family (basket_pair_affinity) from counting to factorization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import materialize
from . import register

_LAMBDA = 0.1
_TOPK = 3
_PANEL = 5

# md5-derived factor component in [-1, 1] with a per-component salt
_DUCK_Q = (
    "((CAST(('0x' || substr(md5('{salt}|' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 2001) - 1000) / 1000.0"
)


def _q_expr(salt: str, col: str):
    return (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{salt}|"), F.col(col).cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        )
        / 1000.0
    )


ALS_ORACLE = f"""
WITH r AS (
  SELECT o.o_custkey AS u, l.l_partkey AS i, CAST(count(*) AS DOUBLE) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY u, i
), q0 AS (
  SELECT DISTINCT i,
         {_DUCK_Q.format(salt='q1')} AS q1,
         {_DUCK_Q.format(salt='q2')} AS q2
  FROM r
), us AS (
  SELECT r.u,
         sum(q1 * q1) AS a11, sum(q1 * q2) AS a12, sum(q2 * q2) AS a22,
         sum(r.r * q1) AS b1, sum(r.r * q2) AS b2
  FROM r JOIN q0 ON q0.i = r.i GROUP BY r.u
), p AS (
  SELECT u,
         round(((a22 + {_LAMBDA}) * b1 - a12 * b2)
               / ((a11 + {_LAMBDA}) * (a22 + {_LAMBDA}) - a12 * a12), 6) AS p1,
         round(((a11 + {_LAMBDA}) * b2 - a12 * b1)
               / ((a11 + {_LAMBDA}) * (a22 + {_LAMBDA}) - a12 * a12), 6) AS p2
  FROM us
), its AS (
  SELECT r.i,
         sum(p1 * p1) AS a11, sum(p1 * p2) AS a12, sum(p2 * p2) AS a22,
         sum(r.r * p1) AS b1, sum(r.r * p2) AS b2
  FROM r JOIN p ON p.u = r.u GROUP BY r.i
), q AS (
  SELECT i,
         round(((a22 + {_LAMBDA}) * b1 - a12 * b2)
               / ((a11 + {_LAMBDA}) * (a22 + {_LAMBDA}) - a12 * a12), 6) AS q1,
         round(((a11 + {_LAMBDA}) * b2 - a12 * b1)
               / ((a11 + {_LAMBDA}) * (a22 + {_LAMBDA}) - a12 * a12), 6) AS q2
  FROM its
), panel AS (
  SELECT u, p1, p2 FROM p ORDER BY u LIMIT {_PANEL}
), scored AS (
  SELECT panel.u, q.i, round(p1 * q1 + p2 * q2, 6) AS score,
         row_number() OVER (PARTITION BY panel.u
                            ORDER BY round(p1 * q1 + p2 * q2, 6) DESC, q.i) AS rnk
  FROM panel CROSS JOIN q
)
SELECT u, i, score, CAST(rnk AS BIGINT) AS rnk
FROM scored WHERE rnk <= {_TOPK}
ORDER BY u, rnk
"""


@register("rec_als_rank2_round", oracle=ALS_ORACLE)
def rec_als_rank2_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    r = materialize(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.count("*").cast("double").alias("r"))
    )  # feeds both half-steps
    q0 = r.select("i").distinct().select(
        "i", _q_expr("q1", "i").alias("q1"), _q_expr("q2", "i").alias("q2")
    )

    def solve(joined: DataFrame, key: str, f1: str, f2: str) -> DataFrame:
        s = joined.groupBy(key).agg(
            F.sum(F.col(f1) * F.col(f1)).alias("a11"),
            F.sum(F.col(f1) * F.col(f2)).alias("a12"),
            F.sum(F.col(f2) * F.col(f2)).alias("a22"),
            F.sum(F.col("r") * F.col(f1)).alias("b1"),
            F.sum(F.col("r") * F.col(f2)).alias("b2"),
        )
        det = (F.col("a11") + _LAMBDA) * (F.col("a22") + _LAMBDA) - F.col(
            "a12"
        ) * F.col("a12")
        return s.select(
            key,
            F.round(
                ((F.col("a22") + _LAMBDA) * F.col("b1") - F.col("a12") * F.col("b2"))
                / det,
                6,
            ).alias("f1"),
            F.round(
                ((F.col("a11") + _LAMBDA) * F.col("b2") - F.col("a12") * F.col("b1"))
                / det,
                6,
            ).alias("f2"),
        )

    p = solve(r.join(q0, "i"), "u", "q1", "q2").withColumnsRenamed(
        {"f1": "p1", "f2": "p2"}
    )
    p = materialize(p)  # item half-step + panel
    q = solve(r.join(p, "u"), "i", "p1", "p2").withColumnsRenamed(
        {"f1": "q1", "f2": "q2"}
    )
    panel = p.orderBy("u").limit(_PANEL)
    score = F.round(
        F.col("p1") * F.col("q1") + F.col("p2") * F.col("q2"), 6
    )
    wq = W.partitionBy("u").orderBy(F.col("score").desc(), "i")
    return (
        F.broadcast(panel)
        .crossJoin(q)
        .select("u", "i", score.alias("score"))
        .withColumn("rnk", F.row_number().over(wq).cast("long"))
        .filter(F.col("rnk") <= _TOPK)
        .select("u", "i", "score", "rnk")
        .orderBy("u", "rnk")
    )
