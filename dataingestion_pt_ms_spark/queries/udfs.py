"""The user-extensible function surface (SURVEY.md §2.B "UDF / UDAF / UDTF"):
vectorized scalar pandas_udf, grouped-map applyInPandas (UDTF-like), and
GROUPED_AGG pandas UDF (UDAF) — each Arrow-batched, never row-at-a-time.

These exist to prove the extension surface works and stays correct (every
one has a SQL oracle); the engine's own operators deliberately avoid Python
on hot paths (SURVEY.md §2.B policy).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# --------------------------------------------------------------------------
# Vectorized scalar pandas UDF: elementwise arithmetic in Arrow batches —
# bit-identical to the SQL expression (same IEEE ops, same order).
# --------------------------------------------------------------------------
SCALAR_UDF_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged_udf
FROM lineitem
WHERE l_orderkey % 17 = 0
"""


@register("udf_vectorized_scalar", oracle=SCALAR_UDF_ORACLE)
def udf_vectorized_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def charged(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 17 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charged("l_extendedprice", "l_discount", "l_tax").alias("charged_udf"),
    )


# --------------------------------------------------------------------------
# Grouped-map applyInPandas: per-segment z-score (UDTF-like row fan-out with
# group context). Oracle: the same standardization via window functions.
# --------------------------------------------------------------------------
ZSCORE_ORACLE = """
SELECT c_custkey, c_mktsegment,
       round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6) AS bal_zscore
FROM customer
"""


@register("udf_grouped_map_zscore", oracle=ZSCORE_ORACLE)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean, std = pdf["c_acctbal"].mean(), pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "bal_zscore": ((pdf["c_acctbal"] - mean) / std).round(6),
            }
        )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return cust.groupBy("c_mktsegment").applyInPandas(
        zscore, "c_custkey long, c_mktsegment string, bal_zscore double"
    )


# --------------------------------------------------------------------------
# GROUPED_AGG pandas UDF (UDAF): quantity-weighted average price per flag.
# --------------------------------------------------------------------------
WAVG_ORACLE = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS weighted_avg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("udf_grouped_agg_weighted_avg", oracle=WAVG_ORACLE)
def udf_grouped_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(wavg("l_extendedprice", "l_quantity"), 6).alias("weighted_avg_price"))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Python UDTF: one input row → many output rows with generator state.
# Oracle: the equivalent unnest-with-position — proving the UDTF agrees
# with the built-in explode path (which remains the hot-path choice).
# --------------------------------------------------------------------------
UDTF_ORACLE = """
SELECT doc_id, CAST(pos - 1 AS BIGINT) AS idx, tok
FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
             generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) AS pos
      FROM documents)
WHERE doc_id < 20
"""


@register("udtf_token_expand", oracle=UDTF_ORACLE)
def udtf_token_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, idx bigint, tok string")
    class TokenExpand:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.strip().lower().split()):
                yield doc_id, i, tok

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("token_expand", TokenExpand)
    return spark.sql(
        "SELECT t.doc_id, t.idx, t.tok "
        "FROM _udtf_docs, LATERAL token_expand(doc_id, text) t"
    )


# --------------------------------------------------------------------------
# mapInArrow surface (round 4): the lowest-level vectorized-Python path —
# raw Arrow RecordBatches in/out, no pandas conversion. The transform is a
# simple arithmetic normalization so the oracle is plain SQL; what the row
# attests is the API surface (batch iteration, schema contract, zero-copy
# Arrow) that high-throughput feature pipelines drop to when even pandas
# overhead matters. SURVEY §2.B UDF-surface family.
# --------------------------------------------------------------------------
MAP_IN_ARROW_ORACLE = """
SELECT event_id, user_id,
       round(value * 100.0 / 25.0, 6) AS value_pct
FROM events WHERE event_type = 'click'
ORDER BY event_id
"""


@register("udf_map_in_arrow", oracle=MAP_IN_ARROW_ORACLE)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events")

    def normalize(batches):
        for batch in batches:
            value = batch.column("value")
            pct = pa.compute.round(
                pa.compute.divide(pa.compute.multiply(value, 100.0), 25.0), 6
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"), batch.column("user_id"), pct],
                ["event_id", "user_id", "value_pct"],
            )

    return (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "value")
        .mapInArrow(normalize, "event_id long, user_id long, value_pct double")
        .orderBy("event_id")
    )
