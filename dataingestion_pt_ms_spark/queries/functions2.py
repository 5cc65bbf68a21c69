"""Second wave of scalar-function coverage (SURVEY.md §2.B "Scalar
functions" completeness): regexp/replace/trim/pad string ops, conditional
functions (nullif/greatest/least), bitwise ops, map & struct construction,
array builders, datetime arithmetic extensions.

Function-pair notes (Spark ↔ DuckDB): ``instr`` ↔ ``strpos``; ``shiftleft``
↔ ``<<``; ``bitwiseAND`` ↔ ``&``; ``months_between`` has no exact DuckDB
twin → expressed as date_diff('month') with day guard on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

STR2_ORACLE = """
SELECT p_partkey,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       trim('  ' || p_name || '  ') AS trimmed,
       left(p_name, 3) AS head3,
       right(p_name, 3) AS tail3,
       repeat(p_brand, 2) AS brand_twice,
       CAST(strpos(p_name, 'o') AS BIGINT) AS first_o_pos,
       CAST(CASE WHEN contains(p_name, 'widget') THEN 1 ELSE 0 END AS BIGINT) AS is_widget,
       CAST(CASE WHEN starts_with(p_type, 'PROMO') THEN 1 ELSE 0 END AS BIGINT) AS is_promo,
       rtrim(ltrim(p_type)) AS type_clean
FROM part
WHERE p_partkey % 3 = 0
"""


@register("scalar_string_family2", oracle=STR2_ORACLE)
def scalar_string_family2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 == 0)
    return part.select(
        "p_partkey",
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.substring("p_name", 1, 3).alias("head3"),
        F.substring(F.col("p_name"), -3, 3).alias("tail3"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.instr("p_name", "o").cast("long").alias("first_o_pos"),
        F.when(F.col("p_name").contains("widget"), 1).otherwise(0).cast("long").alias("is_widget"),
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).cast("long").alias("is_promo"),
        F.rtrim(F.ltrim("p_type")).alias("type_clean"),
    )


COND_ORACLE = """
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS segment_or_null,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'suppressed') AS segment_display,
       greatest(c_acctbal, 0.0) AS bal_floor0,
       least(c_acctbal, 5000.0) AS bal_cap5k,
       CAST(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END AS BIGINT) AS bal_is_null
FROM customer
WHERE c_custkey % 4 = 0
"""


@register("scalar_conditional_family", oracle=COND_ORACLE)
def scalar_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0)
    return cust.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("segment_or_null"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("suppressed")
        ).alias("segment_display"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap5k"),
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0).cast("long").alias("bal_is_null"),
    )


BITS_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey << 2 AS shifted_left,
       o_orderkey >> 3 AS shifted_right,
       xor(o_orderkey, 12345) AS xored,
       o_orderkey | 1 AS with_low_bit
FROM orders
WHERE o_orderkey % 11 = 0
"""


@register("scalar_bitwise_family", oracle=BITS_ORACLE)
def scalar_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        F.shiftleft(k, 2).alias("shifted_left"),
        F.shiftright(k, 3).alias("shifted_right"),
        k.bitwiseXOR(F.lit(12345)).alias("xored"),
        k.bitwiseOR(F.lit(1)).alias("with_low_bit"),
    )


MAPSTRUCT_ORACLE = """
SELECT p_partkey,
       p_retailprice AS price_from_map,
       2 AS n_map_keys,
       p_brand AS brand_from_struct,
       concat(p_brand, ':', p_type) AS struct_json_ish
FROM part
WHERE p_partkey % 5 = 0
"""


@register("scalar_map_struct_family", oracle=MAPSTRUCT_ORACLE)
def scalar_map_struct_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Build real MapType/StructType columns, then project scalars out of
    # them so the differential compare stays on primitive columns (map
    # hashing differs across engines).
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    m = F.create_map(
        F.lit("price"), F.col("p_retailprice"), F.lit("size"), F.col("p_size").cast("double")
    )
    s = F.struct(F.col("p_brand").alias("brand"), F.col("p_type").alias("type"))
    return part.select(
        "p_partkey",
        F.element_at(m, "price").alias("price_from_map"),
        F.size(F.map_keys(m)).alias("n_map_keys"),
        s.getField("brand").alias("brand_from_struct"),
        F.concat_ws(":", s.getField("brand"), s.getField("type")).alias("struct_json_ish"),
    )


ARR2_ORACLE = """
SELECT n_nationkey,
       CAST(len(generate_series(1, n_nationkey % 5 + 1)) AS BIGINT) AS seq_len,
       CAST(n_nationkey % 5 + 1 AS BIGINT) AS expected_len,
       array_to_string(['x', 'y', 'z'], '-') AS const_join,
       CAST(list_contains([0, 5, 10, 15, 20], n_nationkey) AS BIGINT) AS in_list
FROM nation
"""


@register("scalar_array_builders", oracle=ARR2_ORACLE)
def scalar_array_builders(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    seq = F.sequence(F.lit(1), (F.col("n_nationkey") % 5 + 1))
    return nation.select(
        "n_nationkey",
        F.size(seq).cast("long").alias("seq_len"),
        (F.col("n_nationkey") % 5 + 1).cast("long").alias("expected_len"),
        F.concat_ws("-", F.array(F.lit("x"), F.lit("y"), F.lit("z"))).alias("const_join"),
        F.array_contains(
            F.array(*[F.lit(i) for i in (0, 5, 10, 15, 20)]), F.col("n_nationkey")
        ).cast("long").alias("in_list"),
    )


DT2_ORACLE = """
SELECT o_orderkey,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       CAST(day(o_orderdate) AS BIGINT) AS day_of_month,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS day_of_year,
       CAST(week(o_orderdate) AS BIGINT) AS iso_week,
       strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
       CAST(date_diff('month', TIMESTAMP '1995-01-01', date_trunc('month', o_orderdate)) AS BIGINT)
         AS months_since_start,
       strftime(make_date(2030, CAST(month(o_orderdate) AS INT), 1), '%Y-%m-%d') AS same_month_2030
FROM orders
WHERE o_orderkey % 13 = 0
"""


@register("scalar_datetime_family2", oracle=DT2_ORACLE)
def scalar_datetime_family2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofmonth(d).cast("long").alias("day_of_month"),
        F.dayofyear(d).cast("long").alias("day_of_year"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.date_format(F.date_trunc("week", d), "yyyy-MM-dd").alias("week_start"),
        (
            (F.year(d) - F.lit(1995)) * 12 + (F.month(d) - F.lit(1))
        ).cast("long").alias("months_since_start"),
        F.date_format(
            F.make_date(F.lit(2030), F.month(d), F.lit(1)), "yyyy-MM-dd"
        ).alias("same_month_2030"),
    )
