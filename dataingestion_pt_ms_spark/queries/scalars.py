"""Scalar function families (SURVEY.md §2.B "Scalar functions").

Reference parity: date/time family generalizes the reference's timestamp
normalize/format chain (R10/R11, ``app/alpaca_service.py:161-162``) and the
composite-key concat (R14, ``:194``); numeric casts generalize R13
(``:200-204``); JSON serialization generalizes the event payload (R20,
``:239-252``).

Cross-engine determinism notes (see tools/check_oracle.py): per-row
arithmetic is emitted unrounded (IEEE ops bit-match when expression order
matches); transcendental functions (ln/exp/pow) are rounded to 6 dp (libm
last-ulp differences); double→string casts are avoided (formatting differs);
weekday uses Spark ``weekday``/DuckDB ``isodow-1`` (Monday=0) because the
engines' default DOW conventions differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# --------------------------------------------------------------------------
# Date/time: extract, truncate, arithmetic, format.
# --------------------------------------------------------------------------
DT_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
       CAST(isodow(o_orderdate) - 1 AS BIGINT) AS order_weekday,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS order_iso
FROM orders
WHERE o_orderkey % 10 = 0
"""


@register("scalar_datetime_family", oracle=DT_ORACLE)
def scalar_datetime_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.weekday("o_orderdate").cast("long").alias("order_weekday"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias("quarter_start"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("long").alias("days_since_epoch_start"),
        # the reference's ISO-8601 'Z' format (app/alpaca_service.py:162)
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("order_iso"),
    )


# --------------------------------------------------------------------------
# Strings: case, length, substring, concat, split, pad, replace, regexp.
# --------------------------------------------------------------------------
STR_ORACLE = """
SELECT p_partkey,
       lower(p_name) AS name_lower,
       upper(p_brand) AS brand_upper,
       CAST(length(p_name) AS BIGINT) AS name_len,
       substr(p_name, 1, 5) AS name_head,
       concat_ws('|', p_brand, p_type) AS brand_type,
       string_split(p_name, ' ')[1] AS first_word,
       regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
       replace(p_name, ' ', '_') AS name_snake,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       reverse(p_brand) AS brand_rev
FROM part
"""


@register("scalar_string_family", oracle=STR_ORACLE)
def scalar_string_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
    )


# --------------------------------------------------------------------------
# Math: arithmetic (unrounded, bit-identical), rounding, transcendental
# (rounded 6 dp), integer modulo.
# --------------------------------------------------------------------------
MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
       abs(l_extendedprice - 1000) AS dist_from_1k,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       round(sqrt(l_extendedprice), 6) AS price_sqrt,
       round(ln(l_extendedprice + 1), 6) AS price_ln,
       round(pow(l_discount + 1, 2), 6) AS disc_sq,
       l_orderkey % 7 AS okey_mod7
FROM lineitem
WHERE l_linenumber = 1
"""


@register("scalar_math_family", oracle=MATH_ORACLE)
def scalar_math_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (price * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("charged"),
        F.abs(price - 1000).alias("dist_from_1k"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.floor(price).cast("long").alias("price_floor"),
        F.round(F.sqrt(price), 6).alias("price_sqrt"),
        F.round(F.log(price + 1), 6).alias("price_ln"),
        F.round(F.pow(F.col("l_discount") + 1, 2), 6).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("okey_mod7"),
    )


# --------------------------------------------------------------------------
# JSON: parse a JSON string field, extract + cast, serialize a struct
# (reference R20's to-JSON event payload, app/alpaca_service.py:239-252).
# --------------------------------------------------------------------------
JSON_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
"""


@register("scalar_json_extract", oracle=JSON_ORACLE)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("k_bucket")
    )


JSON_SER_ORACLE = """
SELECT event_id,
       concat('{"event_type":"', event_type, '","user_id":', CAST(user_id AS VARCHAR), '}') AS envelope
FROM events
WHERE event_type = 'purchase'
"""


@register("scalar_json_serialize", oracle=JSON_SER_ORACLE)
def scalar_json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # to_json(struct(...)) is the engine path (reference R20); the oracle
    # builds the same canonical string by concat so both engines agree on
    # key order and spacing.
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select(
        "event_id",
        F.to_json(F.struct("event_type", "user_id")).alias("envelope"),
    )


# --------------------------------------------------------------------------
# Arrays: size, element access, explode-free transforms over the embedding
# column (higher-order functions stay JVM-side — no UDF).
# --------------------------------------------------------------------------
ARR_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
       round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) AS norm_sq,
       CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS BIGINT) AS n_positive
FROM embeddings
WHERE vec_id % 5 = 0
"""


@register("scalar_array_family", oracle=ARR_ORACLE)
def scalar_array_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    vec = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(vec, 1), 6).alias("first_component"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("norm_sq"),
        F.size(F.filter(vec, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


# --------------------------------------------------------------------------
# Explode: array element fan-out with position.
# --------------------------------------------------------------------------
EXPLODE_ORACLE = """
SELECT vec_id, CAST(pos - 1 AS BIGINT) AS pos, CAST(val AS DOUBLE) AS val
FROM (SELECT vec_id, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
WHERE vec_id < 3 AND pos <= 8
"""


@register("scalar_array_explode", oracle=EXPLODE_ORACLE)
def scalar_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
    return (
        emb.select("vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"))
        .filter(F.col("pos") < 8)
        .select("vec_id", F.col("pos").cast("long").alias("pos"), "val")
    )


# --------------------------------------------------------------------------
# Casts (reference R13's float()/int() generalized). Note double→int uses
# explicit floor on both sides: Spark CAST truncates, DuckDB CAST rounds.
# --------------------------------------------------------------------------
CAST_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) AS okey_str,
       CAST(o_custkey AS DOUBLE) AS custkey_dbl,
       CAST(floor(o_totalprice) AS BIGINT) AS price_floor_long,
       CAST(substr(CAST(o_orderkey AS VARCHAR), 1, 2) AS BIGINT) AS okey_prefix,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
FROM orders
WHERE o_orderkey % 7 = 0
"""


@register("scalar_cast_family", oracle=CAST_ORACLE)
def scalar_cast_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_custkey").cast("double").alias("custkey_dbl"),
        F.floor("o_totalprice").cast("long").alias("price_floor_long"),
        F.substring(F.col("o_orderkey").cast("string"), 1, 2).cast("long").alias("okey_prefix"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
    )


# --------------------------------------------------------------------------
# VARIANT surface (round 4, Spark 4): parse the JSON props column into the
# open VARIANT type and extract typed fields — the semi-structured path
# that replaces schema-on-write structs for ragged JSON at lake scale
# (parse once, extract lazily, no schema migration on new keys). The
# oracle extracts the same field with DuckDB's JSON operators; counts and
# sums over the typed extraction must agree exactly.
# --------------------------------------------------------------------------
VARIANT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY event_type ORDER BY event_type
"""


@register("scalar_variant_json", oracle=VARIANT_ORACLE)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Collation surface (round 4, Spark 4): case-insensitive grouping via the
# UTF8_LCASE collation — the engine-native answer to mixed-case business
# keys (vs the lower()-normalize workaround, which the oracle uses to
# prove the semantics equal). Case is mangled deterministically by parity
# first so the collation actually has work to do.
# --------------------------------------------------------------------------
COLLATION_ORACLE = """
WITH mangled AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand) ELSE lower(p_brand) END
           AS b
  FROM part
)
SELECT lower(b) AS brand_lower, CAST(count(*) AS BIGINT) AS n
FROM mangled GROUP BY lower(b) ORDER BY brand_lower
"""


@register("scalar_collation_group", oracle=COLLATION_ORACLE)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    mangled = part.select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_brand")
        ).otherwise(F.lower("p_brand")).alias("b")
    )
    return (
        mangled.groupBy(F.expr("collate(b, 'UTF8_LCASE')").alias("bc"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lower(F.col("bc").cast("string")).alias("brand_lower"), "n"
        )
        .orderBy("brand_lower")
    )


# --------------------------------------------------------------------------
# try_* error-safe arithmetic (round 4): the ANSI-mode survival kit — this
# engine runs spark.sql.ansi.enabled semantics where bad casts and zero
# divisions THROW; try_cast / try_divide / try_add return NULL instead,
# which is what a 100 TB batch job wants for the 0.001% of garbage rows
# (fail the row, not the job). Exercised over deliberately hostile
# expressions; the oracle mirrors with TRY_CAST and NULLIF guards.
# --------------------------------------------------------------------------
TRY_ORACLE = """
SELECT o_orderkey,
       TRY_CAST(o_orderpriority AS BIGINT) AS bad_cast,
       CAST(o_totalprice / NULLIF(o_orderkey % 3, 0) AS DOUBLE) AS guarded_div,
       CAST(substr(o_orderpriority, 1, 1) AS VARCHAR) AS prio_digit_str,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_digit
FROM orders
WHERE o_orderkey <= 100
ORDER BY o_orderkey
"""


@register("scalar_try_family", oracle=TRY_ORACLE)
def scalar_try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderkey") <= 100)
        .select(
            "o_orderkey",
            F.expr("try_cast(o_orderpriority AS BIGINT)").alias("bad_cast"),
            F.expr("try_divide(o_totalprice, o_orderkey % 3)")
            .cast("double")
            .alias("guarded_div"),
            F.substring("o_orderpriority", 1, 1).alias("prio_digit_str"),
            F.expr("try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)").alias(
                "prio_digit"
            ),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# XML parse family (round 4): from_xml / xpath over per-row XML payloads —
# the Spark-4 semi-structured sibling of the JSON and VARIANT rows. The
# document is built from order columns, round-tripped through from_xml
# (schema'd struct incl. a nested element and an attribute), and cross-
# checked by xpath extraction. DuckDB has no XML type, so the oracle
# computes the same fields straight from the source columns — an identity
# round-trip check (double→string→double is exact: Spark emits shortest-
# roundtrip representations). Per-row expression work, trivially scalable.
# --------------------------------------------------------------------------
XML_ORACLE = """
SELECT o_orderkey,
       o_orderkey AS xml_key,
       CAST(o_totalprice AS DOUBLE) AS xml_price,
       o_orderpriority AS xml_priority,
       CAST(o_custkey AS BIGINT) AS xml_cust,
       CAST(len(o_orderstatus) AS BIGINT) AS status_len
FROM orders
WHERE o_orderkey % 10 = 0
"""


@register("scalar_xml_parse", oracle=XML_ORACLE)
def scalar_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('"><price>'),
        F.col("o_totalprice").cast("double").cast("string"),
        F.lit("</price><meta><priority>"),
        F.col("o_orderpriority"),
        F.lit("</priority><cust>"),
        F.col("o_custkey").cast("string"),
        F.lit("</cust></meta><status>"),
        F.col("o_orderstatus"),
        F.lit("</status></order>"),
    )
    schema = "_id BIGINT, price DOUBLE, meta STRUCT<priority: STRING, cust: BIGINT>, status STRING"
    parsed = orders.select(
        "o_orderkey", xml.alias("_xml")
    ).select("o_orderkey", F.from_xml("_xml", schema).alias("x"), "_xml")
    return parsed.select(
        "o_orderkey",
        F.col("x._id").alias("xml_key"),
        F.col("x.price").alias("xml_price"),
        F.col("x.meta.priority").alias("xml_priority"),
        F.col("x.meta.cust").alias("xml_cust"),
        F.length(F.xpath_string("_xml", F.lit("/order/status"))).cast("long").alias("status_len"),
    )


# --------------------------------------------------------------------------
# URL scalar family: Spark's parse_url (HOST / PATH / QUERY / REF +
# keyed query parameter) — the click-log / referrer-parsing function set
# every web-scale pipeline touches. URLs are synthesized deterministically
# from order fields so every branch (subdomain, path segments, multi-param
# query, fragment) is exercised; the oracle replicates each extraction
# with anchored regexes, which doubles as a spec of exactly what the
# engine's parser is expected to return for well-formed URLs. Pure
# projection — one scan, no shuffle except the final rollup.
# --------------------------------------------------------------------------
URL_ORACLE = """
WITH u AS (
  SELECT o_orderkey,
         'https://shop' || CAST(o_custkey % 5 AS VARCHAR)
         || '.example.com/cat/' || regexp_replace(lower(o_orderpriority), '[^a-z0-9]', '-', 'g')
         || '/item?id=' || CAST(o_orderkey AS VARCHAR)
         || '&seg=' || CAST(o_custkey % 3 AS VARCHAR)
         || '#frag' || CAST(o_orderkey % 7 AS VARCHAR) AS url
  FROM orders
), parsed AS (
  SELECT o_orderkey,
         regexp_extract(url, '^https://([^/]+)/', 1) AS host,
         regexp_extract(url, '^https://[^/]+(/[^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS query,
         regexp_extract(url, '#(.*)$', 1) AS ref,
         regexp_extract(url, '[?&]seg=([^&#]*)', 1) AS seg
  FROM u
)
SELECT host, seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT query) AS BIGINT) AS n_queries,
       CAST(count(DISTINCT ref) AS BIGINT) AS n_frags
FROM parsed
GROUP BY host, seg
ORDER BY host, seg
"""


@register("scalar_url_family", oracle=URL_ORACLE)
def scalar_url_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop"),
        (F.col("o_custkey") % 5).cast("string"),
        F.lit(".example.com/cat/"),
        F.regexp_replace(F.lower("o_orderpriority"), "[^a-z0-9]", "-"),
        F.lit("/item?id="),
        F.col("o_orderkey").cast("string"),
        F.lit("&seg="),
        (F.col("o_custkey") % 3).cast("string"),
        F.lit("#frag"),
        (F.col("o_orderkey") % 7).cast("string"),
    )
    u = orders.select("o_orderkey", url.alias("url"))
    parsed = u.select(
        "o_orderkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("REF")).alias("ref"),
        F.parse_url("url", F.lit("QUERY"), F.lit("seg")).alias("seg"),
    )
    return (
        parsed.groupBy("host", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("path").cast("long").alias("n_paths"),
            F.countDistinct("query").cast("long").alias("n_queries"),
            F.countDistinct("ref").cast("long").alias("n_frags"),
        )
        .orderBy("host", "seg")
    )
