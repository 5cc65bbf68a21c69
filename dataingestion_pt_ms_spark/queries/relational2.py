"""Advanced relational coverage (SURVEY.md §2.B completeness): pivot /
unpivot, GROUPING SETS via the SQL API, bag-semantics set ops, extended
window functions, ordered string aggregation, correlated subqueries (SQL
API), arg-max aggregation, salted skew-resistant aggregation, sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from ..session import materialize
from . import register

# --------------------------------------------------------------------------
# Pivot: returnflag × linestatus quantity matrix.
# --------------------------------------------------------------------------
PIVOT_ORACLE = """
SELECT l_returnflag,
       round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_open,
       round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_finished
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("pivot_status_matrix", oracle=PIVOT_ORACLE)
def pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_open"),
            F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_finished"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Unpivot (melt): wide per-region metrics back to long form.
# --------------------------------------------------------------------------
UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT n_regionkey,
         count(*) AS n_nations,
         CAST(min(n_nationkey) AS BIGINT) AS min_key
  FROM nation GROUP BY n_regionkey
)
SELECT n_regionkey, 'n_nations' AS metric, CAST(n_nations AS BIGINT) AS value FROM wide
UNION ALL
SELECT n_regionkey, 'min_key' AS metric, min_key AS value FROM wide
"""


@register("unpivot_region_metrics", oracle=UNPIVOT_ORACLE)
def unpivot_region_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    wide = nation.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_nationkey").cast("long").alias("min_key"),
    )
    return wide.unpivot(
        ["n_regionkey"], ["n_nations", "min_key"], "metric", "value"
    )


# --------------------------------------------------------------------------
# GROUPING SETS via the SQL API (exercises spark.sql + temp views).
# --------------------------------------------------------------------------
GSETS_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
"""


@register("grouping_sets_sql", oracle=GSETS_ORACLE)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


# --------------------------------------------------------------------------
# Correlated subqueries via the SQL API (scalar + EXISTS).
# --------------------------------------------------------------------------
CORR_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_mktsegment = c.c_mktsegment)
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("correlated_subqueries_sql", oracle=CORR_ORACLE)
def correlated_subqueries_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Catalyst de-correlates both subqueries into joins — the point of the
    # exercise: declarative subqueries, distributed execution.
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_mktsegment = c.c_mktsegment)
          AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """
    )


# --------------------------------------------------------------------------
# Lateral join (per-row correlated subquery producing multiple rows):
# top-2 nations by customer count within each region. Catalyst
# de-correlates the LATERAL subquery into a ranked window join —
# declarative per-group top-k without a driver-side loop.
# --------------------------------------------------------------------------
LATERAL_ORACLE = """
SELECT r.r_name AS region, l.nation, l.n_customers
FROM region r
JOIN LATERAL (
  SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_customers DESC, nation
  LIMIT 2
) l ON true
ORDER BY region, l.n_customers DESC, nation
"""


@register("join_lateral_topk_per_region", oracle=LATERAL_ORACLE)
def join_lateral_topk_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name AS region, l.nation, l.n_customers
        FROM region r
        JOIN LATERAL (
          SELECT n.n_name AS nation, count(*) AS n_customers
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_customers DESC, nation
          LIMIT 2
        ) l
        ORDER BY region, l.n_customers DESC, nation
        """
    )


# --------------------------------------------------------------------------
# Bag-semantics set ops: EXCEPT ALL / INTERSECT ALL.
# --------------------------------------------------------------------------
EXCEPT_ALL_ORACLE = """
SELECT o_custkey FROM orders
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_except_all", oracle=EXCEPT_ALL_ORACLE)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.exceptAll(b)


INTERSECT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


@register("set_intersect_all", oracle=INTERSECT_ALL_ORACLE)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


# --------------------------------------------------------------------------
# Extended window functions: ntile, percent_rank, cume_dist, first/last/nth
# value with explicit frames.
# --------------------------------------------------------------------------
WIN2_ORACLE = """
SELECT c_custkey, c_nationkey,
       ntile(4) OVER w AS quartile,
       floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
       floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume,
       first_value(c_custkey) OVER w AS richest_key,
       last_value(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS poorest_key,
       nth_value(c_custkey, 2) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_key
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


@register("window_extended_family", oracle=WIN2_ORACLE)
def window_extended_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        # floor-round trick, not round(): rank ratios land exactly on 6-dp
        # half boundaries (k/N with N divisible by powers of 2·5), where the
        # engines' round() implementations disagree; identical double
        # arithmetic on both sides is tie-free (observed at sf0.1)
        (F.floor(F.percent_rank().over(w) * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "pct_rank"
        ),
        (F.floor(F.cume_dist().over(w) * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "cume"
        ),
        F.first("c_custkey").over(w).alias("richest_key"),
        F.last("c_custkey").over(w_full).alias("poorest_key"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_key"),
    )


# --------------------------------------------------------------------------
# Ordered string aggregation (listagg): brands per size, sorted.
# --------------------------------------------------------------------------
STRAGG_ORACLE = """
SELECT p_size,
       string_agg(DISTINCT p_brand, ',' ORDER BY p_brand) AS brands,
       count(*) AS n_parts
FROM part
GROUP BY p_size
ORDER BY p_size
"""


@register("agg_string_concat_ordered", oracle=STRAGG_ORACLE)
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_size")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("p_brand"))).alias("brands"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .orderBy("p_size")
    )


# --------------------------------------------------------------------------
# arg-max aggregation: each customer's priciest order via max_by.
# --------------------------------------------------------------------------
MAXBY_ORACLE = """
SELECT o_custkey,
       arg_max(o_orderkey, o_totalprice) AS top_order_key,
       round(max(o_totalprice), 2) AS top_order_price
FROM orders
GROUP BY o_custkey
"""


@register("agg_max_by", oracle=MAXBY_ORACLE)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_order_key"),
        F.round(F.max("o_totalprice"), 2).alias("top_order_price"),
    )


# --------------------------------------------------------------------------
# Skew-resistant two-phase (salted) aggregation: numerically identical to a
# plain GROUP BY, but the hot key's partial aggs spread over N_SALT tasks.
# The oracle is the plain GROUP BY — proving the rewrite is semantics-free.
# --------------------------------------------------------------------------
SALTED_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_salted_skew_resistant", oracle=SALTED_ORACLE)
def agg_salted_skew_resistant(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n_salt = 16
    partial = (
        li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(n_salt)))
        .groupBy("l_returnflag", "_salt")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("l_quantity").alias("_q"))
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("_n").alias("n_items"),
            F.round(F.sum("_q"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Sampling: seeded Bernoulli sample — engine-specific RNG, so rows-only;
# sanity bounds asserted in tests.
# --------------------------------------------------------------------------
@register("sample_seeded_fraction", oracle=None)
def sample_seeded_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# --------------------------------------------------------------------------
# Pure-SQL analyst pipeline: CTE -> monthly revenue -> lag-based
# month-over-month growth -> top movers. Exercises the spark.sql() text
# path end-to-end (CTE + window over agg + outer filter) with the
# decimal-sum money pattern.
# --------------------------------------------------------------------------
_MOM_BODY = """
WITH monthly AS (
  SELECT {month_expr} AS order_month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS revenue
  FROM orders
  GROUP BY order_month
), growth AS (
  SELECT order_month, revenue,
         lag(revenue) OVER (ORDER BY order_month) AS prev_revenue
  FROM monthly
)
SELECT order_month, revenue,
       floor((revenue - prev_revenue) / prev_revenue * 1000000 + 0.5) / 1000000
         AS mom_growth
FROM growth
WHERE prev_revenue IS NOT NULL AND prev_revenue > 0
ORDER BY order_month
"""

MOM_ORACLE = _MOM_BODY.format(
    month_expr="strftime(date_trunc('month', o_orderdate), '%Y-%m')"
)


@register("sql_cte_mom_growth", oracle=MOM_ORACLE)
def sql_cte_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        _MOM_BODY.format(
            month_expr="date_format(date_trunc('month', o_orderdate), 'yyyy-MM')"
        )
    )


# --------------------------------------------------------------------------
# Fuzzy string-similarity join (entity-resolution shape): part names within
# edit distance 3, candidates blocked on (brand, name-length band) so the
# pair space is Σ|block|² rather than n² — the same discipline as every
# LSH/blocked operator here — then exact levenshtein verify (built into
# BOTH engines, so the whole pipeline is oracle-exact).
# --------------------------------------------------------------------------
FUZZY_ORACLE = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand
 AND (length(a.p_name) // 4) = (length(b.p_name) // 4)
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY key_a, key_b
"""


@register("join_fuzzy_name_match", oracle=FUZZY_ORACLE)
def join_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
        F.floor(F.length("p_name") / 4).alias("len_band"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
        F.floor(F.length("p_name") / 4).alias("len_band"),
    )
    # b broadcasts (20k parts), so the join runs on a's side — which is a
    # single-split parquet scan at bench SFs: without an explicit spread the
    # whole Σ|block|² levenshtein verify runs in ONE task (r10 opt §1a).
    # Round-robin repartition keeps the per-pair DP 32-wide; pair output is
    # per-row computed, so partitioning cannot change results.
    a = a.repartition(spark.sparkContext.defaultParallelism)
    return (
        a.join(b, ["brand", "len_band"])
        .filter(F.col("key_a") < F.col("key_b"))
        # thresholded levenshtein (Spark 3.5+): banded DP early-exits once
        # the distance provably exceeds 3 (returns -1) — same predicate,
        # ~O(threshold·len) per pair instead of O(len²) on distant pairs
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 3))
        .filter(F.col("edit_dist") >= 0)
        .select("key_a", "key_b", "edit_dist")
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# Count-grain twin of the fuzzy join (round 6, VERDICT r5 #1): the SAME
# blocked levenshtein pair space collapsed to the edit-distance grain —
# pair count plus a modular key checksum over every (key_a, key_b) pair.
# ≤4 output rows at any scale: the sf1x differential verifies the fuzzy
# family without materializing the (quadratic-in-cluster-depth) pair
# output driver-side — r5's sweep OOMed exactly there at 14M pairs.
# --------------------------------------------------------------------------
FUZZY_COUNTS_ORACLE = """
SELECT edit_dist,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((key_a * 1000003 + key_b) % 1000000007) AS BIGINT)
         AS pair_checksum
FROM (
  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         levenshtein(a.p_name, b.p_name) AS edit_dist
  FROM part a
  JOIN part b
    ON a.p_brand = b.p_brand
   AND (length(a.p_name) // 4) = (length(b.p_name) // 4)
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 3
)
GROUP BY edit_dist
ORDER BY edit_dist
"""


@register("join_fuzzy_name_match_counts", oracle=FUZZY_COUNTS_ORACLE)
def join_fuzzy_name_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
        F.floor(F.length("p_name") / 4).alias("len_band"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
        F.floor(F.length("p_name") / 4).alias("len_band"),
    )
    # Same 32-wide spread as join_fuzzy_name_match (the broadcast join's
    # stream side is a 1-task scan); the checksum is an integer sum, so the
    # aggregation is partition-order-exact.
    a = a.repartition(spark.sparkContext.defaultParallelism)
    return (
        a.join(b, ["brand", "len_band"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 3))
        .filter(F.col("edit_dist") >= 0)
        .groupBy("edit_dist")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("key_a") * 1_000_003 + F.col("key_b")) % 1_000_000_007
            )
            .cast("long")
            .alias("pair_checksum"),
        )
        .orderBy("edit_dist")
    )


# --------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the join that treats
# NULL as a joinable value instead of dropping those rows — the semantics
# users need when a nullable business key ("no bucket") must still line up
# across tables. Both sides aggregate to their key grain FIRST (≤101 rows
# incl. the NULL bucket), so the null-safe comparison runs over two tiny
# frames; at scale the NULL bucket is the classic skew key, and pre-agging
# to the grain is exactly what keeps it from exploding a row-level join.
# --------------------------------------------------------------------------
NULLSAFE_JOIN_ORACLE = """
WITH a AS (
  SELECT nullif(o_custkey % 100, 0) AS k, count(*) AS n_orders
  FROM orders GROUP BY 1
),
b AS (
  SELECT nullif(c_custkey % 100, 0) AS k, count(*) AS n_customers
  FROM customer GROUP BY 1
)
SELECT a.k AS bucket, a.n_orders, b.n_customers
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY bucket NULLS FIRST
"""


@register("join_null_safe_buckets", oracle=NULLSAFE_JOIN_ORACLE)
def join_null_safe_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = (
        orders.select(F.nullif(F.col("o_custkey") % 100, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    b = (
        cust.select(F.nullif(F.col("c_custkey") % 100, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"].alias("bucket"), "n_orders", "n_customers")
        .orderBy(F.col("bucket").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Phonetic blocking join (round 4): the soundex-block record-linkage
# scheme — block words by American Soundex code, verify with edit
# distance inside blocks only (never corpus²; block sizes are bounded by
# the phonetic-code vocabulary of the domain). Complements
# join_fuzzy_name_match's (brand, length-band) blocking: phonetic codes
# catch transpositions/vowel swaps a length band misses. The code is
# built from an explicit translate → strip(h,w) → collapse-runs →
# drop-first → strip(0) chain IDENTICAL in both engines (DuckDB has no
# soundex; RE2 has no backreferences, so runs collapse via per-digit
# {2,} replaces); a pytest pins the chain ≡ F.soundex on the full word
# set, including the h/w-transparency cases (ashcraft→A261,
# pfister→P236).
# --------------------------------------------------------------------------
_SX_MAP = "0123012-02245501262301-202"  # a..z -> digit, '-' = h/w transparent


def _soundex_sql(col: str) -> str:
    s = f"translate({col}, 'abcdefghijklmnopqrstuvwxyz', '{_SX_MAP}')"
    first = f"substr({s}, 1, 1)"
    s2 = f"replace({s}, '-', '')"
    for d in "123456":
        s2 = f"regexp_replace({s2}, '{d}{{2,}}', '{d}')"
    # drop the first letter's own code ONLY when it has one: an h/w first
    # letter contributes no code, so the collapsed string's head belongs
    # to the SECOND letter and must survive (hypothesis counterexample
    # 'wb' -> W100, not W000); a vowel head is '0' and strip-0 handles it
    s2 = f"CASE WHEN {first} = '-' THEN {s2} ELSE substr({s2}, 2) END"
    s2 = f"replace({s2}, '0', '')"
    return f"upper(substr({col}, 1, 1)) || substr({s2} || '000', 1, 3)"


PHONETIC_ORACLE = f"""
WITH words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(string_split(lower(p_name), ' ')) AS w FROM part
  ) WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 3
), coded AS (
  SELECT w, {_soundex_sql('w')} AS pcode FROM words
)
SELECT a.pcode AS pcode, a.w AS word_a, b.w AS word_b,
       CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
FROM coded a JOIN coded b ON a.pcode = b.pcode AND a.w < b.w
WHERE levenshtein(a.w, b.w) <= 2
ORDER BY pcode, word_a, word_b
"""


def _soundex_expr(c):
    mapped = F.translate(c, "abcdefghijklmnopqrstuvwxyz", _SX_MAP)
    first = F.substring(mapped, 1, 1)
    s = F.regexp_replace(mapped, "-", "")
    for d in "123456":
        s = F.regexp_replace(s, d + "{2,}", d)
    # see _soundex_sql: keep the head when the first letter is h/w
    s = F.when(first == "-", s).otherwise(F.substring(s, 2, 1000))
    s = F.regexp_replace(s, "0", "")
    return F.concat(
        F.upper(F.substring(c, 1, 1)),
        F.substring(F.concat(s, F.lit("000")), 1, 3),
    )


@register("join_phonetic_blocking", oracle=PHONETIC_ORACLE)
def join_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    words = (
        part.select(F.explode(F.split(F.lower("p_name"), " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 3))
        .distinct()
    )
    coded = words.select("w", _soundex_expr(F.col("w")).alias("pcode"))
    a = coded.select(F.col("pcode"), F.col("w").alias("word_a"))
    b = coded.select(F.col("pcode"), F.col("w").alias("word_b"))
    return (
        a.join(b, "pcode")
        .where(F.col("word_a") < F.col("word_b"))
        .select(
            "pcode",
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= 2)
        .orderBy("pcode", "word_a", "word_b")
    )


# --------------------------------------------------------------------------
# Entity resolution end-to-end (round 4): the classic ER pipeline in one
# auditable query — EXACT-COLLAPSE first (the house rule, and the make-
# or-break here: the fixture has 64 distinct names over 20k parts, so
# pairwise on raw keys is 6.6M mostly-exact pairs and an 8 s CC, while
# rep-level is a few hundred pairs — measured 11.7 s → 3.9 s) → blocking
# (brand × length band) → levenshtein ≤ 3 scoring over the distinct
# (brand, name) representatives → TRANSITIVE CLOSURE into entities (the
# step pairwise matching alone gets wrong: A~B, B~C must land A,B,C in
# one entity even when A~C fails the threshold) → min-key canonical
# survivorship, membership expanded back through the collapse map.
# Spark: pointer-jumping connected components; oracle: recursive
# min-label CTE under UNION (finite state space ⇒ termination).
# --------------------------------------------------------------------------
ER_ORACLE = """
WITH RECURSIVE recs AS (
  SELECT p_brand AS brand, p_name AS name, min(p_partkey) AS rep,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY brand, name
), pairs AS (
  SELECT a.rep AS u, b.rep AS v
  FROM recs a JOIN recs b
    ON a.brand = b.brand
   AND (length(a.name) // 4) = (length(b.name) // 4)
   AND a.rep < b.rep
  WHERE levenshtein(a.name, b.name) <= 3
), e AS (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
), cc(node, lbl) AS (
  SELECT rep, rep FROM recs
  UNION
  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.node
), ent AS (
  SELECT node, min(lbl) AS entity_id FROM cc GROUP BY node
)
SELECT entity_id,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(n_parts) AS BIGINT) AS n_parts,
       (SELECT p_name FROM part WHERE p_partkey = entity_id) AS canonical_name,
       string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS member_reps
FROM ent JOIN recs ON recs.rep = ent.node
GROUP BY entity_id
HAVING count(*) >= 2
ORDER BY entity_id
"""


@register("pipeline_entity_resolution", oracle=ER_ORACLE)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    recs = part.groupBy(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name")
    ).agg(
        F.min("p_partkey").alias("rep"), F.count(F.lit(1)).alias("n_parts")
    )
    recs = materialize(recs)  # pair + expand branches
    a = recs.select(
        F.col("rep").alias("u"), F.col("name").alias("name_a"), "brand",
        F.floor(F.length("name") / 4).alias("len_band"),
    )
    b = recs.select(
        F.col("rep").alias("v"), F.col("name").alias("name_b"), "brand",
        F.floor(F.length("name") / 4).alias("len_band"),
    )
    pairs = (
        a.join(b, ["brand", "len_band"])
        .where(F.col("u") < F.col("v"))
        .where(F.levenshtein("name_a", "name_b") <= 3)
        .select("u", "v")
    )
    ent = connected_components(pairs, src="u", dst="v").select(
        "node", F.col("component").alias("entity_id")
    )
    # reps with no fuzzy edge stay singleton records
    ent = recs.select(F.col("rep").alias("node")).join(ent, "node", "left").select(
        "node", F.coalesce("entity_id", "node").alias("entity_id")
    )
    grouped = (
        ent.join(recs.select(F.col("rep").alias("node"), "n_parts"), "node")
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("n_parts").alias("n_parts"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_reps"),
        )
        .where(F.col("n_records") >= 2)
    )
    canon = part.select(
        F.col("p_partkey").alias("entity_id"), F.col("p_name").alias("canonical_name")
    )
    return (
        grouped.join(F.broadcast(canon), "entity_id")
        .select(
            "entity_id", "n_records", F.col("n_parts").cast("long").alias("n_parts"),
            "canonical_name", "member_reps",
        )
        .orderBy("entity_id")
    )
