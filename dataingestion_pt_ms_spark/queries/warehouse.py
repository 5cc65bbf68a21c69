"""Warehouse-maintenance query shapes (round-3 additions, SURVEY.md §2.B):

- CDC merge-apply: fold an insert/update/delete change log (with sequence
  numbers) into a snapshot — the batch form of every lakehouse MERGE /
  "apply the binlog" job, generalizing the reference's keyed upsert (R16,
  ``app/alpaca_service.py:190-209``) to logs that also carry deletes;
- binned keyless interval join: events falling inside ±10-minute windows
  around error events, with NO equi key — the pure range join that
  degenerates to an O(n·m) nested loop unless the time axis is bucketed
  into equi-joinable bins (each row lands in exactly one bin; each
  interval explodes into the ≤2 bins it overlaps, so no post-join dedup);
- first/last-touch attribution: per user, the touchpoints bracketing the
  first purchase — per-user windows, never a global one.

Both engines see identical inputs (the change log is derived
deterministically from the ``orders`` table), so every query here carries
a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import materialize
from . import register


# --------------------------------------------------------------------------
# CDC merge-apply. Snapshot = orders before 1998; the change log is built
# from the table deterministically:
#   - late orders (>= 1998) arrive as upserts ('U'), keys ending in 9 as
#     deletes of rows that never existed (no-ops — a real binlog has them);
#   - every 5th late order has a SECOND log entry with a higher seq and a
#     corrected price — last-wins must pick it;
#   - old orders with o_orderkey % 97 == 0 get tombstones ('D') — rows that
#     must disappear from the snapshot.
# Apply = last-wins per key on (seq desc) → delete tombstoned keys →
# upsert the rest. One shuffle on the key for the log fold, one for the
# final outer merge — the scalable MERGE shape (no driver-side state).
# --------------------------------------------------------------------------
CDC_ORACLE = """
WITH snap AS (
  SELECT o_orderkey AS k, o_totalprice AS price
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
), log AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 = 9 THEN 'D' ELSE 'U' END AS op,
         1 AS seq, o_totalprice AS price
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  UNION ALL
  SELECT o_orderkey AS k, 'U' AS op, 2 AS seq,
         floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS price
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey AS k, 'D' AS op, 1 AS seq, 0.0 AS price
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_orderkey % 97 = 0
), final_log AS (
  SELECT k, op, price FROM (
    SELECT k, op, price,
           row_number() OVER (PARTITION BY k ORDER BY seq DESC, op) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT k, round(price, 2) AS price, src FROM (
  SELECT s.k, s.price, 'snap' AS src
  FROM snap s LEFT JOIN final_log f ON s.k = f.k
  WHERE f.k IS NULL
  UNION ALL
  SELECT k, price, 'log' AS src FROM final_log WHERE op <> 'D'
)
ORDER BY k
"""


@register("cdc_merge_apply", oracle=CDC_ORACLE)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    snap = orders.filter(F.col("o_orderdate") < cutoff).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    late = orders.filter(F.col("o_orderdate") >= cutoff)
    log = (
        late.select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 10 == 9, "D").otherwise("U").alias("op"),
            F.lit(1).alias("seq"),
            F.col("o_totalprice").alias("price"),
        )
        .unionByName(
            late.filter(F.col("o_orderkey") % 5 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.lit("U").alias("op"),
                F.lit(2).alias("seq"),
                # floor(x*100+0.5)/100, not round(): the engines' round()
                # tie conventions differ on the .005 ties *1.1 produces
                (F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5) / 100).alias(
                    "price"
                ),
            )
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 97 == 0)
            ).select(
                F.col("o_orderkey").alias("k"),
                F.lit("D").alias("op"),
                F.lit(1).alias("seq"),
                F.lit(0.0).alias("price"),
            )
        )
    )
    w = W.partitionBy("k").orderBy(F.col("seq").desc(), "op")
    # r11 opt (guide §1.2 #1): final_log feeds both the anti-join and the
    # upsert branch — materialize so the 3-way log union + last-wins
    # window runs once per invocation instead of twice (14 parquet scans
    # in the before-plan)
    final_log = materialize(
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "seq")
    )
    untouched = snap.join(final_log.select("k"), "k", "left_anti").select(
        "k", "price", F.lit("snap").alias("src")
    )
    applied = final_log.filter(F.col("op") != "D").select(
        "k", "price", F.lit("log").alias("src")
    )
    return (
        untouched.unionByName(applied)
        .select("k", F.round("price", 2).alias("price"), "src")
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Binned keyless interval join: for every error event, how many events of
# any user fall within ±10 minutes. There is no equi key, so a naive plan
# is a broadcast nested loop over errors × events (n·m predicate evals —
# the plan that dies at 100×). Bucketing time into 20-minute bins turns it
# into an equi join: each event belongs to exactly ONE bin; each ±10 min
# interval (width = bin size) overlaps at most 2 bins and explodes into
# them, so bin equality + the exact range filter finds every pair exactly
# once (no dedup). Bins are computed from second-truncated epochs with a
# one-bin safety margin on each side, so µs-precision boundary events
# can't fall out; the exact timestamp predicate decides membership.
# --------------------------------------------------------------------------
INTERVAL_BINNED_ORACLE = """
WITH err AS (
  SELECT event_id AS error_id, ts FROM events WHERE event_type = 'error'
), near AS (
  SELECT err.error_id,
         count(*) AS n_nearby,
         sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
           AS n_purchases
  FROM err
  JOIN events e
    ON e.ts >= err.ts - INTERVAL 10 MINUTE
   AND e.ts <  err.ts + INTERVAL 10 MINUTE
   AND e.event_id <> err.error_id
  GROUP BY err.error_id
)
SELECT err.error_id AS error_id,
       CAST(coalesce(near.n_nearby, 0) AS BIGINT) AS n_nearby,
       CAST(coalesce(near.n_purchases, 0) AS BIGINT) AS n_purchases
FROM err LEFT JOIN near ON err.error_id = near.error_id
ORDER BY err.error_id
"""

_BIN_SEC = 1200  # 20 minutes == interval width => <= 2 bins per interval


@register("join_interval_binned_error_window", oracle=INTERVAL_BINNED_ORACLE)
def join_interval_binned_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    err = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("err_ts"),
        F.unix_timestamp("ts").alias("_s"),
    )
    # explode each interval into the bins it can overlap (±1s slop for the
    # second truncation; sequence is inclusive on both ends)
    err_binned = err.select(
        "error_id",
        "err_ts",
        F.explode(
            F.sequence(
                F.floor((F.col("_s") - 601) / _BIN_SEC),
                F.floor((F.col("_s") + 600) / _BIN_SEC),
            )
        ).alias("bin"),
    )
    ev = events.select(
        F.col("event_id"),
        F.col("event_type"),
        F.col("ts"),
        F.floor(F.unix_timestamp("ts") / _BIN_SEC).alias("bin"),
    )
    matched = (
        err_binned.join(ev, "bin")
        .filter(
            (F.col("ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("ts") < F.col("err_ts") + F.expr("INTERVAL 10 MINUTES"))
            & (F.col("event_id") != F.col("error_id"))
        )
        .groupBy("error_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearby"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "n_purchases"
            ),
        )
    )
    return (
        err.select("error_id")
        .join(matched, "error_id", "left")
        .select(
            "error_id",
            F.coalesce("n_nearby", F.lit(0)).cast("long").alias("n_nearby"),
            F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
        )
        .orderBy("error_id")
    )


# --------------------------------------------------------------------------
# First/last-touch attribution: for every user whose history contains a
# purchase, the event type that FIRST touched them and the LAST touch
# strictly before their first purchase. All windows are partitioned by
# user_id (per-user state, embarrassingly parallel); ties break on
# (ts, event_id) so both engines pick the same row.
# --------------------------------------------------------------------------
ATTRIBUTION_ORACLE = """
WITH first_purchase AS (
  SELECT user_id, ts AS p_ts, value AS p_value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
), touches AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM events e JOIN first_purchase p
    ON e.user_id = p.user_id AND e.ts < p.p_ts
), ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rf,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rl
  FROM touches
), bracketed AS (
  SELECT user_id,
         max(CASE WHEN rf = 1 THEN event_type END) AS first_touch,
         max(CASE WHEN rl = 1 THEN event_type END) AS last_touch,
         count(*) AS n_touches
  FROM ranked GROUP BY user_id
)
SELECT p.user_id,
       coalesce(b.first_touch, 'none') AS first_touch,
       coalesce(b.last_touch, 'none') AS last_touch,
       CAST(coalesce(b.n_touches, 0) AS BIGINT) AS n_touches,
       round(p.p_value, 2) AS first_purchase_value
FROM first_purchase p LEFT JOIN bracketed b ON p.user_id = b.user_id
ORDER BY p.user_id
"""


@register("events_touch_attribution", oracle=ATTRIBUTION_ORACLE)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first_purchase = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
        )
    )
    touches = events.join(first_purchase, "user_id").filter(
        F.col("ts") < F.col("p_ts")
    )
    order_key = F.struct("ts", "event_id")
    bracketed = touches.groupBy("user_id").agg(
        F.min_by("event_type", order_key).alias("first_touch"),
        F.max_by("event_type", order_key).alias("last_touch"),
        F.count(F.lit(1)).alias("n_touches"),
    )
    return (
        first_purchase.join(bracketed, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
            F.coalesce("n_touches", F.lit(0)).cast("long").alias("n_touches"),
            F.round("p_value", 2).alias("first_purchase_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Snapshot diff: classify added / removed / changed rows between two table
# versions — the audit step behind every incremental publish ("what did
# this batch actually change?") and the input to a CDC stream when the
# upstream has no binlog.  Both snapshots derive deterministically from
# orders: "old" = orders before 1998-06; "new" = orders before 1998-12
# minus keys % 89 == 0 (deletes), with keys % 7 == 0 repriced (+5%).
# Shape: one full-outer join on the key, change class from null-ness +
# value compare.  At 100 TB both sides are bucketed/partitioned on the key
# so the join co-locates; output is only the changed delta, never the
# unchanged bulk.
# --------------------------------------------------------------------------
SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
), new AS (
  SELECT o_orderkey AS k,
         round(CASE WHEN o_orderkey % 7 = 0
                    THEN floor(o_totalprice * 1.05 * 100 + 0.5) / 100
                    ELSE o_totalprice END, 2) AS price
  FROM orders
  WHERE o_orderdate < TIMESTAMP '1998-12-01' AND o_orderkey % 89 <> 0
)
SELECT coalesce(o.k, n.k) AS k,
       o.price AS old_price,
       n.price AS new_price,
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.k = n.k
WHERE o.k IS NULL OR n.k IS NULL OR o.price <> n.price
ORDER BY k
"""


@register("warehouse_snapshot_diff", oracle=SNAPSHOT_DIFF_ORACLE)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("k"), F.round("o_totalprice", 2).alias("old_price")
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") < F.lit("1998-12-01").cast("timestamp"))
            & (F.col("o_orderkey") % 89 != 0)
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(
                F.when(
                    F.col("o_orderkey") % 7 == 0,
                    F.floor(F.col("o_totalprice") * 1.05 * 100 + 0.5) / 100,
                ).otherwise(F.col("o_totalprice")),
                2,
            ).alias("new_price"),
        )
    )
    diff = old.join(new, "k", "full_outer")
    return (
        diff.filter(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            "k",
            "old_price",
            "new_price",
            F.when(F.col("old_price").isNull(), "added")
            .when(F.col("new_price").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Data-quality audit suite: the dbt-test / Deequ constraint-check shape —
# one summary row per declared constraint, computed in as few passes as the
# constraints allow.  Null/range/duplicate checks on the same table share
# ONE conditional-aggregation scan (not one scan per check); referential
# checks are anti-join counts on the FK (key-partitioned shuffle — both
# sides are fact-sized, so no broadcast hint; AQE may still pick one).  The
# output is O(#checks) rows regardless of input size, which is what makes
# the suite runnable as a gate after every 100 TB batch load.
# --------------------------------------------------------------------------
DQ_ORACLE = """
WITH o_scan AS (
  SELECT
    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_custkey,
    count(*) - count(DISTINCT o_orderkey) AS dup_orderkey,
    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos_price
  FROM orders
), l_scan AS (
  SELECT
    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS nonpos_qty,
    sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
      AS bad_discount,
    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS dup_lineitem_key
  FROM lineitem
), orphans AS (
  SELECT
    (SELECT count(*) FROM lineitem l
     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      AS orphan_lineitems,
    (SELECT count(*) FROM orders o
     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      AS orphan_orders
)
SELECT check_name, violations,
       CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
FROM (
  SELECT 'orders.o_custkey_not_null' AS check_name,
         CAST(null_custkey AS BIGINT) AS violations FROM o_scan
  UNION ALL
  SELECT 'orders.o_orderkey_unique', CAST(dup_orderkey AS BIGINT) FROM o_scan
  UNION ALL
  SELECT 'orders.o_totalprice_positive', CAST(nonpos_price AS BIGINT) FROM o_scan
  UNION ALL
  SELECT 'lineitem.l_quantity_positive', CAST(nonpos_qty AS BIGINT) FROM l_scan
  UNION ALL
  SELECT 'lineitem.l_discount_in_0_1', CAST(bad_discount AS BIGINT) FROM l_scan
  UNION ALL
  SELECT 'lineitem.key_unique', CAST(dup_lineitem_key AS BIGINT) FROM l_scan
  UNION ALL
  SELECT 'lineitem.l_orderkey_in_orders', CAST(orphan_lineitems AS BIGINT)
  FROM orphans
  UNION ALL
  SELECT 'orders.o_custkey_in_customer', CAST(orphan_orders AS BIGINT) FROM orphans
)
ORDER BY check_name
"""


@register("warehouse_dq_checks", oracle=DQ_ORACLE)
def warehouse_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def one(name, col):
        return F.struct(F.lit(name).alias("check_name"), col.cast("long").alias("violations"))

    o_scan = orders.agg(
        F.array(
            one(
                "orders.o_custkey_not_null",
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            ),
            one(
                "orders.o_orderkey_unique",
                F.count("*") - F.countDistinct("o_orderkey"),
            ),
            one(
                "orders.o_totalprice_positive",
                F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
            ),
        ).alias("checks")
    )
    l_scan = lineitem.agg(
        F.array(
            one(
                "lineitem.l_quantity_positive",
                F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)),
            ),
            one(
                "lineitem.l_discount_in_0_1",
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    ).otherwise(0)
                ),
            ),
            one(
                "lineitem.key_unique",
                F.count("*")
                - F.countDistinct(F.struct("l_orderkey", "l_linenumber")),
            ),
        ).alias("checks")
    )
    orphan_l = (
        lineitem.join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.array(one("lineitem.l_orderkey_in_orders", F.count("*"))).alias("checks"))
    )
    orphan_o = (
        orders.join(
            customer.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.array(one("orders.o_custkey_in_customer", F.count("*"))).alias("checks"))
    )
    unioned = o_scan.unionByName(l_scan).unionByName(orphan_l).unionByName(orphan_o)
    flat = unioned.select(F.explode("checks").alias("c")).select("c.*")
    return flat.select(
        "check_name",
        "violations",
        F.when(F.col("violations") == 0, "pass").otherwise("fail").alias("status"),
    ).orderBy("check_name")


# --------------------------------------------------------------------------
# Z-order (Morton) layout audit: interleave the bits of two bucketized
# dimensions (price bin × customer shard) into one sort key, split the
# z-sorted table into fixed-width z-buckets ("files"), and report each
# bucket's per-dimension min/max envelope. This is the multi-dimensional
# clustering trick behind lakehouse OPTIMIZE ZORDER BY: sorting by the
# interleaved key keeps BOTH dimensions' min/max spans per file small, so
# file-skipping works for predicates on either column — a pure write-time
# layout win at 100 TB (the sort is one range-partitioned exchange). The
# bit interleave is plain integer arithmetic ((x div 2^b) % 2 placed at
# bit 2b), identical in both engines, so the audit carries a full oracle.
# --------------------------------------------------------------------------
_Z_BITS = 8
_Z_PRICE_W = 2000.0  # o_totalprice < 512k -> 256 bins
_Z_SHARD = 256
_Z_FILE_W = 2048  # 65536 z-values / 2048 = 32 "files"


def _z_sql(xc: str, yc: str) -> str:
    terms = [
        f"(({xc} // {1 << b}) % 2) * {1 << (2 * b)}"
        f" + (({yc} // {1 << b}) % 2) * {1 << (2 * b + 1)}"
        for b in range(_Z_BITS)
    ]
    return " + ".join(terms)


ZORDER_ORACLE = f"""
WITH dims AS (
  SELECT CAST(least(floor(o_totalprice / {_Z_PRICE_W}), 255) AS BIGINT) AS x,
         o_custkey % {_Z_SHARD} AS y
  FROM orders
), z AS (
  SELECT x, y, ({_z_sql("x", "y")}) AS zval FROM dims
)
SELECT zval // {_Z_FILE_W} AS zbucket,
       count(*) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max,
       max(x) - min(x) AS x_span,
       max(y) - min(y) AS y_span
FROM z
GROUP BY zbucket
ORDER BY zbucket
"""


@register("warehouse_zorder_layout", oracle=ZORDER_ORACLE)
def warehouse_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dims = orders.select(
        F.least(F.floor(F.col("o_totalprice") / _Z_PRICE_W), F.lit(255))
        .cast("bigint")
        .alias("x"),
        (F.col("o_custkey") % _Z_SHARD).alias("y"),
    )
    z = dims.withColumn("zval", F.expr(_z_sql("x", "y").replace("//", "div")))
    return (
        z.groupBy((F.expr(f"zval div {_Z_FILE_W}")).alias("zbucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
        .orderBy("zbucket")
    )


# --------------------------------------------------------------------------
# Key-skew audit: the diagnostic behind the salted join/agg decision. One
# wordcount-style pass over the join key (events.user_id), then an
# O(#keys) rollup: key cardinality, mean/max bucket, skew factor
# (max/mean), and the share of rows carried by the 10 heaviest keys — the
# numbers that say whether a shuffle on this key needs salting or AQE skew
# handling BEFORE the 100 TB job runs. Top-10 selection is a distributed
# TakeOrdered, never a global window. Ratios use the floor(x·1e6+0.5)/1e6
# rounding both engines share (BENCH.md "Cross-engine rounding").
# --------------------------------------------------------------------------
SKEW_AUDIT_ORACLE = """
WITH kc AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_c FROM kc),
top AS (SELECT CAST(sum(c) AS BIGINT) AS top10_rows
        FROM (SELECT c FROM kc ORDER BY c DESC, user_id LIMIT 10))
SELECT n_keys, n_rows, max_c AS max_bucket,
       floor(CAST(n_rows AS DOUBLE) / n_keys * 1e6 + 0.5) / 1e6 AS mean_bucket,
       floor(CAST(max_c AS DOUBLE) * n_keys / n_rows * 1e6 + 0.5) / 1e6 AS skew_factor,
       floor(CAST(top10_rows AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6 AS top10_share
FROM tot CROSS JOIN top
"""


@register("warehouse_key_skew_audit", oracle=SKEW_AUDIT_ORACLE)
def warehouse_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    kc = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    tot = kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_c"),
    )
    top = (
        kc.orderBy(F.col("c").desc(), "user_id")
        .limit(10)
        .agg(F.sum("c").alias("top10_rows"))
    )

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        tot.crossJoin(F.broadcast(top))
        .select(
            "n_keys",
            "n_rows",
            F.col("max_c").alias("max_bucket"),
            _r6(F.col("n_rows").cast("double") / F.col("n_keys")).alias("mean_bucket"),
            _r6(
                F.col("max_c").cast("double") * F.col("n_keys") / F.col("n_rows")
            ).alias("skew_factor"),
            _r6(F.col("top10_rows").cast("double") / F.col("n_rows")).alias(
                "top10_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# ABC / Pareto classification: rank customers by revenue, classify by
# cumulative revenue share (A ≤ 70% < B ≤ 90% < C) — the classic "which 20%
# of keys carry 80% of the value" curation cut. The cumulative sum over the
# revenue-ranked customer grain is operators/ranking.py:global_running_sum
# (range partition → local running sum → broadcast offsets), so there is no
# single-reducer global window at any customer-table size. Money stays
# DECIMAL until the final share division. Beyond-reference [NS].
# --------------------------------------------------------------------------
ABC_ORACLE = """
WITH rev AS (
  SELECT o_custkey, CAST(sum(o_totalprice) AS DECIMAL(18, 2)) AS revenue
  FROM orders GROUP BY o_custkey
),
c AS (
  SELECT o_custkey, revenue,
         CAST(sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DECIMAL(18, 2)) AS cum_rev,
         CAST(sum(revenue) OVER () AS DECIMAL(18, 2)) AS tot_rev
  FROM rev
),
cls AS (
  SELECT o_custkey,
         CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.70 THEN 'A'
              WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.90 THEN 'B'
              ELSE 'C' END AS abc_class,
         revenue
  FROM c
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(round(sum(revenue), 2) AS DOUBLE) AS class_revenue
FROM cls GROUP BY abc_class ORDER BY abc_class
"""


@register("orders_abc_pareto_classes", oracle=ABC_ORACLE)
def orders_abc_pareto_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").cast("decimal(18,2)").alias("revenue")
    )
    cum = global_running_sum(
        rev, "revenue", [F.col("revenue").desc(), F.col("o_custkey")], out_col="_cum"
    ).withColumn("cum_rev", F.col("_cum").cast("decimal(18,2)"))
    tot = rev.agg(F.sum("revenue").cast("decimal(18,2)").alias("tot_rev"))
    share = F.col("cum_rev").cast("double") / F.col("tot_rev").cast("double")
    cls = cum.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "revenue",
        F.when(share <= 0.70, "A").when(share <= 0.90, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("revenue"), 2).cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# Broadcast range-lookup join: classify every order by a tiered banding
# dimension (value BETWEEN lo AND hi), the tax-bracket / pricing-tier shape.
# The tier table is constant-sized, so the non-equi join is a broadcast
# nested loop over 3 rows per probe — at 100 TB this is a pure map-side
# lookup, never a shuffle (the plan guard asserts no CartesianProduct;
# BroadcastNestedLoopJoin with the band predicate is the intended shape).
# Bands are half-open [lo, hi) so every value lands in exactly one tier.
# --------------------------------------------------------------------------
_TIERS = [("small", 0.0, 100_000.0), ("mid", 100_000.0, 300_000.0),
          ("large", 300_000.0, 1e12)]
_TIERS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)

RANGE_LOOKUP_ORACLE = f"""
WITH tiers(tier, lo, hi) AS (VALUES {_TIERS_SQL})
SELECT tier, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18, 2))), 2) AS DOUBLE)
         AS tier_revenue
FROM orders JOIN tiers
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY tier ORDER BY tier
"""


@register("join_broadcast_range_lookup", oracle=RANGE_LOOKUP_ORACLE)
def join_broadcast_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(tiers),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("tier_revenue"),
        )
        .orderBy("tier")
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (round 4): the classic fraud/DQ screen — does
# the leading digit of a value column follow log10(1+1/d)? First digit is
# extracted from the INTEGER cents string (engine-stable; float log10 at
# exact powers of ten is the cross-engine trap), then one 9-row rollup with
# the expected shares and the chi-square statistic as a window sum. One
# scan + one tiny shuffle. Beyond-reference [NS] (data-quality family).
# --------------------------------------------------------------------------
BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem
  WHERE l_extendedprice > 0
), c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
), t AS (
  SELECT digit, n,
         CAST(sum(n) OVER () AS DOUBLE) AS total,
         log10(1.0 + 1.0 / digit) AS expected_share
  FROM c
)
SELECT digit, n,
       round(n / total, 6) AS observed_share,
       round(expected_share, 6) AS expected_share,
       round(sum((n / total - expected_share) * (n / total - expected_share)
                 / expected_share) OVER (), 6) AS chi_sq_stat
FROM t ORDER BY digit
"""


@register("warehouse_benford_audit", oracle=BENFORD_ORACLE)
def warehouse_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = (
        li.where(F.col("l_extendedprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wall = W.partitionBy()
    total = F.sum("n").over(wall).cast("double")
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    t = c.select(
        "digit",
        "n",
        total.alias("total"),
        expected.alias("expected_share"),
    )
    dev = (F.col("n") / F.col("total") - F.col("expected_share"))
    return t.select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("observed_share"),
        F.round("expected_share", 6).alias("expected_share"),
        F.round(
            F.sum(dev * dev / F.col("expected_share")).over(wall), 6
        ).alias("chi_sq_stat"),
    ).orderBy("digit")


# --------------------------------------------------------------------------
# Incremental materialized-view maintenance (round 4): the lakehouse
# pattern where a monthly-revenue MV is kept current by MERGING a delta
# partition's partial aggregate into the stored base aggregate instead of
# recomputing from scratch. Spark side: base agg ⟗ delta agg, coalesced
# sums/counts — the mergeable-partials contract (same algebra that makes
# sketches work). Oracle: the DIRECT aggregate over the full table, which
# is exactly what merge-maintenance must equal. Deletes would enter as
# negative deltas (same merge); avg derives from sum/count, never merged
# directly. Beyond-reference [NS] (warehouse family).
# --------------------------------------------------------------------------
INCR_MV_ORACLE = """
SELECT o_orderpriority,
       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY o_orderpriority, order_month
ORDER BY o_orderpriority, order_month
"""


@register("warehouse_incremental_mv", oracle=INCR_MV_ORACLE)
def warehouse_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # deterministic split standing in for "yesterday's MV" + "today's delta"
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    delta = orders.where(F.col("o_orderkey") % 10 == 0)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            ),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            # DECIMAL sums: the merge adds two partials while the oracle sums
            # once — decimal arithmetic is order-independent, doubles are not
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )

    merged = (
        agg(base)
        .withColumnsRenamed({"n_orders": "n_b", "revenue": "r_b"})
        .join(
            agg(delta).withColumnsRenamed({"n_orders": "n_d", "revenue": "r_d"}),
            ["o_orderpriority", "order_month"],
            "full_outer",
        )
        .select(
            "o_orderpriority",
            "order_month",
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias(
                "n_orders"
            ),
            (
                F.coalesce("r_b", F.lit(0).cast("decimal(18,2)"))
                + F.coalesce("r_d", F.lit(0).cast("decimal(18,2)"))
            ).cast("double").alias("revenue"),
        )
    )
    return merged.orderBy("o_orderpriority", "order_month")


# --------------------------------------------------------------------------
# SCD2 point-in-time join (round 4): facts (purchase events) matched to the
# dimension version valid at fact time — THE temporal-warehouse lookup.
# The dimension is each user's status history (Type-2 runs over the
# non-purchase event stream, same island build as events_scd2_history).
# Spark-first mechanism: NOT a range join — dim-version starts and facts
# are unioned onto one per-user timeline and the valid version is a
# last(..., ignorenulls) LOCF window (one shuffle + sort per user, O(n),
# no interval explosion); at equal timestamps the dim row sorts first so
# `valid_from <= ts` is inclusive, exactly matching the oracle's
# vf <= ts < vt half-open interval join. Beyond-reference [NS].
# --------------------------------------------------------------------------
SCD2_PIT_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM ordered
), hist AS (
  SELECT user_id, island, min(event_type) AS state, min(ts) AS vf
  FROM islands GROUP BY user_id, island
), hist2 AS (
  SELECT user_id, state, vf,
         lead(vf) OVER (PARTITION BY user_id ORDER BY island) AS vt
  FROM hist
)
SELECT f.event_id, f.user_id,
       strftime(f.ts, '{{TSF}}') AS ts,
       coalesce(h.state, 'none') AS state_at_purchase,
       coalesce(strftime(h.vf, '{{TSF}}'), '') AS state_since
FROM events f
LEFT JOIN hist2 h
  ON h.user_id = f.user_id AND h.vf <= f.ts AND (h.vt > f.ts OR h.vt IS NULL)
WHERE f.event_type = 'purchase'
ORDER BY f.event_id
""".replace("{TSF}", "%Y-%m-%d %H:%M:%S.%f")


@register("join_scd2_point_in_time", oracle=SCD2_PIT_ORACLE)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    _TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = load_table(spark, sf_dir, "events")
    dim_src = ev.filter(F.col("event_type") != "purchase")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    lag_t = F.lag("event_type").over(wo)
    chg = F.when(
        lag_t.isNull() | (lag_t != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    islands = dim_src.select(
        "user_id", "event_type", "ts", F.sum(chg).over(wrun).alias("island")
    )
    hist = islands.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("vf"),
    )
    dim_rows = hist.select(
        "user_id",
        F.col("vf").alias("t"),
        F.lit(0).alias("is_fact"),
        F.col("island").alias("tie"),
        "state",
        F.col("vf").alias("since"),
        F.lit(None).cast("long").alias("event_id"),
    )
    fact_rows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_fact"),
        F.col("event_id").alias("tie"),
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("timestamp").alias("since"),
        "event_id",
    )
    wt = W.partitionBy("user_id").orderBy("t", "is_fact", "tie").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    timeline = dim_rows.unionByName(fact_rows).select(
        "*",
        F.last("state", ignorenulls=True).over(wt).alias("cur_state"),
        F.last("since", ignorenulls=True).over(wt).alias("cur_since"),
    )
    return (
        timeline.filter(F.col("is_fact") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("t", _TS_FMT).alias("ts"),
            F.coalesce("cur_state", F.lit("none")).alias("state_at_purchase"),
            F.coalesce(F.date_format("cur_since", _TS_FMT), F.lit("")).alias(
                "state_since"
            ),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Join-cardinality estimation by key sampling (round 4): the planner-side
# audit — estimate |customer ⋈ orders on custkey| from a 1/16 deterministic
# KEY sample (md5(key) % 16 == 0; sampling KEYS not rows is what keeps the
# estimator unbiased for joins — row sampling squares the inclusion
# probability of a matched pair), scaled back by 16, next to the exact
# size. Both engines share the md5 sample so the estimate is reproducible.
# This is how you cost a join before running it at 100 TB: the sample pass
# touches 1/16 of the key space and only counts. Beyond-reference [NS].
# --------------------------------------------------------------------------
_CARD_MOD = 16

CARD_EST_ORACLE = f"""
WITH c AS (
  SELECT c_custkey AS key, count(*) AS n_c FROM customer GROUP BY key
), o AS (
  SELECT o_custkey AS key, count(*) AS n_o FROM orders GROUP BY key
), j AS (
  SELECT c.key, n_c * n_o AS pairs,
         CAST(('0x' || substr(md5(CAST(c.key AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_CARD_MOD} = 0 AS sampled
  FROM c JOIN o ON o.key = c.key
)
SELECT CAST(sum(pairs) AS BIGINT) AS exact_join_size,
       CAST(sum(CASE WHEN sampled THEN pairs ELSE 0 END) * {_CARD_MOD}
            AS BIGINT) AS estimated_join_size,
       round(abs(sum(CASE WHEN sampled THEN pairs ELSE 0 END) * {_CARD_MOD}.0
                 - sum(pairs)) / sum(pairs), 6) AS rel_error
FROM j
"""


@register("join_cardinality_estimate", oracle=CARD_EST_ORACLE)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c = cust.groupBy(F.col("c_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    o = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    sampled = (
        F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _CARD_MOD
        == 0
    )
    j = c.join(o, "key").select(
        (F.col("n_c") * F.col("n_o")).alias("pairs"), sampled.alias("sampled")
    )
    est = F.sum(F.when(F.col("sampled"), F.col("pairs")).otherwise(0)) * _CARD_MOD
    exact = F.sum("pairs")
    return j.agg(
        exact.cast("long").alias("exact_join_size"),
        est.cast("long").alias("estimated_join_size"),
        F.round(F.abs(est.cast("double") - exact) / exact, 6).alias("rel_error"),
    )


# --------------------------------------------------------------------------
# Duplicate-invoice screen (round 4): same customer, same total, order
# dates within 7 days — the classic AP-fraud / double-billing detector.
# Blocking on the exact (custkey, totalprice) pair makes the self-join
# equi-keyed (pair space = Σ group², groups are almost always singletons),
# with the date-window predicate applied inside each matched group; an
# integer day-difference keeps the boundary engine-exact.
# --------------------------------------------------------------------------
DUP_INVOICE_ORACLE = """
SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
       a.o_custkey AS custkey,
       round(a.o_totalprice, 2) AS amount,
       CAST(abs(date_diff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
         AS days_apart
FROM orders a
JOIN orders b
  ON b.o_custkey = a.o_custkey
 AND b.o_totalprice = a.o_totalprice
 AND b.o_orderkey > a.o_orderkey
WHERE abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 7
ORDER BY key_a, key_b
"""


@register("orders_dup_invoice_screen", oracle=DUP_INVOICE_ORACLE)
def orders_dup_invoice_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("date_a"),
    )
    b = orders.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("date_b"),
    )
    days = F.abs(F.datediff(F.col("date_a"), F.col("date_b")))
    return (
        a.join(b, ["custkey", "amount"])
        .where((F.col("key_b") > F.col("key_a")) & (days <= 7))
        .select(
            "key_a",
            "key_b",
            "custkey",
            F.round("amount", 2).alias("amount"),
            days.cast("long").alias("days_apart"),
        )
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# Gini concentration of customer revenue (round 4): the inequality /
# concentration audit — G = 2·Σ rank·x / (n·Σx) − (n+1)/n over customers
# ranked by revenue. The rank is operators/ranking.global_row_number
# (range partition + offsets — never a single-reducer window); revenue
# sums are DECIMAL so Σx is order-independent; the one double division
# happens at the end on bit-identical operands. Beyond-reference [NS]
# (warehouse/stats family — ABC/Pareto's continuous cousin).
# --------------------------------------------------------------------------
GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey AS custkey,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
  FROM orders GROUP BY custkey
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, custkey) AS r FROM rev
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(r * x) AS DOUBLE) AS srx
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(sx, 2) AS total_revenue,
       round(2.0 * srx / (n * sx) - (n + 1.0) / n, 6) AS gini
FROM s
"""


@register("orders_gini_concentration", oracle=GINI_ORACLE)
def orders_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    ranked = global_row_number(rev, [F.col("x"), F.col("custkey")], out_col="r")
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("r") * F.col("x")).cast("double").alias("srx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round("sx", 2).alias("total_revenue"),
        F.round(
            2.0 * F.col("srx") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Weighted percentiles (round 4): customer account balance weighted by
# order count — "the balance of the median ORDER's customer", not the
# median customer (the two differ whenever activity correlates with the
# measure; plain `percentile` has no weight argument in either engine).
# Lower-weighted-percentile convention: the smallest value whose running
# weight reaches q·W, computed on the distributed prefix sum
# (ranking.global_running_sum — range-partitioned, no global window), with
# exact integer weights so the crossing row is engine-exact.
# --------------------------------------------------------------------------
WEIGHTED_PCTL_ORACLE = """
WITH w AS (
  SELECT c.c_custkey, c.c_acctbal AS v, CAST(count(*) AS BIGINT) AS wt
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), cum AS (
  SELECT v, wt,
         sum(wt) OVER (ORDER BY v, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         (SELECT sum(wt) FROM w) AS tot
  FROM w
), qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q)
SELECT qs.q,
       round(min(cum.v), 4) AS weighted_pctl
FROM qs JOIN cum ON cum.cw >= qs.q * cum.tot
GROUP BY qs.q ORDER BY qs.q
"""


@register("agg_weighted_percentile", oracle=WEIGHTED_PCTL_ORACLE)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", F.col("c_acctbal").alias("v"))
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    cum = global_running_sum(w, "wt", [F.col("v"), F.col("c_custkey")], out_col="cw")
    tot = cum.agg(F.sum("wt").alias("tot"))
    qs = F.broadcast(
        cust.sparkSession.createDataFrame([(0.25,), (0.5,), (0.75,)], "q double")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(qs)
        .where(F.col("cw") >= F.col("q") * F.col("tot"))
        .groupBy("q")
        .agg(F.round(F.min("v"), 4).alias("weighted_pctl"))
        .orderBy("q")
    )


# --------------------------------------------------------------------------
# Skyline / Pareto front (round 4): customers not dominated on
# (total spend, order count) — the classic dominance query (BNL/D&C in
# the literature), here via the monotone trick: sort by spend DESC and a
# customer is on the front iff their order count STRICTLY exceeds the
# prefix max of counts over all better-spend rows (distributed prefix
# max, ranking.global_running_max — no n² dominance join, no global
# window). Ties on spend order deterministically by custkey; the EXCLUSIVE
# prefix max comes from the inclusive one minus the row's own count via a
# dominance re-check against the strictly-better set.
# --------------------------------------------------------------------------
SKYLINE_ORACLE = """
WITH agg AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY custkey
)
SELECT a.custkey, round(a.spend, 2) AS spend, a.n_orders
FROM agg a
WHERE NOT EXISTS (
  SELECT 1 FROM agg b
  WHERE (b.spend > a.spend AND b.n_orders >= a.n_orders)
     OR (b.spend >= a.spend AND b.n_orders > a.n_orders)
)
ORDER BY a.custkey
"""


@register("orders_pareto_skyline", oracle=SKYLINE_ORACLE)
def orders_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_max

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # prefix max of n_orders in (spend DESC, n_orders DESC, custkey) order:
    # the inclusive prefix max over rows sorted best-first; a row survives
    # iff nothing strictly better dominates it. With ties ordered
    # n_orders DESC, an equal-spend row with more orders precedes, so the
    # inclusive-prefix comparison implements the EXISTS dominance test
    # exactly: dominated ⟺ prefix max (excluding equal-key rows that don't
    # dominate) > own count, or an equal-count strictly-better-spend row
    # exists. Handle the second case by comparing against the prefix max
    # over STRICTLY better spend via a max-per-spend pre-collapse.
    from ..operators.ranking import global_row_number

    per_spend = agg.groupBy("spend").agg(F.max("n_orders").alias("best_n"))
    ranked = global_running_max(
        per_spend,
        "best_n",
        [F.col("spend").desc()],
        out_col="prefix_best",
    )
    # exclusive prefix max over STRICTLY better spend = inclusive prefix of
    # the previous distinct-spend row, fetched by rank EQUI-JOIN (rk = rk−1)
    # on the distributed global row number — no unpartitioned lag window
    ranked = (
        global_row_number(ranked, [F.col("spend").desc()], out_col="rk")
    )
    excl = ranked.select("spend", "best_n", (F.col("rk") - 1).alias("prk")).join(
        ranked.select(F.col("rk").alias("prk"), F.col("prefix_best").alias("excl_best")),
        "prk",
        "left",
    )
    return (
        agg.join(excl, "spend")
        .where(
            (F.col("excl_best").isNull() | (F.col("excl_best") < F.col("n_orders")))
            # equal-spend domination: only the max-order customers of each
            # spend value can be on the front
            & (F.col("n_orders") == F.col("best_n"))
        )
        .select("custkey", F.round("spend", 2).alias("spend"), "n_orders")
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# Freshness-lag report (round 4): how far each event stream trails the
# most recent event overall — the per-source staleness panel an ingest
# operator watches (reference parity: the run-status doc's
# last_success_timestamp, app/alpaca_service.py:19-25, generalized per
# stream). The reference point is the GLOBAL max event time (not wall
# clock), so the report is deterministic; lag in integer seconds, SLA
# flag at 30 minutes.
# --------------------------------------------------------------------------
FRESHNESS_ORACLE = """
WITH g AS (SELECT max(ts) AS latest FROM events),
per AS (
  SELECT event_type, max(ts) AS last_seen, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
)
SELECT per.event_type,
       strftime(per.last_seen, '%Y-%m-%d %H:%M:%S.%f') AS last_seen,
       CAST((epoch_us(g.latest) - epoch_us(per.last_seen)) // 1000000 AS BIGINT)
         AS lag_seconds,
       (epoch_us(g.latest) - epoch_us(per.last_seen)) // 1000000 > 1800
         AS sla_breach,
       per.n_events
FROM per CROSS JOIN g
ORDER BY per.event_type
"""


@register("events_freshness_lag", oracle=FRESHNESS_ORACLE)
def events_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    _TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("latest"))
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("n_events")
    )
    lag_s = F.floor(
        (F.unix_micros("latest") - F.unix_micros("last_seen")) / 1_000_000
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.date_format("last_seen", _TS_FMT).alias("last_seen"),
            lag_s.alias("lag_seconds"),
            (lag_s > 1800).alias("sla_breach"),
            "n_events",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Chi-square independence test (round 4): are part type and brand
# independent? Contingency counts → expected = row·col/total → χ² =
# Σ(o−e)²/e with degrees of freedom — the categorical-association test
# (the KS/t-test rows' categorical sibling). All counts exact integers;
# one grouped aggregate + two broadcast marginals.
# --------------------------------------------------------------------------
CHI2_ORACLE = """
WITH o AS (
  SELECT p_type AS a, p_brand AS b, CAST(count(*) AS DOUBLE) AS n
  FROM part GROUP BY a, b
), ra AS (SELECT a, sum(n) AS na FROM o GROUP BY a),
rb AS (SELECT b, sum(n) AS nb FROM o GROUP BY b),
tot AS (SELECT sum(n) AS t FROM o),
cells AS (
  SELECT o.a, o.b, o.n, ra.na * rb.nb / tot.t AS e
  FROM o JOIN ra ON ra.a = o.a JOIN rb ON rb.b = o.b CROSS JOIN tot
)
SELECT CAST((SELECT count(*) FROM ra) AS BIGINT) AS n_types,
       CAST((SELECT count(*) FROM rb) AS BIGINT) AS n_brands,
       CAST(((SELECT count(*) FROM ra) - 1) * ((SELECT count(*) FROM rb) - 1)
            AS BIGINT) AS dof,
       round(sum((n - e) * (n - e) / e), 6) AS chi_sq
FROM cells
"""


@register("part_chi_square_independence", oracle=CHI2_ORACLE)
def part_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    o = part.groupBy(
        F.col("p_type").alias("a"), F.col("p_brand").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    o = materialize(o)  # marginals + cells branches
    ra = o.groupBy("a").agg(F.sum("n").alias("na"))
    rb = o.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = o.agg(F.sum("n").alias("t"))
    n_a = ra.agg(F.count(F.lit(1)).alias("n_types"))
    n_b = rb.agg(F.count(F.lit(1)).alias("n_brands"))
    cells = (
        o.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n", (F.col("na") * F.col("nb") / F.col("t")).alias("e")
        )
    )
    chi = cells.agg(
        F.round(
            F.sum((F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e")),
            6,
        ).alias("chi_sq")
    )
    return (
        F.broadcast(n_a)
        .crossJoin(F.broadcast(n_b))
        .crossJoin(chi)
        .select(
            F.col("n_types").cast("long").alias("n_types"),
            F.col("n_brands").cast("long").alias("n_brands"),
            ((F.col("n_types") - 1) * (F.col("n_brands") - 1))
            .cast("long")
            .alias("dof"),
            "chi_sq",
        )
    )


# --------------------------------------------------------------------------
# ABC class migration matrix (round 4): each customer's Pareto class
# (A ≤70% < B ≤90% < C of cumulative revenue) computed independently for
# the pre-1998 and 1998+ periods, then the 4×4 transition matrix (N =
# absent that period) — "which A-customers churned / who rose from C" is
# the actionable form of the static ABC report. Each period's class uses
# the decimal-exact distributed prefix sum; the matrix is one full-outer
# join on custkey + a 16-cell rollup.
# --------------------------------------------------------------------------
_ABC_PERIOD_SQL = """
  SELECT o_custkey,
         CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.70 THEN 'A'
              WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.90 THEN 'B'
              ELSE 'C' END AS cls
  FROM (
    SELECT o_custkey, revenue,
           CAST(sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(18, 2)) AS cum_rev,
           CAST(sum(revenue) OVER () AS DECIMAL(18, 2)) AS tot_rev
    FROM (
      SELECT o_custkey, CAST(sum(o_totalprice) AS DECIMAL(18, 2)) AS revenue
      FROM orders WHERE {pred} GROUP BY o_custkey
    )
  )
"""

ABC_MIGRATION_ORACLE = f"""
WITH p1 AS ({_ABC_PERIOD_SQL.format(pred="o_orderdate <  TIMESTAMP '1998-01-01'")}),
p2 AS ({_ABC_PERIOD_SQL.format(pred="o_orderdate >= TIMESTAMP '1998-01-01'")})
SELECT coalesce(p1.cls, 'N') AS class_before,
       coalesce(p2.cls, 'N') AS class_after,
       CAST(count(*) AS BIGINT) AS n_customers
FROM p1 FULL OUTER JOIN p2 ON p2.o_custkey = p1.o_custkey
GROUP BY class_before, class_after
ORDER BY class_before, class_after
"""


@register("orders_abc_migration", oracle=ABC_MIGRATION_ORACLE)
def orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")

    def classes(df: DataFrame) -> DataFrame:
        rev = df.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
        )
        cum = global_running_sum(
            rev,
            "revenue",
            [F.col("revenue").desc(), F.col("o_custkey")],
            out_col="cum_rev",
        )
        tot = cum.agg(F.sum("revenue").alias("tot_rev"))
        share = F.col("cum_rev").cast("double") / F.col("tot_rev").cast("double")
        return (
            cum.crossJoin(F.broadcast(tot))
            .select(
                "o_custkey",
                F.when(share <= 0.70, "A")
                .when(share <= 0.90, "B")
                .otherwise("C")
                .alias("cls"),
            )
        )

    p1 = classes(orders.where(F.col("o_orderdate") < cutoff)).withColumnsRenamed(
        {"cls": "c1"}
    )
    p2 = classes(orders.where(F.col("o_orderdate") >= cutoff)).withColumnsRenamed(
        {"cls": "c2"}
    )
    return (
        p1.join(p2, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce("c1", F.lit("N")).alias("class_before"),
            F.coalesce("c2", F.lit("N")).alias("class_after"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("class_before", "class_after")
    )


# --------------------------------------------------------------------------
# Order-to-ship cycle time (round 4): days from order date to the FIRST
# line shipment, summarized per priority (P50/P90, exact percentiles with
# the documented approx_percentile 100 TB swap) — the fulfilment SLA
# metric. One orders⋈lineitem join pre-aggregated on the line side so the
# join carries one row per order, not per line.
# --------------------------------------------------------------------------
CYCLE_ORACLE = """
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS ship0 FROM lineitem GROUP BY l_orderkey
), lat AS (
  SELECT o.o_orderpriority AS prio,
         CAST(date_diff('day', o.o_orderdate, f.ship0) AS DOUBLE) AS days
  FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
)
SELECT prio, CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(days), 6) AS avg_days,
       round(quantile_cont(days, 0.5), 4) AS p50_days,
       round(quantile_cont(days, 0.9), 4) AS p90_days
FROM lat GROUP BY prio ORDER BY prio
"""


@register("orders_cycle_time", oracle=CYCLE_ORACLE)
def orders_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship0"))
    lat = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff("ship0", "o_orderdate").cast("double").alias("days"),
    )
    return (
        lat.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("days"), 6).alias("avg_days"),
            F.round(F.percentile("days", F.lit(0.5)), 4).alias("p50_days"),
            F.round(F.percentile("days", F.lit(0.9)), 4).alias("p90_days"),
        )
        .orderBy("prio")
    )


# --------------------------------------------------------------------------
# Cramér's V association strength + standardized residuals (round 4): the
# effect-size companion to part_chi_square_independence — χ² grows with N,
# so at 100 TB every test "rejects"; V = sqrt(χ² / (N·min(r−1,c−1))) is the
# scale-free strength, and the per-cell standardized residual (o−e)/sqrt(e)
# names WHICH cells drive it. Contingency is order priority × customer
# market segment (a join-shaped contingency, unlike the single-table part
# test): one custkey-keyed shuffle join, 25 cells, broadcast marginals.
# --------------------------------------------------------------------------
CRAMERS_V_ORACLE = """
WITH j AS (
  SELECT o_orderpriority AS a, c_mktsegment AS b
  FROM orders JOIN customer ON o_custkey = c_custkey
), o AS (
  SELECT a, b, CAST(count(*) AS DOUBLE) AS n FROM j GROUP BY a, b
), ra AS (SELECT a, sum(n) AS na FROM o GROUP BY a),
rb AS (SELECT b, sum(n) AS nb FROM o GROUP BY b),
tot AS (SELECT sum(n) AS t FROM o),
cells AS (
  SELECT o.a, o.b, o.n, ra.na * rb.nb / tot.t AS e, tot.t AS t
  FROM o JOIN ra ON ra.a = o.a JOIN rb ON rb.b = o.b CROSS JOIN tot
), stat AS (
  SELECT sum((n - e) * (n - e) / e) AS chi_sq, any_value(t) AS t,
         CAST((SELECT count(*) FROM ra) AS DOUBLE) AS r,
         CAST((SELECT count(*) FROM rb) AS DOUBLE) AS c
  FROM cells
)
SELECT cells.a AS priority, cells.b AS segment,
       CAST(cells.n AS BIGINT) AS observed,
       round(cells.e, 6) AS expected,
       round((cells.n - cells.e) / sqrt(cells.e), 6) AS std_residual,
       round(stat.chi_sq, 6) AS chi_sq,
       round(sqrt(stat.chi_sq / (stat.t * least(stat.r - 1, stat.c - 1))), 6)
         AS cramers_v
FROM cells CROSS JOIN stat
ORDER BY priority, segment
"""


@register("orders_cramers_v_association", oracle=CRAMERS_V_ORACLE)
def orders_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("o_orderpriority").alias("a"), F.col("c_mktsegment").alias("b")
    )
    o = j.groupBy("a", "b").agg(F.count(F.lit(1)).cast("double").alias("n"))
    o = materialize(o)  # marginals + cells branches
    ra = o.groupBy("a").agg(F.sum("n").alias("na"))
    rb = o.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = o.agg(F.sum("n").alias("t"))
    r = ra.agg(F.count(F.lit(1)).cast("double").alias("r"))
    c = rb.agg(F.count(F.lit(1)).cast("double").alias("c"))
    cells = (
        o.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", "n", "t",
            (F.col("na") * F.col("nb") / F.col("t")).alias("e"),
        )
    )
    stat = (
        cells.agg(
            F.sum((F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e")).alias("chi_sq"),
            F.first("t").alias("t"),
        )
        .crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
    )
    return (
        cells.drop("t").crossJoin(F.broadcast(stat))
        .select(
            F.col("a").alias("priority"),
            F.col("b").alias("segment"),
            F.col("n").cast("long").alias("observed"),
            F.round("e", 6).alias("expected"),
            F.round((F.col("n") - F.col("e")) / F.sqrt("e"), 6).alias("std_residual"),
            F.round("chi_sq", 6).alias("chi_sq"),
            F.round(
                F.sqrt(
                    F.col("chi_sq")
                    / (F.col("t") * F.least(F.col("r") - 1, F.col("c") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
        .orderBy("priority", "segment")
    )


# --------------------------------------------------------------------------
# Higher-moment distribution profile (round 4): mean, stddev, skewness g1 =
# m3/m2^1.5, excess kurtosis m4/m2²−3 per order priority. Built from
# explicit TWO-PASS central moments (broadcast the group means back, then
# average centered powers): the one-pass raw-power-sum identity
# m4 = E[x⁴]−4µE[x³]+… loses ~10 significant digits to cancellation at
# o_totalprice magnitudes (x⁴ ≈ 10²⁰), and builtin skewness/kurtosis
# definitions differ across engines (Spark: population g1/excess;
# DuckDB: bias-corrected sample) — explicit moments are engine-exact.
# A pytest pins F.skewness/F.kurtosis to these definitions so the builtin
# fast path is documented-equivalent. Two linear scans, broadcast join.
# --------------------------------------------------------------------------
MOMENTS_ORACLE = """
WITH mu AS (
  SELECT o_orderpriority AS prio, avg(o_totalprice) AS mean,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderpriority
), cm AS (
  SELECT prio, n, mean,
         avg(pow(o_totalprice - mean, 2)) AS m2,
         avg(pow(o_totalprice - mean, 3)) AS m3,
         avg(pow(o_totalprice - mean, 4)) AS m4
  FROM orders JOIN mu ON o_orderpriority = mu.prio
  GROUP BY prio, n, mean
)
SELECT prio AS priority, n,
       round(mean, 2) AS mean,
       round(sqrt(m2), 2) AS stddev_pop,
       round(m3 / pow(m2, 1.5), 6) AS skewness_g1,
       round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
FROM cm
ORDER BY priority
"""


@register("orders_moments_profile", oracle=MOMENTS_ORACLE)
def orders_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").cast("double").alias("x"),
    )
    mu = orders.groupBy("prio").agg(
        F.avg("x").alias("mean"), F.count(F.lit(1)).alias("n")
    )
    d = F.col("x") - F.col("mean")
    cm = (
        orders.join(F.broadcast(mu), "prio")
        .groupBy("prio", "n", "mean")
        .agg(
            F.avg(F.pow(d, 2)).alias("m2"),
            F.avg(F.pow(d, 3)).alias("m3"),
            F.avg(F.pow(d, 4)).alias("m4"),
        )
    )
    return cm.select(
        F.col("prio").alias("priority"),
        "n",
        F.round("mean", 2).alias("mean"),
        F.round(F.sqrt("m2"), 2).alias("stddev_pop"),
        F.round(F.col("m3") / F.pow("m2", 1.5), 6).alias("skewness_g1"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias(
            "kurtosis_excess"
        ),
    ).orderBy("priority")


# --------------------------------------------------------------------------
# Business-day arithmetic (round 4): due date = order date + 5 BUSINESS
# days (weekends skipped) — the date-dimension computation every
# warehouse carries and no engine ships as a builtin. Expressed without
# a calendar table: explode a 9-calendar-day spine per order (5 business
# days always land within ceil(5/5·7)+2), filter weekdays, rank, pick
# the 5th — pure per-row expressions + one bounded explode (9 rows per
# order, map-side, no shuffle at all). Weekday convention pinned to
# Monday=0 via Spark weekday() ≡ DuckDB isodow−1 (the scalars-family
# discipline).
# --------------------------------------------------------------------------
BUSDAY_ORACLE = """
WITH spine AS (
  SELECT o_orderkey, o_orderdate, d
  FROM orders, LATERAL (
    SELECT o_orderdate + to_days(CAST(i AS INTEGER)) AS d
    FROM generate_series(1, 9) t(i)
  )
  WHERE o_orderkey % 20 = 0 AND isodow(d) <= 5
), ranked AS (
  SELECT o_orderkey, o_orderdate, d,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY d) AS rn
  FROM spine
)
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(isodow(o_orderdate) - 1 AS BIGINT) AS order_weekday,
       strftime(d, '%Y-%m-%d') AS due_date_5bd,
       CAST(date_diff('day', o_orderdate, d) AS BIGINT) AS calendar_days
FROM ranked WHERE rn = 5
ORDER BY o_orderkey
"""


@register("orders_business_day_due", oracle=BUSDAY_ORACLE)
def orders_business_day_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 20 == 0
    )
    spine = orders.select(
        "o_orderkey",
        "o_orderdate",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("i"),
    ).select(
        "o_orderkey",
        "o_orderdate",
        F.date_add(F.col("o_orderdate"), F.col("i")).alias("d"),
    ).where(F.weekday("d") <= 4)
    wr = W.partitionBy("o_orderkey").orderBy("d")
    return (
        spine.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 5)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.weekday("o_orderdate").cast("long").alias("order_weekday"),
            F.date_format("d", "yyyy-MM-dd").alias("due_date_5bd"),
            F.datediff(F.col("d"), F.col("o_orderdate")).cast("long").alias(
                "calendar_days"
            ),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# RLE run-length layout audit (round 4): which sort order compresses
# best? Parquet RLE/dictionary costs scale with the number of VALUE RUNS
# per column per row group, so the audit counts runs for each candidate
# layout inside deterministic "row group" buckets (month buckets for the
# date layout, returnflag buckets for the flag layout — mirroring that
# real RLE never crosses a row group). Fewer runs = cheaper storage +
# faster scans; this is the quantitative sibling of the z-order layout
# audit, answering the everyday "should we sort this table by date or by
# (flag, date)?" A lag window PARTITIONED by bucket (never global) per
# column, one pass per layout.
# --------------------------------------------------------------------------
RLE_ORACLE = """
WITH l AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(month(l_shipdate) AS BIGINT) AS shipmonth,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS bucket_date,
         l_shipdate AS sd, l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem
), b1 AS (
  SELECT CASE WHEN rf IS DISTINCT FROM lag(rf) OVER w THEN 1 ELSE 0 END AS brk_rf,
         CASE WHEN ls IS DISTINCT FROM lag(ls) OVER w THEN 1 ELSE 0 END AS brk_ls,
         CASE WHEN qty IS DISTINCT FROM lag(qty) OVER w THEN 1 ELSE 0 END AS brk_qty,
         CASE WHEN shipmonth IS DISTINCT FROM lag(shipmonth) OVER w THEN 1 ELSE 0 END AS brk_sm
  FROM l WINDOW w AS (PARTITION BY bucket_date ORDER BY sd, ok, ln, rf, ls, qty, shipmonth)
), s1 AS (
  SELECT sum(brk_rf) AS r_rf, sum(brk_ls) AS r_ls, sum(brk_qty) AS r_qty,
         sum(brk_sm) AS r_sm, count(*) AS n
  FROM b1
), b2 AS (
  SELECT CASE WHEN rf IS DISTINCT FROM lag(rf) OVER w THEN 1 ELSE 0 END AS brk_rf,
         CASE WHEN ls IS DISTINCT FROM lag(ls) OVER w THEN 1 ELSE 0 END AS brk_ls,
         CASE WHEN qty IS DISTINCT FROM lag(qty) OVER w THEN 1 ELSE 0 END AS brk_qty,
         CASE WHEN shipmonth IS DISTINCT FROM lag(shipmonth) OVER w THEN 1 ELSE 0 END AS brk_sm
  FROM l WINDOW w AS (PARTITION BY rf ORDER BY sd, ok, ln, rf, ls, qty, shipmonth)
), s2 AS (
  SELECT sum(brk_rf) AS r_rf, sum(brk_ls) AS r_ls, sum(brk_qty) AS r_qty,
         sum(brk_sm) AS r_sm, count(*) AS n
  FROM b2
), runs AS (
  SELECT 'by_shipdate' AS layout, 'rf' AS col, r_rf AS n_runs, n FROM s1
  UNION ALL SELECT 'by_shipdate', 'ls', r_ls, n FROM s1
  UNION ALL SELECT 'by_shipdate', 'qty', r_qty, n FROM s1
  UNION ALL SELECT 'by_shipdate', 'shipmonth', r_sm, n FROM s1
  UNION ALL SELECT 'by_flag_shipdate', 'rf', r_rf, n FROM s2
  UNION ALL SELECT 'by_flag_shipdate', 'ls', r_ls, n FROM s2
  UNION ALL SELECT 'by_flag_shipdate', 'qty', r_qty, n FROM s2
  UNION ALL SELECT 'by_flag_shipdate', 'shipmonth', r_sm, n FROM s2
)
SELECT layout, col AS column_name, CAST(n_runs AS BIGINT) AS n_runs,
       CAST(n AS BIGINT) AS n_rows,
       round(CAST(n AS DOUBLE) / n_runs, 2) AS avg_run_len
FROM runs
ORDER BY layout, column_name
"""


@register("warehouse_rle_layout_audit", oracle=RLE_ORACLE)
def warehouse_rle_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.month("l_shipdate").cast("long").alias("shipmonth"),
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("bucket_date"),
        F.col("l_shipdate").alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )

    def runs_for(layout: str, bucket_col: str):
        # ONE window pass computes all four columns' run breaks (the
        # stacked-union version paid the sort 4x — 4.5 s vs 1.4 s at
        # sf0.1). Sort includes all audited columns as tiebreak: the
        # fixture carries intentional duplicate (ok, ln) rows (the
        # dup-invoice family), so (sd, ok, ln) is not a total order.
        wd = W.partitionBy(bucket_col).orderBy(
            "sd", "ok", "ln", "rf", "ls", "qty", "shipmonth"
        )
        sums = li.select(
            *[F.when(~F.col(c).eqNullSafe(F.lag(c).over(wd)), 1).otherwise(0).alias(f"b_{c}")
              for c in ("rf", "ls", "qty", "shipmonth")]
        ).agg(
            *[F.sum(f"b_{c}").alias(f"r_{c}") for c in ("rf", "ls", "qty", "shipmonth")],
            F.count(F.lit(1)).alias("n"),
        )
        pairs = ", ".join(f"'{c}', r_{c}" for c in ("rf", "ls", "qty", "shipmonth"))
        return sums.selectExpr(
            f"stack(4, {pairs}) AS (col, n_runs)", "n"
        ).select(F.lit(layout).alias("layout"), "col", "n_runs", "n")

    out = runs_for("by_shipdate", "bucket_date").unionByName(
        runs_for("by_flag_shipdate", "rf")
    )
    return out.select(
        "layout",
        F.col("col").alias("column_name"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("n").cast("double") / F.col("n_runs"), 2).alias("avg_run_len"),
    ).orderBy("layout", "column_name")


# --------------------------------------------------------------------------
# Compaction bin-packing plan (the OPTIMIZE / small-file-compaction
# planner). File inventory simulated from orders metadata: one "file" per
# (order month, writer bucket = o_orderkey % 8) with size = row count —
# the shape a real lakehouse table's manifest would give. Plan: within
# each partition, files are packed in writer-bucket order by cumulative
# offset into groups of target size T = 4× the global mean file size
# (scale-free), i.e. group = floor(cum_bytes_before / T) — the same
# linear-scan packing Spark's own file-scan coalescing and Delta OPTIMIZE
# use. Everything runs on the MANIFEST grain (rows = files, never data
# rows): at 100 TB the plan is a metadata query over ~1e5 manifest
# entries, and the window is partitioned by the table partition key.
# --------------------------------------------------------------------------

COMPACTION_PLAN_ORACLE = """
WITH files AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS part,
         o_orderkey % 8 AS bucket,
         COUNT(*) AS sz
  FROM orders GROUP BY 1, 2
), t AS (
  SELECT CAST(ceil(avg(sz) * 4) AS BIGINT) AS target FROM files
), planned AS (
  SELECT part, bucket, sz, target,
         COALESCE(SUM(sz) OVER (PARTITION BY part ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_before
  FROM files, t
)
SELECT part,
       CAST(floor(CAST(cum_before AS DOUBLE) / target) AS BIGINT) AS grp,
       COUNT(*) AS n_files,
       CAST(SUM(sz) AS BIGINT) AS total_rows,
       CAST(max(target) AS BIGINT) AS target_rows,
       CASE WHEN SUM(sz) >= max(target) * 0.5 THEN 1 ELSE 0 END AS well_sized
FROM planned
GROUP BY part, CAST(floor(CAST(cum_before AS DOUBLE) / target) AS BIGINT)
ORDER BY part, grp
"""


@register("warehouse_compaction_plan", oracle=COMPACTION_PLAN_ORACLE)
def warehouse_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
        (F.col("o_orderkey") % 8).alias("bucket"),
    ).agg(F.count("*").alias("sz"))
    target = files.agg(F.ceil(F.avg("sz") * 4).cast("long").alias("target"))
    w = (
        W.partitionBy("part")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    planned = files.crossJoin(F.broadcast(target)).withColumn(
        "cum_before", F.coalesce(F.sum("sz").over(w), F.lit(0))
    )
    return (
        planned.withColumn(
            "grp",
            F.floor(F.col("cum_before").cast("double") / F.col("target")).cast("long"),
        )
        .groupBy("part", "grp")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("sz").cast("long").alias("total_rows"),
            F.max("target").cast("long").alias("target_rows"),
            F.when(
                F.sum("sz") >= F.max("target") * 0.5, F.lit(1)
            ).otherwise(F.lit(0)).alias("well_sized"),
        )
        .orderBy("part", "grp")
    )


# --------------------------------------------------------------------------
# k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala 2007):
# the privacy-governance pass a data platform runs before releasing a
# table — the RTBF delete sink's preventive sibling. Quasi-identifier =
# (nation, market segment, account-balance band); an equivalence class
# with < k members re-identifies its customers, and a class whose
# sensitive attribute (order priority mix, via the orders join) is
# near-constant leaks it even at k. Everything aggregates on the QI-class
# grain (bounded by the QI domain product, not row count); the per-nation
# rollup is a second tiny agg. Flags: classes below k=5, rows at risk,
# and the minimum l-diversity per nation.
# --------------------------------------------------------------------------
_KANON_K = 5

K_ANONYMITY_ORACLE = f"""
WITH qi AS (
  SELECT c.c_custkey,
         c.c_nationkey AS nation,
         c.c_mktsegment AS seg,
         CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         o.o_orderpriority AS sens
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
), classes AS (
  SELECT nation, seg, bal_band,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS class_size,
         CAST(count(DISTINCT sens) AS BIGINT) AS l_div
  FROM qi GROUP BY nation, seg, bal_band
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS k_violating_classes,
       CAST(sum(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS customers_at_risk,
       CAST(min(class_size) AS BIGINT) AS min_class_size,
       CAST(min(l_div) AS BIGINT) AS min_l_diversity
FROM classes
GROUP BY nation
ORDER BY nation
"""


@register("warehouse_k_anonymity_audit", oracle=K_ANONYMITY_ORACLE)
def warehouse_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    qi = c.join(o, c["c_custkey"] == o["o_custkey"]).select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        F.col("o_orderpriority").alias("sens"),
    )
    classes = qi.groupBy("nation", "seg", "bal_band").agg(
        F.countDistinct("c_custkey").cast("long").alias("class_size"),
        F.countDistinct("sens").cast("long").alias("l_div"),
    )
    return (
        classes.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("class_size").cast("long").alias("n_customers"),
            F.sum(
                F.when(F.col("class_size") < _KANON_K, 1).otherwise(0)
            ).cast("long").alias("k_violating_classes"),
            F.sum(
                F.when(F.col("class_size") < _KANON_K, F.col("class_size")).otherwise(0)
            ).cast("long").alias("customers_at_risk"),
            F.min("class_size").cast("long").alias("min_class_size"),
            F.min("l_div").cast("long").alias("min_l_diversity"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# Point-in-time-correct feature matrix (the feature-store assembly pass):
# one row per label event (purchases) with features computed AS OF the
# label timestamp and never after it — the leakage rule every feature
# store (Feast/Tecton) exists to enforce. Three canonical feature shapes
# in one windowed pass over the per-user timeline: LOCF of the most
# recent click value (ROWS frame, (µs, event_id) total order), a bounded
# 7-day activity count (RANGE frame on the exact µs axis, label instant
# excluded), and an expanding lifetime count (ROWS, strictly before).
# ONE shuffle on user_id serves all three — the asof/SCD2/tolerance rows
# each prove a mechanism; this row proves the composition a training-set
# builder runs.
# --------------------------------------------------------------------------
_PIT_7D_US = 604_800_000_000

PIT_MATRIX_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value, ts, epoch_us(ts) AS us
  FROM events
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '{{tsfmt}}') AS ts,
       round(l.value, 2) AS label_value,
       round(coalesce(
         (SELECT p.value FROM e p
          WHERE p.user_id = l.user_id AND p.event_type = 'click'
            AND (p.us < l.us OR (p.us = l.us AND p.event_id < l.event_id))
          ORDER BY p.us DESC, p.event_id DESC LIMIT 1), -1.0), 2)
         AS f_last_click_value,
       (SELECT CAST(count(*) AS BIGINT) FROM e p
        WHERE p.user_id = l.user_id
          AND p.us >= l.us - {_PIT_7D_US} AND p.us <= l.us - 1)
         AS f_activity_7d,
       (SELECT CAST(count(*) AS BIGINT) FROM e p
        WHERE p.user_id = l.user_id
          AND (p.us < l.us OR (p.us = l.us AND p.event_id < l.event_id)))
         AS f_lifetime_events
FROM e l
WHERE l.event_type = 'purchase'
ORDER BY l.event_id
""".format(tsfmt="%Y-%m-%d %H:%M:%S.%f")


@register("warehouse_feature_store_pit_matrix", oracle=PIT_MATRIX_ORACLE)
def warehouse_feature_store_pit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    w_rows = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_range = W.partitionBy("user_id").orderBy("us").rangeBetween(-_PIT_7D_US, -1)
    enriched = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        F.last(
            F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
        ).over(w_rows).alias("f1"),
        F.count(F.lit(1)).over(w_range).alias("f2_incl_self_tie"),
        F.count(F.lit(1)).over(w_rows).alias("f3"),
    )
    # the RANGE frame ends at us - 1, so the label row itself (and any
    # same-instant rows) are excluded by the frame bound directly
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            F.round("value", 2).alias("label_value"),
            F.round(F.coalesce(F.col("f1"), F.lit(-1.0)), 2).alias(
                "f_last_click_value"
            ),
            F.col("f2_incl_self_tie").cast("long").alias("f_activity_7d"),
            F.col("f3").cast("long").alias("f_lifetime_events"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Deletion-vector merge-on-read audit (Delta/Iceberg DV semantics): soft
# deletes land as position/key vectors beside immutable base files; the
# read path anti-joins them, and a maintenance job rewrites any file
# whose DV ratio crosses a threshold. Simulated on the orders table:
# base "files" = order months, DV = the RTBF'd key set (o_orderkey %
# 17 = 3). The audit reports, per file: base/deleted/live rows, the DV
# ratio, and the rewrite flag at 10% — the planning input the compaction
# query (warehouse_compaction_plan) consumes. The anti-join key includes
# the partition, so reconciliation is co-located — no cross-partition
# shuffle at scale.
# --------------------------------------------------------------------------

DV_MOR_ORACLE = """
WITH base AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS part, o_orderkey FROM orders
), dv AS (
  SELECT part, o_orderkey FROM base WHERE o_orderkey % 17 = 3
), stats AS (
  SELECT b.part,
         CAST(count(*) AS BIGINT) AS base_rows,
         CAST(sum(CASE WHEN d.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS deleted_rows
  FROM base b
  LEFT JOIN dv d ON d.part = b.part AND d.o_orderkey = b.o_orderkey
  GROUP BY b.part
)
SELECT part, base_rows, deleted_rows,
       base_rows - deleted_rows AS live_rows,
       round(CAST(deleted_rows AS DOUBLE) / base_rows, 6) AS dv_ratio,
       CASE WHEN deleted_rows > 0.10 * base_rows THEN 1 ELSE 0 END
         AS rewrite_candidate
FROM stats
ORDER BY part
"""


@register("warehouse_deletion_vectors_mor", oracle=DV_MOR_ORACLE)
def warehouse_deletion_vectors_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("part"), "o_orderkey"
    )
    base = materialize(base)  # base + dv branches
    dv = base.filter(F.col("o_orderkey") % 17 == 3).withColumn("_del", F.lit(1))
    stats = (
        base.join(dv, ["part", "o_orderkey"], "left")
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("long").alias("base_rows"),
            F.sum(F.coalesce(F.col("_del"), F.lit(0))).cast("long").alias(
                "deleted_rows"
            ),
        )
    )
    return stats.select(
        "part",
        "base_rows",
        "deleted_rows",
        (F.col("base_rows") - F.col("deleted_rows")).alias("live_rows"),
        F.round(
            F.col("deleted_rows").cast("double") / F.col("base_rows"), 6
        ).alias("dv_ratio"),
        F.when(F.col("deleted_rows") > 0.10 * F.col("base_rows"), 1)
        .otherwise(0)
        .alias("rewrite_candidate"),
    ).orderBy("part")


# --------------------------------------------------------------------------
# Market concentration per region: Herfindahl-Hirschman index + CR4 of
# supplier-nation revenue shares — the antitrust-style "is this market a
# monopoly" rollup the Gini/ABC queries approach from the inequality side.
# EXACT cross-engine: revenue is summed as DECIMAL(18,6), scaled to
# integer micro-units, and HHI = Σrevₙ²/total² + CR4 = top4/total are
# ratios of exact integers (DECIMAL(38,0) / HUGEINT) converted to double
# only for the final division. Top-4 tie-break is (revenue, nationkey).
# Scale: one lineitem⋈supplier broadcast join + 25-row per-region window;
# integer bound holds through total² < 10³⁸ (≈ sf10); past that the swap
# is double shares rounded via floor(x·1e6+0.5).
# --------------------------------------------------------------------------
HHI_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation, n.n_nationkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
              * 1000000 AS HUGEINT) AS micro
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name, n.n_nationkey
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY region
                               ORDER BY micro DESC, n_nationkey) AS rk
  FROM rev
), agg AS (
  SELECT region,
         CAST(count(*) AS BIGINT) AS n_nations,
         sum(micro) AS total,
         sum(micro * micro) AS sumsq,
         sum(CASE WHEN rk <= 4 THEN micro ELSE CAST(0 AS HUGEINT) END) AS top4,
         min(CASE WHEN rk = 1 THEN nation END) AS top_nation
  FROM ranked GROUP BY region
)
SELECT region, n_nations, top_nation,
       round(CAST(sumsq AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS hhi,
       round(CAST(top4 AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cr4
FROM agg ORDER BY region
"""


@register("warehouse_market_concentration", oracle=HHI_ORACLE)
def warehouse_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            reg.r_name.alias("region"),
            nat.n_name.alias("nation"),
            nat.n_nationkey.alias("n_nationkey"),
        )
        .agg(
            (
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                )
                * 1000000
            )
            .cast("decimal(38,0)")
            .alias("micro")
        )
    )
    rk = F.row_number().over(
        W.partitionBy("region").orderBy(F.col("micro").desc(), "n_nationkey")
    )
    ranked = rev.withColumn("rk", rk)
    agg = ranked.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.sum("micro").alias("total"),
        F.sum(F.col("micro") * F.col("micro")).alias("sumsq"),
        F.sum(
            F.when(F.col("rk") <= 4, F.col("micro")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("top4"),
        F.min(F.when(F.col("rk") == 1, F.col("nation"))).alias("top_nation"),
    )
    return agg.select(
        "region",
        "n_nations",
        "top_nation",
        F.round(
            F.col("sumsq").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("hhi"),
        F.round(F.col("top4").cast("double") / F.col("total").cast("double"), 6).alias(
            "cr4"
        ),
    ).orderBy("region")


# --------------------------------------------------------------------------
# Kafka wire-format parse (round 7, VERDICT r6 #8): records come from the
# swappable kafka_records() boundary (sources/kafka.py — synthetic wire
# source in this container, format("kafka") on a cluster with a broker;
# IDENTICAL record schema either way), the JSON envelope parses in one
# from_json projection, and the rollup checks exactly-once-shaped
# bookkeeping per (partition, event_type): row count, high-water offset,
# an order-proof event_id checksum, and an exact DECIMAL value sum. The
# payloads are md5-derived from (topic, partition, offset), so DuckDB
# recomputes every field in SQL — a FULL value oracle for a custom-source
# query (the bars source predates this trick and stays engine-test).
# --------------------------------------------------------------------------
_KW_PARTS, _KW_ROWS = 4, 250

KAFKA_WIRE_ORACLE = f"""
WITH g AS (
  SELECT p.p AS part, o.o AS off,
         md5('events:' || p.p || ':' || o.o) AS h
  FROM (SELECT unnest(generate_series(0, {_KW_PARTS - 1})) AS p) p
  CROSS JOIN (SELECT unnest(generate_series(0, {_KW_ROWS - 1})) AS o) o
), r AS (
  SELECT part, off,
         part * {_KW_ROWS} + off AS event_id,
         ['click','view','error','buy'][
           CAST(('0x' || substr(h, 9, 4))::UBIGINT % 4 AS INTEGER) + 1
         ] AS event_type,
         (('0x' || substr(h, 13, 8))::UBIGINT % 100000) / 100.0 AS value
  FROM g
)
SELECT part AS partition, event_type,
       count(*) AS n,
       max(off) AS max_offset,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM r
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("kafka_wire_events_parse", oracle=KAFKA_WIRE_ORACLE)
def kafka_wire_events_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.kafka import kafka_records, parse_kafka_envelope

    recs = kafka_records(
        spark,
        provider="synthetic",
        topic="events",
        partitions=_KW_PARTS,
        rows_per_partition=_KW_ROWS,
    )
    ev = parse_kafka_envelope(recs)
    return (
        ev.groupBy(F.col("partition").cast("int").alias("partition"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("offset").alias("max_offset"),
            F.sum("event_id").alias("id_sum"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("partition", "event_type")
    )


# --------------------------------------------------------------------------
# Dead-letter channel as a queryable table (round 7, VERDICT r6 #8): the
# reference parks unparseable payloads in an error channel (R24,
# app/main.py error paths; engine side: sources/readers.py PERMISSIVE
# corrupt-record column + badRecordsPath). This query runs the FULL
# route-and-audit loop inside the engine: serialize events to JSON
# envelopes, deterministically corrupt every 7th payload (truncation —
# the classic truncated-producer-write failure), parse back with
# from_json (NULL parsed struct == dead letter), route rows, and emit
# the per-bucket audit a pipeline operator pages on: parsed buckets keep
# exact DECIMAL value sums, the dead-letter bucket reports its count and
# an id-checksum of the quarantined payload keys (provable replay set).
# The oracle classifies by the same modular rule and aggregates the
# ORIGINAL columns — any Spark-side mis-route (a valid payload dead-
# lettered, a corrupt one silently parsed) breaks n/id_sum/sum_value.
# --------------------------------------------------------------------------
DEAD_LETTER_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, value FROM events
), ok AS (
  SELECT event_type AS bucket, count(*) AS n,
         CAST(sum(event_id) AS BIGINT) AS id_sum,
         CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
  FROM base WHERE event_id % 7 <> 0 GROUP BY 1
), dead AS (
  SELECT '__dead_letter__' AS bucket, count(*) AS n,
         CAST(sum(event_id) AS BIGINT) AS id_sum,
         CAST(NULL AS DOUBLE) AS sum_value
  FROM base WHERE event_id % 7 = 0
)
SELECT * FROM ok UNION ALL SELECT * FROM dead ORDER BY bucket
"""


@register("events_dead_letter_audit", oracle=DEAD_LETTER_ORACLE)
def events_dead_letter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    envelope = F.to_json(F.struct("event_id", "event_type", "value"))
    payload = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(envelope, 1, F.length(envelope) - F.lit(2)),
    ).otherwise(envelope)
    parsed = F.from_json(
        payload, "event_id long, event_type string, value double"
    ).alias("p")
    routed = ev.select(F.col("event_id").alias("raw_id"), parsed).select(
        "raw_id", "p.*"
    )
    # ONE pass over the fact table: the dead-letter class is just another
    # group key (parse failure → NULL struct → '__dead_letter__' bucket),
    # so routing + both audits are a single scan + a single shuffle — at
    # 100 TB the two-branch union shape would read the facts twice.
    # id_sum uses the source key for BOTH classes (for parsed rows the
    # round-tripped event_id equals it; for quarantined rows it IS the
    # replay set); sum_value over an all-NULL group is NULL natively.
    bucket = F.coalesce(F.col("event_type"), F.lit("__dead_letter__"))
    return (
        routed.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("raw_id").alias("id_sum"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Transaction-log MERGE + time travel as an oracled query (round 8,
# VERDICT r7 #4): two keyed MERGE commits into a txn-log table
# (sources/tableformat.py) built from `orders` — batch 0 inserts the
# keys with last digit < 5, batch 1 upserts every key (updating digits
# 3-4 with a +1 price bump and a newer version, inserting digits 5-9) —
# then BOTH snapshots are read back via time travel and profiled
# (row count, key checksum, exact decimal price sum). The oracle states
# each snapshot's expected contents straight from `orders`, so a broken
# match condition, a lost insert, a stale-update leak, or a time-travel
# read that sees the wrong file set all break the value hash. Only the
# two profile rows are collected; the table lives in a per-run temp dir
# that is removed after the profile is computed.
# --------------------------------------------------------------------------
TXNLOG_TT_ORACLE = """
WITH s0 AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 10 < 5
), s1 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 >= 3
              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS snapshot,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k % 1000000007) AS BIGINT) AS key_checksum,
       CAST(sum(price) AS DOUBLE) AS sum_price
FROM s0
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(k % 1000000007) AS BIGINT), CAST(sum(price) AS DOUBLE)
FROM s1
ORDER BY snapshot
"""


@register("warehouse_txnlog_time_travel", oracle=TXNLOG_TT_ORACLE)
def warehouse_txnlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import tableformat as TF

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    b0 = orders.filter(F.col("k") % 10 < 5).withColumn("ver", F.lit(1))
    b1 = orders.withColumn(
        "price",
        F.when(F.col("k") % 10 >= 3, F.col("price") + 1).otherwise(
            F.col("price")
        ),
    ).withColumn("ver", F.lit(2))

    tmp = tempfile.mkdtemp(prefix="txnlog_tt_")
    try:
        table = f"{tmp}/orders_txn"
        TF.merge_into(spark, b0, table, ["k"], "ver", batch_id="b0")
        TF.merge_into(spark, b1, table, ["k"], "ver", batch_id="b1")
        rows = []
        for snap in (0, 1):
            r = (
                TF.read_snapshot(spark, table, snap)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("k") % F.lit(1000000007))
                    .cast("long")
                    .alias("key_checksum"),
                    F.sum("price").cast("double").alias("sum_price"),
                )
                .collect()[0]
            )  # one profile row per snapshot — bounded
            rows.append((snap, r["n_rows"], r["key_checksum"], r["sum_price"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "snapshot long, n_rows long, key_checksum long, sum_price double"
    )


# --------------------------------------------------------------------------
# Txn-log CHECKPOINT travel (round 9, closing VERDICT r8 #2 with a full
# oracle on top of the engine tests): drive the maintenance surface the
# checkpoint-skip reader added — two MERGE commits, a CHECKPOINT (log
# compaction + committed-batch-id carry-forward), a POISON replay of an
# already-committed batch id (contents that would shift every price by
# +100 if exactly-once ever regressed across the checkpoint boundary —
# hash-detectable), and a post-checkpoint MERGE. Three snapshot profiles
# come back: the pre-checkpoint snapshot (replayed from log start), the
# checkpoint snapshot itself (must be state-identical to its
# predecessor), and the post-checkpoint merge (whose reader starts AT
# the checkpoint marker — the O(1) path). The oracle recomputes all
# three states from `orders` arithmetic. Reference parity: R16's keyed
# merge (app/alpaca_service.py:190-209) on the production table format,
# maintenance included.
# --------------------------------------------------------------------------

TXNLOG_CKPT_ORACLE = """
WITH s1 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 >= 3
              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
  FROM orders
), s2 AS (
  SELECT k,
         CASE WHEN k % 10 >= 8 THEN price + 10 ELSE price END AS price
  FROM s1
)
SELECT 'ckpt' AS snapshot_label,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k % 1000000007) AS BIGINT) AS key_checksum,
       CAST(sum(price) AS DOUBLE) AS sum_price
FROM s1
UNION ALL
SELECT 'post_ckpt', CAST(count(*) AS BIGINT),
       CAST(sum(k % 1000000007) AS BIGINT), CAST(sum(price) AS DOUBLE)
FROM s2
UNION ALL
SELECT 'pre_ckpt', CAST(count(*) AS BIGINT),
       CAST(sum(k % 1000000007) AS BIGINT), CAST(sum(price) AS DOUBLE)
FROM s1
ORDER BY snapshot_label
"""


@register("warehouse_txnlog_checkpoint_travel", oracle=TXNLOG_CKPT_ORACLE)
def warehouse_txnlog_checkpoint_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import tableformat as TF

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    b0 = orders.filter(F.col("k") % 10 < 5).withColumn("ver", F.lit(1))
    b1 = orders.withColumn(
        "price",
        F.when(F.col("k") % 10 >= 3, F.col("price") + 1).otherwise(
            F.col("price")
        ),
    ).withColumn("ver", F.lit(2))
    poison = b1.withColumn("price", F.col("price") + 100).withColumn(
        "ver", F.lit(9)
    )
    b2 = (
        orders.filter(F.col("k") % 10 >= 8)
        .withColumn(
            "price",
            F.when(F.col("k") % 10 >= 3, F.col("price") + 1).otherwise(
                F.col("price")
            )
            + 10,
        )
        .withColumn("ver", F.lit(3))
    )

    tmp = tempfile.mkdtemp(prefix="txnlog_ckpt_")
    try:
        table = f"{tmp}/orders_txn"
        TF.merge_into(spark, b0, table, ["k"], "ver", batch_id="b0")
        pre = TF.merge_into(spark, b1, table, ["k"], "ver", batch_id="b1")
        ckpt = TF.checkpoint(spark, table)
        # exactly-once across the checkpoint: "b1" rides the checkpoint's
        # carried batch-id set, so the poison batch must short-circuit
        TF.merge_into(spark, poison, table, ["k"], "ver", batch_id="b1")
        post = TF.merge_into(spark, b2, table, ["k"], "ver", batch_id="b2")
        rows = []
        for label, snap in (("pre_ckpt", pre), ("ckpt", ckpt), ("post_ckpt", post)):
            r = (
                TF.read_snapshot(spark, table, snap)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("k") % F.lit(1000000007))
                    .cast("long")
                    .alias("key_checksum"),
                    F.sum("price").cast("double").alias("sum_price"),
                )
                .collect()[0]
            )  # one profile row per snapshot — bounded
            rows.append((label, r["n_rows"], r["key_checksum"], r["sum_price"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "snapshot_label string, n_rows long, key_checksum long, sum_price double",
    ).orderBy("snapshot_label")
