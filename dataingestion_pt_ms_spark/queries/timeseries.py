"""Time-series operators over ``events`` (SURVEY.md §2.B as-of join, OHLC
re-aggregation, sessionization, tumbling/sliding windows + the
reference-shaped ingest queries).

Reference parity: OHLC re-aggregation implements the timeframe coarsening the
reference's ``timeframe`` enum implies (``app/config.py:62-71``); the as-of
join is the "latest bar at or before t" lookup of the reference's time-series
model (SURVEY.md §1.1); ``ingest_normalize_events`` reproduces the R6-R15
normalize chain (rename→project→tz-normalize→ISO-format,
``app/alpaca_service.py:138-162``) as one select; ``ingest_run_summary``
reproduces the R18-R20 run summary with min/max done correctly
(order-independent — the reference relied on source order, ``:246-247``).

Determinism: every window orders by ``(ts, event_id)`` (event_id unique);
the as-of join uses a RANGE frame so timestamp ties behave identically to
the oracle's correlated ``max`` subquery.

Scale notes: the as-of join is one shuffle on the partition key + a window —
no per-row subquery; sessionization is lag + cumulative-sum islands (two
window passes over one shuffle); tumbling/sliding windows assign buckets
arithmetically (no join against a calendar table). Streaming variants of
these (watermarked, stateful) live in ``streaming/`` with engine-side tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import materialize
from . import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# --------------------------------------------------------------------------
# As-of join: for every event, the most recent purchase by the same user at
# or before its timestamp. RANGE frame ⇒ same tie semantics as the oracle's
# correlated max() subquery.
# --------------------------------------------------------------------------
ASOF_ORACLE = f"""
SELECT e.event_id, e.user_id, e.event_type,
       strftime(e.ts, '{_TS_FMT_DUCK}') AS ts,
       coalesce(strftime(
         (SELECT max(p.ts) FROM events p
          WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts),
         '{_TS_FMT_DUCK}'), '') AS last_purchase_ts
FROM events e
"""


@register("asof_join_last_purchase", oracle=ASOF_ORACLE)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    last_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("ts"),
        F.coalesce(F.date_format(last_purchase, _TS_FMT), F.lit("")).alias("last_purchase_ts"),
    )


# --------------------------------------------------------------------------
# OHLC re-aggregation: finest events → daily bars per event_type.
# first/last via dual row_number (deterministic under ties), not
# first()/last() (order-dependent in Spark).
# --------------------------------------------------------------------------
OHLC_ORACLE = """
WITH t AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date, value, ts, event_id
  FROM events
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar_date ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bar_date ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
)
SELECT event_type, bar_date,
       round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
       round(sum(value), 2) AS volume,
       count(*) AS n_events
FROM r
GROUP BY event_type, bar_date
ORDER BY event_type, bar_date
"""


@register("ohlc_daily_resample", oracle=OHLC_ORACLE)
def ohlc_daily_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    w_asc = W.partitionBy("event_type", "bar_date").orderBy("ts", "event_id")
    w_desc = W.partitionBy("event_type", "bar_date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_date")
        .agg(
            F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 2).alias("close"),
            F.round(F.sum("value"), 2).alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type", "bar_date")
    )


# --------------------------------------------------------------------------
# Sessionization (batch): lag + gap>30min → island ids per user.
# --------------------------------------------------------------------------
SESSION_ORACLE = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
       strftime(max(ts), '{_TS_FMT_DUCK}') AS session_end,
       count(*) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
FROM s
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


@register("events_sessionize_gap30m", oracle=SESSION_ORACLE)
def events_sessionize_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    w_cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_idx", F.sum("is_new").over(w_cum))
        .groupBy("user_id", "session_idx")
        .agg(
            F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
            F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("duration_sec"),
        )
        .orderBy("user_id", "session_idx")
    )


# --------------------------------------------------------------------------
# Tumbling window aggregation (6-hour buckets) — batch twin of the
# streaming groupBy(window(...)) (streaming/ has the watermarked variant).
# --------------------------------------------------------------------------
TUMBLE_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


@register("events_tumbling_6h", oracle=TUMBLE_ORACLE)
def events_tumbling_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Sliding window aggregation (1 hour wide, 30 min slide): every event lands
# in exactly 2 windows; the oracle materializes both via a 2-row fan-out.
# --------------------------------------------------------------------------
SLIDE_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(k)
GROUP BY window_start
ORDER BY window_start
"""


@register("events_sliding_1h_30m", oracle=SLIDE_ORACLE)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# Ingest normalization — the reference's R6-R15 transform chain as ONE
# declarative select over events-as-raw-bars: rename, project, cast,
# tz-normalized ISO format, composite upsert key (R14), audit column shape.
# --------------------------------------------------------------------------
NORMALIZE_ORACLE = """
SELECT event_id AS bar_id,
       user_id AS asset_id,
       upper(event_type) AS bar_kind,
       CAST(value AS DOUBLE) AS price,
       strftime(ts, '%Y%m%dT%H%M%SZ') || '_' || event_type AS upsert_key,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso
FROM events
WHERE user_id IS NOT NULL
"""


@register("ingest_normalize_events", oracle=NORMALIZE_ORACLE)
def ingest_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Mirrors reference app/alpaca_service.py:138-162 + :194 (upsert key) in
    # one Catalyst-optimized projection; the null-key guard is R4 (:107-109).
    return ev.filter(F.col("user_id").isNotNull()).select(
        F.col("event_id").alias("bar_id"),
        F.col("user_id").alias("asset_id"),
        F.upper("event_type").alias("bar_kind"),
        F.col("value").cast("double").alias("price"),
        F.concat_ws(
            "_", F.date_format("ts", "yyyyMMdd'T'HHmmss'Z'"), F.col("event_type")
        ).alias("upsert_key"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
    )


# --------------------------------------------------------------------------
# Ingest run summary — R18-R20 done right: per-key counters + min/max
# timestamps (order-independent) + the JSON event envelope string.
# --------------------------------------------------------------------------
SUMMARY_ORACLE = """
SELECT event_type AS asset_kind,
       count(*) AS bars_count,
       strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS start_timestamp_utc,
       strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS end_timestamp_utc,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Status serving — the reference's GET "/" projection (R21/R22,
# ``app/main.py:103-117``) over the run-status record, rebuilt from data
# instead of a mutable global (``app/alpaca_service.py:19-25``). The
# reference's ``bars_count`` was vestigial (always 0 — the ``bars`` key was
# removed in the multi-asset rewrite, SURVEY.md §1.4); here it serves the
# old-shape intent correctly: rows belonging to the latest ingest day.
# --------------------------------------------------------------------------
STATUS_ORACLE = """
SELECT strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_attempt_timestamp_utc,
       strftime(max(CASE WHEN event_type <> 'error' THEN ts END),
                '%Y-%m-%dT%H:%M:%SZ') AS last_success_timestamp_utc,
       count(DISTINCT user_id) AS assets_processed_count,
       CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS total_bars_saved_in_last_run,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS error_count,
       (SELECT count(*) FROM events
        WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events))
           AS bars_count
FROM events
"""


@register("ingest_status_serving", oracle=STATUS_ORACLE)
def ingest_status_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row status record (GET "/" shape): last attempt/success
    timestamps, per-run counters, error channel count (R24), plus
    bars_count = rows of the latest ingest day (R21's projection with the
    vestigial-field bug fixed). All single-pass aggregates + one broadcast
    of the one-row latest-day frame — serving-layer cheap at any scale."""
    iso = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    ev = load_table(spark, sf_dir, "events")
    status = ev.agg(
        F.date_format(F.max("ts"), iso).alias("last_attempt_timestamp_utc"),
        F.date_format(
            F.max(F.when(F.col("event_type") != "error", F.col("ts"))), iso
        ).alias("last_success_timestamp_utc"),
        F.countDistinct("user_id").alias("assets_processed_count"),
        F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0))
        .cast("long")
        .alias("total_bars_saved_in_last_run"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("error_count"),
    )
    last_day = ev.agg(F.max(F.to_date("ts")).alias("_d"))
    bars_count = (
        ev.join(F.broadcast(last_day), F.to_date("ts") == F.col("_d"))
        .agg(F.count(F.lit(1)).alias("bars_count"))
    )
    return status.crossJoin(F.broadcast(bars_count))


@register("ingest_run_summary", oracle=SUMMARY_ORACLE)
def ingest_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("event_type").alias("asset_kind"))
        .agg(
            F.count(F.lit(1)).alias("bars_count"),
            F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("start_timestamp_utc"),
            F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("end_timestamp_utc"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("asset_kind")
    )


# --------------------------------------------------------------------------
# Hypertable-style gap-fill: resample each user's events to an hourly grid
# (missing buckets synthesized), then fill gaps two ways — LOCF and linear
# interpolation between the surrounding observations. The grid is generated
# arithmetically per user (sequence/explode — no calendar table, no join
# against anything global), and both fills plus the interpolation anchors
# come out of ONE shuffle on user_id (two frame passes over the same sort).
# Grid edges are always observed rows (the span is min..max observed hour),
# so every gap has both anchors.
# --------------------------------------------------------------------------
GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 6) AS avg_value
  FROM events WHERE user_id < 20 GROUP BY 1, 2
), span AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span
), joined AS (
  SELECT g.user_id, g.h, o.avg_value,
         last_value(o.avg_value IGNORE NULLS) OVER wb AS locf,
         last_value(CASE WHEN o.avg_value IS NOT NULL THEN g.h END IGNORE NULLS)
           OVER wb AS prev_h,
         first_value(o.avg_value IGNORE NULLS) OVER wf AS next_v,
         first_value(CASE WHEN o.avg_value IS NOT NULL THEN g.h END IGNORE NULLS)
           OVER wf AS next_h
  FROM grid g LEFT JOIN obs o USING (user_id, h)
  WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY g.user_id ORDER BY g.h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(h, '{_TS_FMT_DUCK}') AS hour_ts, avg_value,
       locf AS value_locf,
       CASE WHEN avg_value IS NOT NULL THEN avg_value
            ELSE locf + (next_v - locf)
                 * ((epoch(h) - epoch(prev_h))
                    / (epoch(next_h) - epoch(prev_h))) END AS value_interp,
       avg_value IS NULL AS is_gap
FROM joined
ORDER BY user_id, hour_ts
"""


@register("timeseries_gapfill_interpolate", oracle=GAPFILL_ORACLE)
def timeseries_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of events (users < 20) with synthesized gap buckets,
    filled by LOCF and by linear interpolation between the neighboring
    observations (the hypertable ``time_bucket_gapfill`` + ``locf`` +
    ``interpolate`` trio, Spark-native)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.avg("value"), 6).alias("avg_value"))
    span = obs.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    j = grid.join(obs, ["user_id", "h"], "left")
    wb = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_h = F.when(F.col("avg_value").isNotNull(), F.col("h"))
    locf = F.last("avg_value", ignorenulls=True).over(wb)
    prev_h = F.last(obs_h, ignorenulls=True).over(wb)
    next_v = F.first("avg_value", ignorenulls=True).over(wf)
    next_h = F.first(obs_h, ignorenulls=True).over(wf)
    frac = (F.col("h").cast("long") - prev_h.cast("long")) / (
        next_h.cast("long") - prev_h.cast("long")
    )
    # per-row derived double: NOT rounded — the inputs (6-dp-rounded
    # aggregates, exact-integer epoch quotient) are bit-identical across
    # engines, and the expression order matches the oracle's parenthesized
    # form, so the IEEE result is bit-identical too (rounding here would
    # *create* half-boundary mismatches — see queries/__init__.py policy).
    interp = F.when(F.col("avg_value").isNotNull(), F.col("avg_value")).otherwise(
        locf + (next_v - locf) * frac
    )
    return j.select(
        "user_id",
        F.date_format("h", _TS_FMT).alias("hour_ts"),
        "avg_value",
        locf.alias("value_locf"),
        interp.alias("value_interp"),
        F.col("avg_value").isNull().alias("is_gap"),
    ).orderBy("user_id", "hour_ts")


# --------------------------------------------------------------------------
# SCD2 history build: compress each user's event stream into state
# intervals (consecutive same event_type runs), valid_from/valid_to
# half-open, NULL-terminated current row — the warehouse
# slowly-changing-dimension type-2 shape, built with lag → island-sum →
# per-island agg → lead: three window passes + one agg over a single
# shuffle on user_id.
# --------------------------------------------------------------------------
SCD2_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM ordered
), hist AS (
  SELECT user_id, CAST(island AS BIGINT) AS island, min(event_type) AS state,
         min(ts) AS vf, count(*) AS n_events
  FROM islands GROUP BY user_id, island
)
SELECT user_id, island, state,
       strftime(vf, '{_TS_FMT_DUCK}') AS valid_from,
       coalesce(strftime(lead(vf) OVER wi, '{_TS_FMT_DUCK}'), '') AS valid_to,
       n_events,
       lead(vf) OVER wi IS NULL AS is_current
FROM hist
WINDOW wi AS (PARTITION BY user_id ORDER BY island)
ORDER BY user_id, island
"""


@register("events_scd2_history", oracle=SCD2_ORACLE)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history of each user's event_type
    state: one row per consecutive-state run with half-open validity."""
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    lag_t = F.lag("event_type").over(wo)
    chg = F.when(
        lag_t.isNull() | (lag_t != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    islands = ev.select(
        "user_id", "event_type", "ts", F.sum(chg).over(wrun).alias("island")
    )
    hist = islands.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("vf"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wi = W.partitionBy("user_id").orderBy("island")
    nxt = F.lead("vf").over(wi)
    return hist.select(
        "user_id",
        "island",
        "state",
        F.date_format("vf", _TS_FMT).alias("valid_from"),
        F.coalesce(F.date_format(nxt, _TS_FMT), F.lit("")).alias("valid_to"),
        "n_events",
        nxt.isNull().alias("is_current"),
    ).orderBy("user_id", "island")


# --------------------------------------------------------------------------
# Ordered funnel: how many users progressed view → click → purchase in
# timestamp order. Stage anchors are per-user window minima computed in
# three chained passes over ONE shuffle on user_id (each stage's predicate
# references the previous anchor, constant within the partition).
# --------------------------------------------------------------------------
FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t_view
                  THEN e.ts END) AS t_click
  FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t_click
                  THEN e.ts END) AS t_purchase
  FROM events e JOIN s2 USING (user_id) GROUP BY e.user_id
)
SELECT count(*) AS n_users,
       count(s1.t_view) AS reached_view,
       count(s2.t_click) AS reached_click,
       count(s3.t_purchase) AS reached_purchase
FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
"""


@register("events_funnel_stages", oracle=FUNNEL_ORACLE)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view → click → purchase) with per-user
    stage anchors as chained window minima — no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    tv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("t_view", tv)
    tc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", tc)
    tp = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", tp)
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )


# --------------------------------------------------------------------------
# Anomaly flagging: z-score of event value against its event_type
# population (the monitoring query a pipeline runs over its own event
# stream). One window shuffle on event_type; at scale the mean/std pairs
# are a tiny broadcast side-table instead (groupBy + join), same semantics.
# --------------------------------------------------------------------------
ANOMALY_ORACLE = """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round((e.value - s.mu) / s.sigma, 4) AS z,
       CAST(abs((e.value - s.mu) / s.sigma) > 2.5 AS BOOLEAN) AS is_anomaly
FROM events e JOIN stats s USING (event_type)
WHERE s.sigma > 0
ORDER BY e.event_id
"""


@register("events_anomaly_zscore", oracle=ANOMALY_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select(
            "event_id",
            "event_type",
            F.round(z, 4).alias("z"),
            (F.abs(z) > 2.5).alias("is_anomaly"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, counted in each
# later week they return. Two shuffles (user-level min, then cohort-cell
# distinct count); the (user, week) activity grid is deduped before the
# count so heavy event users don't skew exchange volume.
# --------------------------------------------------------------------------
RETENTION_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), cohort AS (
  SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id
)
SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', c.cohort_wk, a.wk) // 7 AS BIGINT) AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@register("events_retention_cohorts", oracle=RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cohort_wk").cast("long") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Percentile bands over time (the P50/P95/P99-per-hour observability query):
# time-bucketed exact quantiles of event value. One shuffle on the hour
# bucket; the approx_percentile variant (see text_quantile_filter_approx)
# is the same shape with a mergeable sketch for the 100 TB path.
# --------------------------------------------------------------------------
PCT_BANDS_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_bucket,
       count(*) AS n_events,
       round(quantile_cont(value, 0.50), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY hour_bucket
ORDER BY hour_bucket
"""


@register("events_percentile_bands_hourly", oracle=PCT_BANDS_ORACLE)
def events_percentile_bands_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "hour_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("hour_bucket")
    )


# --------------------------------------------------------------------------
# DAU/MAU stickiness: per-month ratio of average daily active users to
# monthly active users — the classic engagement metric. Two distinct-count
# passes at different grains plus a broadcast join on month; no windowed
# COUNT DISTINCT needed (Spark doesn't support exact distinct over a
# window frame — the grain-then-join formulation is the scalable form).
# --------------------------------------------------------------------------
STICKINESS_ORACLE = """
WITH dau AS (
  SELECT date_trunc('day', ts) AS d, count(DISTINCT user_id) AS n
  FROM events GROUP BY d
), mau AS (
  SELECT date_trunc('month', ts) AS m, count(DISTINCT user_id) AS n
  FROM events GROUP BY m
)
SELECT strftime(mau.m, '%Y-%m') AS month,
       round(avg(CAST(dau.n AS DOUBLE)), 4) AS avg_dau,
       CAST(mau.n AS BIGINT) AS mau,
       floor(avg(CAST(dau.n AS DOUBLE)) / mau.n * 1000000 + 0.5) / 1000000
         AS stickiness
FROM dau JOIN mau ON date_trunc('month', dau.d) = mau.m
GROUP BY month, mau.n
ORDER BY month
"""


@register("events_dau_mau_stickiness", oracle=STICKINESS_ORACLE)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.countDistinct("user_id").alias("dau_n")
    )
    mau = ev.groupBy(F.date_trunc("month", "ts").alias("m")).agg(
        F.countDistinct("user_id").alias("mau_n")
    )
    joined = dau.join(
        F.broadcast(mau), F.date_trunc("month", F.col("d")) == F.col("m")
    )
    return (
        joined.groupBy(
            F.date_format("m", "yyyy-MM").alias("month"), F.col("mau_n")
        )
        .agg(F.avg(F.col("dau_n").cast("double")).alias("_avg_raw"))
        .select(
            "month",
            F.round("_avg_raw", 4).alias("avg_dau"),
            F.col("mau_n").alias("mau"),
            # stickiness derives from the UNROUNDED average, like the oracle
            (
                F.floor(F.col("_avg_raw") / F.col("mau_n") * 1_000_000 + F.lit(0.5))
                / 1_000_000
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Event-type Markov transition matrix: P(next_type | type) from per-user
# ordered event streams — the sequence-model summary behind funnel and
# session analyses. One window shuffle on user_id for the lead, then an
# O(types²)-output aggregation.
# --------------------------------------------------------------------------
TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), t AS (
  SELECT event_type, next_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), rowsum AS (
  SELECT event_type, sum(n) AS total FROM t GROUP BY event_type
)
SELECT t.event_type, t.next_type, t.n,
       floor(CAST(t.n AS DOUBLE) / rowsum.total * 1000000 + 0.5) / 1000000
         AS p_transition
FROM t JOIN rowsum USING (event_type)
ORDER BY t.event_type, t.next_type
"""


@register("events_markov_transitions", oracle=TRANSITION_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    rowsum = t.groupBy("event_type").agg(F.sum("n").alias("total"))
    return (
        t.join(F.broadcast(rowsum), "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            (
                F.floor(F.col("n").cast("double") / F.col("total") * 1_000_000 + F.lit(0.5))
                / 1_000_000
            ).alias("p_transition"),
        )
        .orderBy("event_type", "next_type")
    )


# --------------------------------------------------------------------------
# Day-of-week seasonality index: avg daily event volume per weekday divided
# by the overall daily average — the profile that says "Mondays run 1.3×".
# Two fixed-size aggregations (daily grain → 7-row profile) plus one
# broadcast scalar; index uses the shared floor-trick rounding. dayofweek
# is ISO-numbered identically via Spark dayofweek ≡ DuckDB dayofweek + 1
# alignment handled by computing it the same way on both sides.
# --------------------------------------------------------------------------
DOW_SEASONALITY_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1
),
per_dow AS (
  SELECT CAST(isodow(day) AS BIGINT) AS iso_dow,
         CAST(count(*) AS BIGINT) AS n_days,
         floor(avg(CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS avg_events
  FROM daily GROUP BY 1
),
overall AS (SELECT avg(CAST(c AS DOUBLE)) AS oa FROM daily)
SELECT iso_dow, n_days, avg_events,
       floor(avg_events / oa * 1e6 + 0.5) / 1e6 AS seasonality_index
FROM per_dow CROSS JOIN overall
ORDER BY iso_dow
"""


@register("events_dow_seasonality", oracle=DOW_SEASONALITY_ORACLE)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    # ISO weekday (Mon=1..Sun=7): Spark dayofweek is Sun=1..Sat=7
    iso = ((F.dayofweek("day") + 5) % 7 + 1).cast("long")
    per = daily.groupBy(iso.alias("iso_dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        _r6(F.avg(F.col("c").cast("double"))).alias("avg_events"),
    )
    overall = daily.agg(F.avg(F.col("c").cast("double")).alias("oa"))
    return (
        per.crossJoin(F.broadcast(overall))
        .select(
            "iso_dow",
            "n_days",
            "avg_events",
            _r6(F.col("avg_events") / F.col("oa")).alias("seasonality_index"),
        )
        .orderBy("iso_dow")
    )


# --------------------------------------------------------------------------
# Interval-concurrency curve ("shipments in transit per day"): classic
# sweep-line counting — +1 delta at each interval start, −1 the day after
# it ends, prefix-sum the deltas in day order, roll up to monthly peak/avg.
# The prefix sum is operators/ranking.py:global_running_sum (range
# partition + broadcast offsets — no single-reducer window even if the day
# grain were huge); everything else is fixed-grain aggregation. Transit
# time is synthesized deterministically (1 + l_orderkey % 14 days) since
# the fixture has no receipt date — swap for the real end column in
# production. Beyond-reference [NS].
# --------------------------------------------------------------------------
TRANSIT_CONCURRENCY_ORACLE = """
WITH iv AS (
  SELECT CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + CAST(1 + l_orderkey % 14 AS INTEGER) AS e
  FROM lineitem
),
deltas AS (
  SELECT s AS day, 1 AS d FROM iv
  UNION ALL
  SELECT e + 1 AS day, -1 AS d FROM iv
),
daily AS (SELECT day, CAST(sum(d) AS BIGINT) AS dd FROM deltas GROUP BY day),
cum AS (
  SELECT day,
         CAST(sum(dd) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS in_transit
  FROM daily
)
SELECT strftime(date_trunc('month', day), '%Y-%m') AS month,
       CAST(max(in_transit) AS BIGINT) AS peak_in_transit,
       floor(avg(CAST(in_transit AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS avg_in_transit
FROM cum GROUP BY month ORDER BY month
"""


@register("lineitem_transit_concurrency", oracle=TRANSIT_CONCURRENCY_ORACLE)
def lineitem_transit_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (F.lit(1) + F.col("l_orderkey") % 14).cast("int"),
        ).alias("e"),
    )
    deltas = li.select(F.col("s").alias("day"), F.lit(1).alias("d")).unionByName(
        li.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("dd"))
    cum = global_running_sum(daily, "dd", ["day"], out_col="in_transit")
    return (
        cum.groupBy(F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month"))
        .agg(
            F.max("in_transit").cast("long").alias("peak_in_transit"),
            (
                F.floor(
                    F.avg(F.col("in_transit").cast("double")) * F.lit(1e6) + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("avg_in_transit"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Bollinger bands over the resampled daily bars — the reference-domain
# technical indicator (its OHLCV bars are exactly this input,
# app/alpaca_service.py:125-162): 20-bar rolling mean ± 2σ of the close,
# per symbol (event_type stands in). ROWS-frame windows partitioned by
# symbol — never global; bars with fewer than 2 trailing rows yield NULL
# bands (sample stddev undefined), which both engines agree on. The close
# itself reuses the dual-row_number last-event convention of
# ohlc_daily_resample.
# --------------------------------------------------------------------------
BOLLINGER_ORACLE = """
WITH t AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date,
         value, ts, event_id
  FROM events
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar_date
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
), bars AS (
  SELECT event_type, bar_date,
         max(CASE WHEN rn_d = 1 THEN value END) AS close
  FROM r GROUP BY event_type, bar_date
), bands AS (
  SELECT event_type, bar_date, round(close, 2) AS close,
         round(avg(close) OVER w, 6) AS mid,
         round(avg(close) OVER w + 2 * stddev_samp(close) OVER w, 6) AS upper,
         round(avg(close) OVER w - 2 * stddev_samp(close) OVER w, 6) AS lower
  FROM bars
  WINDOW w AS (PARTITION BY event_type ORDER BY bar_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT * FROM bands ORDER BY event_type, bar_date
"""


@register("ohlc_bollinger_bands", oracle=BOLLINGER_ORACLE)
def ohlc_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    w_desc = W.partitionBy("event_type", "bar_date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bars = (
        ev.withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_date")
        .agg(F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("bar_date")
        .rowsBetween(-19, 0)
    )
    mid = F.avg("close").over(w)
    sd = F.stddev_samp("close").over(w)
    return bars.select(
        "event_type",
        "bar_date",
        F.round("close", 2).alias("close"),
        F.round(mid, 6).alias("mid"),
        F.round(mid + 2 * sd, 6).alias("upper"),
        F.round(mid - 2 * sd, 6).alias("lower"),
    ).orderBy("event_type", "bar_date")


# --------------------------------------------------------------------------
# SMA-RSI (14-bar) and running max-drawdown per symbol — two more
# reference-domain indicators over the same daily-close bars. RSI here is
# the SMA variant (Wilder's smoothing is a recursive fold — not expressible
# as a window; the truncated-EWMA pattern in queries/drift.py is the
# engine's answer for that class): gain/lag deltas → 14-bar ROWS-window
# averages → 100 − 100/(1+RS), with the all-gain (RS → ∞) edge pinned to
# 100 in both engines. Drawdown = close / running-max(close) − 1, running
# min of that — all windows partitioned by symbol.
# --------------------------------------------------------------------------
RSI_DRAWDOWN_ORACLE = """
WITH t AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date,
         value, ts, event_id
  FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, bar_date
                               ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
), bars AS (
  SELECT event_type, bar_date,
         max(CASE WHEN rn_d = 1 THEN value END) AS close
  FROM r GROUP BY event_type, bar_date
), d AS (
  SELECT event_type, bar_date, close,
         close - lag(close) OVER ws AS delta,
         max(close) OVER wc AS run_max
  FROM bars
  WINDOW ws AS (PARTITION BY event_type ORDER BY bar_date),
         wc AS (PARTITION BY event_type ORDER BY bar_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), g AS (
  SELECT event_type, bar_date, close, run_max,
         avg(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w14 AS avg_gain,
         avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w14 AS avg_loss
  FROM d
  WINDOW w14 AS (PARTITION BY event_type ORDER BY bar_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, bar_date,
       CASE WHEN avg_loss = 0 THEN 100.0
            ELSE round(100.0 - 100.0 / (1.0 + avg_gain / avg_loss), 6) END AS rsi,
       round(min(close / run_max - 1.0) OVER (
         PARTITION BY event_type ORDER BY bar_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS max_drawdown
FROM g
ORDER BY event_type, bar_date
"""


@register("ohlc_rsi_drawdown", oracle=RSI_DRAWDOWN_ORACLE)
def ohlc_rsi_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    w_desc = W.partitionBy("event_type", "bar_date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bars = (
        ev.withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_date")
        .agg(F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"))
    )
    ws = W.partitionBy("event_type").orderBy("bar_date")
    wc = ws.rowsBetween(W.unboundedPreceding, W.currentRow)
    w14 = ws.rowsBetween(-13, 0)
    d = bars.select(
        "event_type",
        "bar_date",
        "close",
        (F.col("close") - F.lag("close").over(ws)).alias("delta"),
        F.max("close").over(wc).alias("run_max"),
    )
    g = d.select(
        "event_type",
        "bar_date",
        "close",
        "run_max",
        F.avg(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0.0))
        .over(w14)
        .alias("avg_gain"),
        F.avg(F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0.0))
        .over(w14)
        .alias("avg_loss"),
    )
    rsi = F.when(F.col("avg_loss") == 0, F.lit(100.0)).otherwise(
        F.round(
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("avg_gain") / F.col("avg_loss")),
            6,
        )
    )
    dd = F.round(
        F.min(F.col("close") / F.col("run_max") - F.lit(1.0)).over(wc), 6
    )
    return g.select(
        "event_type", "bar_date", rsi.alias("rsi"), dd.alias("max_drawdown")
    ).orderBy("event_type", "bar_date")


# --------------------------------------------------------------------------
# Cross-symbol correlation matrix: Pearson corr of daily closes between
# every symbol pair over their shared days — the pairs-trading screen.
# Day-aligned self-join keyed on bar_date (grain = days, never events),
# pair space = symbols², sample-corr formula written identically in both
# engines (agg_corr_covar discipline), final-only rounding.
# --------------------------------------------------------------------------
SYMBOL_CORR_ORACLE = """
WITH t AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date,
         value, ts, event_id
  FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, bar_date
                               ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
), bars AS (
  SELECT event_type, bar_date,
         max(CASE WHEN rn_d = 1 THEN value END) AS close
  FROM r GROUP BY event_type, bar_date
)
SELECT a.event_type AS sym_a, b.event_type AS sym_b,
       CAST(count(*) AS BIGINT) AS n_days,
       round((sum(a.close * b.close) - sum(a.close) * sum(b.close) / count(*))
             / sqrt((sum(a.close * a.close) - sum(a.close) * sum(a.close) / count(*))
                    * (sum(b.close * b.close) - sum(b.close) * sum(b.close) / count(*))),
             6) AS corr
FROM bars a JOIN bars b
  ON a.bar_date = b.bar_date AND a.event_type < b.event_type
GROUP BY sym_a, sym_b
ORDER BY sym_a, sym_b
"""


@register("ohlc_symbol_correlation", oracle=SYMBOL_CORR_ORACLE)
def ohlc_symbol_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    w_desc = W.partitionBy("event_type", "bar_date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bars = (
        ev.withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_date")
        .agg(F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"))
    )
    bars = materialize(bars)  # both join sides
    a = bars.select(
        F.col("event_type").alias("sym_a"), "bar_date", F.col("close").alias("ca")
    )
    b = bars.select(
        F.col("event_type").alias("sym_b"), "bar_date", F.col("close").alias("cb")
    )
    j = a.join(b, "bar_date").filter(F.col("sym_a") < F.col("sym_b"))
    n = F.count(F.lit(1))
    num = F.sum(F.col("ca") * F.col("cb")) - F.sum("ca") * F.sum("cb") / n
    va = F.sum(F.col("ca") * F.col("ca")) - F.sum("ca") * F.sum("ca") / n
    vb = F.sum(F.col("cb") * F.col("cb")) - F.sum("cb") * F.sum("cb") / n
    return (
        j.groupBy("sym_a", "sym_b")
        .agg(
            n.alias("n_days"),
            F.round(num / F.sqrt(va * vb), 6).alias("corr"),
        )
        .orderBy("sym_a", "sym_b")
    )


# --------------------------------------------------------------------------
# Daily → weekly bar re-aggregation — the reference's Week timeframe
# (app/config.py:62-71 enumerates Minute/Hour/Day/Week/Month): weekly
# open = first daily open, close = last daily close (by bar_date order
# within the ISO week), high/low = extrema, volume = sum. Same dual
# row_number convention as ohlc_daily_resample, one more grouping level —
# the generic timeframe-rollup shape that covers Month too.
# --------------------------------------------------------------------------
WEEKLY_BARS_ORACLE = """
WITH t AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date,
         value, ts, event_id
  FROM events
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar_date ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bar_date ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
), daily AS (
  SELECT event_type, bar_date,
         max(CASE WHEN rn_a = 1 THEN value END) AS open,
         max(value) AS high, min(value) AS low,
         max(CASE WHEN rn_d = 1 THEN value END) AS close,
         sum(value) AS volume
  FROM r GROUP BY event_type, bar_date
), wk AS (
  SELECT *,
         strftime(date_trunc('week', CAST(bar_date AS DATE)), '%Y-%m-%d') AS week_start,
         row_number() OVER (PARTITION BY event_type,
                            date_trunc('week', CAST(bar_date AS DATE))
                            ORDER BY bar_date) AS wrn_a,
         row_number() OVER (PARTITION BY event_type,
                            date_trunc('week', CAST(bar_date AS DATE))
                            ORDER BY bar_date DESC) AS wrn_d
  FROM daily
)
SELECT event_type, week_start,
       round(max(CASE WHEN wrn_a = 1 THEN open END), 2) AS open,
       round(max(high), 2) AS high,
       round(min(low), 2) AS low,
       round(max(CASE WHEN wrn_d = 1 THEN close END), 2) AS close,
       round(sum(volume), 2) AS volume,
       CAST(count(*) AS BIGINT) AS n_days
FROM wk GROUP BY event_type, week_start
ORDER BY event_type, week_start
"""


@register("ohlc_weekly_rollup", oracle=WEEKLY_BARS_ORACLE)
def ohlc_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    w_asc = W.partitionBy("event_type", "bar_date").orderBy("ts", "event_id")
    w_desc = W.partitionBy("event_type", "bar_date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_date")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.sum("value").alias("volume"),
        )
    )
    wk_key = F.date_trunc("week", F.col("bar_date").cast("date"))
    ww_a = W.partitionBy("event_type", wk_key).orderBy("bar_date")
    ww_d = W.partitionBy("event_type", wk_key).orderBy(F.col("bar_date").desc())
    wk = (
        daily.withColumn("week_start", F.date_format(wk_key, "yyyy-MM-dd"))
        .withColumn("wrn_a", F.row_number().over(ww_a))
        .withColumn("wrn_d", F.row_number().over(ww_d))
    )
    return (
        wk.groupBy("event_type", "week_start")
        .agg(
            F.round(F.max(F.when(F.col("wrn_a") == 1, F.col("open"))), 2).alias("open"),
            F.round(F.max("high"), 2).alias("high"),
            F.round(F.min("low"), 2).alias("low"),
            F.round(F.max(F.when(F.col("wrn_d") == 1, F.col("close"))), 2).alias("close"),
            F.round(F.sum("volume"), 2).alias("volume"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("event_type", "week_start")
    )


# --------------------------------------------------------------------------
# Round-4 indicator family over daily bars (reference domain: the OHLCV
# bars app/alpaca_service.py:125-162 ingests — here re-derived from events
# by the ohlc_daily_resample shape, then classic technical indicators as
# per-symbol window functions; every window partitions by event_type so
# nothing is ever global). Shared CTE builds UNROUNDED bars (identical
# doubles both engines); only final indicator columns round.
# --------------------------------------------------------------------------
_DAILY_BARS_CTE = """
t AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date,
         value, ts, event_id
  FROM events
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar_date ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bar_date ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
), bars AS (
  SELECT event_type, bar_date,
         max(CASE WHEN rn_a = 1 THEN value END) AS open,
         max(value) AS high,
         min(value) AS low,
         max(CASE WHEN rn_d = 1 THEN value END) AS close,
         sum(value) AS volume
  FROM r GROUP BY event_type, bar_date
)"""


def _daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrounded daily OHLCV bars per event_type — the Spark twin of
    ``_DAILY_BARS_CTE`` (dual-row_number first/last, deterministic under
    ties; one shuffle on (event_type, bar_date))."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    w_asc = W.partitionBy("event_type", "bar_date").orderBy("ts", "event_id")
    w_desc = W.partitionBy("event_type", "bar_date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_date")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.sum("value").alias("volume"),
        )
    )


ATR_ORACLE = f"""
WITH {_DAILY_BARS_CTE},
pc AS (
  SELECT event_type, bar_date, high, low, close,
         lag(close) OVER (PARTITION BY event_type ORDER BY bar_date) AS prev_close
  FROM bars
), tr AS (
  SELECT event_type, bar_date,
         CASE WHEN prev_close IS NULL THEN high - low
              ELSE greatest(high - low, abs(high - prev_close),
                            abs(low - prev_close)) END AS tr_val
  FROM pc
)
SELECT event_type, bar_date, round(tr_val, 6) AS true_range,
       round(avg(tr_val) OVER (PARTITION BY event_type ORDER BY bar_date
                               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6)
         AS atr14
FROM tr ORDER BY event_type, bar_date
"""


@register("ohlc_atr14", oracle=ATR_ORACLE)
def ohlc_atr14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range (14-bar): TR = max(high-low, |high-prev_close|,
    |low-prev_close|) (first bar falls back to high-low), ATR = 14-bar SMA
    of TR. Volatility sizing for the reference's bar domain. One shuffle on
    event_type; every window is per-symbol."""
    bars = _daily_bars(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("bar_date")
    w14 = w.rowsBetween(-13, 0)
    pc = F.lag("close").over(w)
    tr = F.when(pc.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        )
    )
    return (
        bars.withColumn("tr_val", tr)
        .select(
            "event_type",
            "bar_date",
            F.round("tr_val", 6).alias("true_range"),
            F.round(F.avg("tr_val").over(w14), 6).alias("atr14"),
        )
        .orderBy("event_type", "bar_date")
    )


STOCH_ORACLE = f"""
WITH {_DAILY_BARS_CTE},
chan AS (
  SELECT event_type, bar_date, close,
         min(low) OVER w14 AS lo14,
         max(high) OVER w14 AS hi14
  FROM bars
  WINDOW w14 AS (PARTITION BY event_type ORDER BY bar_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), k AS (
  SELECT event_type, bar_date,
         CASE WHEN hi14 = lo14 THEN 50.0
              ELSE 100.0 * (close - lo14) / (hi14 - lo14) END AS pct_k
  FROM chan
)
SELECT event_type, bar_date, round(pct_k, 6) AS pct_k,
       round(avg(pct_k) OVER (PARTITION BY event_type ORDER BY bar_date
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS pct_d
FROM k ORDER BY event_type, bar_date
"""


@register("ohlc_stochastic_kd", oracle=STOCH_ORACLE)
def ohlc_stochastic_kd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close − 14-bar low) / (14-bar range)
    (flat channel pins to 50 — defined, not a divide-by-zero), %D = 3-bar
    SMA of %K. Same per-symbol window discipline as ATR."""
    bars = _daily_bars(spark, sf_dir)
    w14 = W.partitionBy("event_type").orderBy("bar_date").rowsBetween(-13, 0)
    w3 = W.partitionBy("event_type").orderBy("bar_date").rowsBetween(-2, 0)
    lo14 = F.min("low").over(w14)
    hi14 = F.max("high").over(w14)
    pct_k = F.when(hi14 == lo14, F.lit(50.0)).otherwise(
        100.0 * (F.col("close") - lo14) / (hi14 - lo14)
    )
    return (
        bars.withColumn("pct_k_raw", pct_k)
        .select(
            "event_type",
            "bar_date",
            F.round("pct_k_raw", 6).alias("pct_k"),
            F.round(F.avg("pct_k_raw").over(w3), 6).alias("pct_d"),
        )
        .orderBy("event_type", "bar_date")
    )


OBV_ORACLE = f"""
WITH {_DAILY_BARS_CTE},
d AS (
  SELECT event_type, bar_date, volume,
         sign(close - lag(close) OVER (PARTITION BY event_type ORDER BY bar_date))
           AS direction
  FROM bars
)
SELECT event_type, bar_date,
       round(coalesce(direction, 0.0) * volume, 2) AS signed_volume,
       round(sum(coalesce(direction, 0.0) * volume)
               OVER (PARTITION BY event_type ORDER BY bar_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS obv
FROM d ORDER BY event_type, bar_date
"""


@register("ohlc_obv", oracle=OBV_ORACLE)
def ohlc_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume: running sum of sign(close change) × bar volume —
    the classic volume-flow confirmation indicator. The running sum is an
    ordered window accumulation (identical fold order both engines)."""
    bars = _daily_bars(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("bar_date")
    wrun = w.rowsBetween(W.unboundedPreceding, 0)
    signed = F.coalesce(
        F.signum(F.col("close") - F.lag("close").over(w)), F.lit(0.0)
    ) * F.col("volume")
    return (
        bars.withColumn("sv", signed)
        .select(
            "event_type",
            "bar_date",
            F.round("sv", 2).alias("signed_volume"),
            F.round(F.sum("sv").over(wrun), 2).alias("obv"),
        )
        .orderBy("event_type", "bar_date")
    )


CANDLE_ORACLE = f"""
WITH {_DAILY_BARS_CTE},
b AS (
  SELECT event_type, bar_date, open, high, low, close,
         abs(close - open) AS body,
         high - low AS rng,
         high - greatest(open, close) AS upper_shadow,
         least(open, close) - low AS lower_shadow,
         lag(open) OVER w AS p_open,
         lag(close) OVER w AS p_close
  FROM bars
  WINDOW w AS (PARTITION BY event_type ORDER BY bar_date)
)
SELECT event_type, bar_date,
       (rng > 0 AND body <= 0.1 * rng) AS doji,
       (lower_shadow >= 2 * body AND upper_shadow <= body) AS hammer,
       (p_close IS NOT NULL AND close > open AND p_close < p_open
        AND close >= p_open AND open <= p_close) AS bullish_engulfing,
       (p_close IS NOT NULL AND close < open AND p_close > p_open
        AND close <= p_open AND open >= p_close) AS bearish_engulfing
FROM b ORDER BY event_type, bar_date
"""


@register("ohlc_candlestick_flags", oracle=CANDLE_ORACLE)
def ohlc_candlestick_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern screen per bar: doji (body ≤ 10% of range),
    hammer (long lower shadow, tiny upper), bullish/bearish engulfing
    (current body engulfs previous, opposite colors). Pure lag comparisons
    over identical bar doubles — flags are exact in both engines."""
    bars = _daily_bars(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("bar_date")
    body = F.abs(F.col("close") - F.col("open"))
    rng = F.col("high") - F.col("low")
    upper = F.col("high") - F.greatest("open", "close")
    lower = F.least("open", "close") - F.col("low")
    p_open = F.lag("open").over(w)
    p_close = F.lag("close").over(w)
    return (
        bars.select(
            "event_type",
            "bar_date",
            "open",
            "high",
            "low",
            "close",
            body.alias("body"),
            rng.alias("rng"),
            upper.alias("upper_shadow"),
            lower.alias("lower_shadow"),
            p_open.alias("p_open"),
            p_close.alias("p_close"),
        )
        .select(
            "event_type",
            "bar_date",
            ((F.col("rng") > 0) & (F.col("body") <= 0.1 * F.col("rng"))).alias("doji"),
            (
                (F.col("lower_shadow") >= 2 * F.col("body"))
                & (F.col("upper_shadow") <= F.col("body"))
            ).alias("hammer"),
            (
                F.col("p_close").isNotNull()
                & (F.col("close") > F.col("open"))
                & (F.col("p_close") < F.col("p_open"))
                & (F.col("close") >= F.col("p_open"))
                & (F.col("open") <= F.col("p_close"))
            ).alias("bullish_engulfing"),
            (
                F.col("p_close").isNotNull()
                & (F.col("close") < F.col("open"))
                & (F.col("p_close") > F.col("p_open"))
                & (F.col("close") <= F.col("p_open"))
                & (F.col("open") >= F.col("p_close"))
            ).alias("bearish_engulfing"),
        )
        .orderBy("event_type", "bar_date")
    )


# --------------------------------------------------------------------------
# Sequential pattern detection (round 4): MATCH_RECOGNIZE-style scan for
# the consecutive pattern view → click → purchase inside each user's
# ordered event stream, with the whole match within 2 hours. Expressed as
# two lead() windows over ONE shuffle on user_id — pattern detection as a
# window scan, never a self-join (the funnel query is the aggregate
# cousin; this one emits each concrete match). Beyond-reference [NS]
# (timeseries/window family).
# --------------------------------------------------------------------------
SEQ_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_id, event_type, ts,
         lead(event_type, 1) OVER w AS t1, lead(ts, 1) OVER w AS ts1,
         lead(event_id, 1) OVER w AS id1,
         lead(event_type, 2) OVER w AS t2, lead(ts, 2) OVER w AS ts2,
         lead(event_id, 2) OVER w AS id2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id AS view_id, id1 AS click_id, id2 AS purchase_id,
       strftime(ts, '{_TS_FMT_DUCK}') AS view_ts,
       round(CAST(epoch_us(ts2) - epoch_us(ts) AS DOUBLE) / 1e6, 6)
         AS span_seconds
FROM o
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
  AND epoch_us(ts2) - epoch_us(ts) <= 7200000000::BIGINT
ORDER BY user_id, view_id
"""


@register("events_sequence_detect", oracle=SEQ_ORACLE)
def events_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_id", 1).over(w).alias("id1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("ts2"),
        F.lead("event_id", 2).over(w).alias("id2"),
    )
    span_us = F.unix_micros("ts2") - F.unix_micros("ts")
    return (
        o.where(
            (F.col("event_type") == "view")
            & (F.col("t1") == "click")
            & (F.col("t2") == "purchase")
            & (span_us <= 7200 * 1_000_000)
        )
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("id1").alias("click_id"),
            F.col("id2").alias("purchase_id"),
            F.date_format("ts", _TS_FMT).alias("view_ts"),
            F.round(span_us.cast("double") / 1e6, 6).alias("span_seconds"),
        )
        .orderBy("user_id", "view_id")
    )


# --------------------------------------------------------------------------
# Per-symbol linear trend + next-day forecast (round 4): least-squares fit
# of close vs day index per event_type (built-in regr_slope/regr_intercept
# both engines — one grouped aggregate over the daily bars, no iteration),
# forecast = intercept + slope · (max_index + 1). The per-series
# mini-model shape (one model per key, fit as an aggregate) that a
# forecasting pipeline fans out across millions of series.
# Beyond-reference [NS] (timeseries family).
# --------------------------------------------------------------------------
TREND_ORACLE = f"""
WITH {_DAILY_BARS_CTE},
idx AS (
  SELECT event_type, bar_date, close,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY bar_date) - 1
              AS DOUBLE) AS di
  FROM bars
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       round(regr_slope(close, di), 6) AS slope,
       round(regr_intercept(close, di), 6) AS intercept,
       round(regr_intercept(close, di) + regr_slope(close, di) * max(di + 1), 6)
         AS next_day_forecast
FROM idx GROUP BY event_type ORDER BY event_type
"""


@register("ohlc_trend_forecast", oracle=TREND_ORACLE)
def ohlc_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("bar_date")
    idx = bars.select(
        "event_type",
        "close",
        (F.row_number().over(w) - 1).cast("double").alias("di"),
    )
    slope = F.regr_slope("close", "di")
    intercept = F.regr_intercept("close", "di")
    return (
        idx.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
            F.round(intercept + slope * F.max(F.col("di") + 1), 6).alias(
                "next_day_forecast"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Additive seasonal decomposition (round 4, STL-lite): daily event counts
# = trend (centered 7-day moving average, edge-shrunk frame) + seasonal
# (mean detrended value per day-of-week, re-centered to sum 0) + residual.
# Three window/agg passes, everything per-series; the classic explainable
# decomposition behind anomaly triage (the dow-index query is the
# multiplicative-ratio cousin). Exact integer counts feed every average.
# --------------------------------------------------------------------------
DECOMP_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY d
), tr AS (
  SELECT d, y,
         avg(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend
  FROM daily
), det AS (
  SELECT d, y, trend, y - trend AS detr,
         dayofweek(d) AS dow
  FROM tr
), s0 AS (
  SELECT dow, avg(detr) AS s_raw FROM det GROUP BY dow
), s AS (
  SELECT dow, s_raw - (SELECT avg(s_raw) FROM s0) AS seasonal FROM s0
)
SELECT strftime(det.d, '%Y-%m-%d') AS day,
       round(det.y, 6) AS y,
       round(det.trend, 6) AS trend,
       round(s.seasonal, 6) AS seasonal,
       round(det.y - det.trend - s.seasonal, 6) AS residual
FROM det JOIN s ON s.dow = det.dow
ORDER BY day
"""


@register("events_seasonal_decomposition", oracle=DECOMP_ORACLE)
def events_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    # single ordered window over DAYS (≤ a few hundred rows at any SF —
    # the day-grain bounded-frame exemption; at true scale partition by
    # series id as every other per-symbol window here does)
    wt = W.orderBy("d").rowsBetween(-3, 3)
    det = daily.select(
        "d",
        "y",
        F.avg("y").over(wt).alias("trend"),
        F.dayofweek("d").alias("dow"),
    ).withColumn("detr", F.col("y") - F.col("trend"))
    s0 = det.groupBy("dow").agg(F.avg("detr").alias("s_raw"))
    s_mean = s0.agg(F.avg("s_raw").alias("m"))
    s = s0.crossJoin(F.broadcast(s_mean)).select(
        "dow", (F.col("s_raw") - F.col("m")).alias("seasonal")
    )
    return (
        det.join(F.broadcast(s), "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round("y", 6).alias("y"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("y") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Seasonal-naïve backtest (round 4): forecast each day's per-type count
# with "same weekday last week" (lag 7 on the daily series) and score the
# backtest with MAPE and bias per event_type — the baseline every real
# forecasting system must beat, plus the evaluation methodology (walk-
# forward error over the history) in one query. One shuffle per series.
# --------------------------------------------------------------------------
SNAIVE_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY event_type, d
), f AS (
  SELECT event_type, d, y,
         lag(y, 7) OVER (PARTITION BY event_type ORDER BY d) AS yhat
  FROM daily
)
SELECT event_type,
       CAST(count(yhat) AS BIGINT) AS n_scored,
       round(avg(abs(y - yhat) / y), 6) AS mape,
       round(avg(yhat - y), 6) AS bias
FROM f WHERE yhat IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@register("events_seasonal_naive_backtest", oracle=SNAIVE_ORACLE)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    w = W.partitionBy("event_type").orderBy("d")
    f = daily.withColumn("yhat", F.lag("y", 7).over(w)).where(
        F.col("yhat").isNotNull()
    )
    return (
        f.groupBy("event_type")
        .agg(
            F.count("yhat").alias("n_scored"),
            F.round(F.avg(F.abs(F.col("y") - F.col("yhat")) / F.col("y")), 6).alias(
                "mape"
            ),
            F.round(F.avg(F.col("yhat") - F.col("y")), 6).alias("bias"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Autocorrelation at lags 1 and 7 (round 4): corr(y_t, y_{t−k}) of the
# per-type daily count series — the two numbers that justify the lag-7
# seasonal-naïve baseline (high ACF(7)) and quantify day-to-day momentum
# (ACF(1)). One lag window per series + built-in corr, rounded 6.
# --------------------------------------------------------------------------
ACF_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY event_type, d
), l AS (
  SELECT event_type, y,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS y1,
         lag(y, 7) OVER (PARTITION BY event_type ORDER BY d) AS y7
  FROM daily
)
SELECT event_type,
       round(corr(y, y1), 6) AS acf_lag1,
       round(corr(y, y7), 6) AS acf_lag7
FROM l GROUP BY event_type ORDER BY event_type
"""


@register("events_autocorrelation", oracle=ACF_ORACLE)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    w = W.partitionBy("event_type").orderBy("d")
    l = daily.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 7).over(w).alias("y7"),
    )
    return (
        l.groupBy("event_type")
        .agg(
            F.round(F.corr("y", "y1"), 6).alias("acf_lag1"),
            F.round(F.corr("y", "y7"), 6).alias("acf_lag7"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend (round 4, session 2): per-symbol median of all
# pairwise slopes of daily closes, plus the matching median intercept —
# the outlier-proof alternative to the OLS line ohlc_trend_forecast fits
# (a single fat-fingered bar can't move the median slope). Pair space is
# O(days²) PER SERIES — bounded by calendar span, not row count, so 100×
# more events changes nothing (the bar build absorbs them; same argument
# as the symbol-correlation matrix). Slopes are single double divisions
# and Spark percentile ≡ DuckDB quantile_cont on identical inputs, so the
# medians agree bit-for-bit. Beyond-reference [NS] (timeseries family).
# --------------------------------------------------------------------------
THEIL_SEN_ORACLE = f"""
WITH {_DAILY_BARS_CTE},
x AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(bar_date AS DATE)) AS x,
         close
  FROM bars
), p AS (
  SELECT a.event_type,
         (b.close - a.close) / (b.x - a.x) AS slope
  FROM x a
  JOIN x b ON a.event_type = b.event_type AND a.x < b.x
), s AS (
  SELECT event_type, quantile_cont(slope, 0.5) AS slope_hat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM p GROUP BY event_type
), i AS (
  SELECT x.event_type,
         quantile_cont(x.close - s.slope_hat * x.x, 0.5) AS icpt,
         CAST(count(*) AS BIGINT) AS n_bars
  FROM x JOIN s ON x.event_type = s.event_type
  GROUP BY x.event_type
)
SELECT s.event_type, i.n_bars, s.n_pairs,
       round(s.slope_hat, 6) AS ts_slope,
       round(i.icpt, 6) AS ts_intercept
FROM s JOIN i ON s.event_type = i.event_type
ORDER BY s.event_type
"""


@register("ohlc_theil_sen_trend", oracle=THEIL_SEN_ORACLE)
def ohlc_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir).select(
        "event_type",
        F.datediff(F.to_date("bar_date"), F.lit("1970-01-01").cast("date")).alias(
            "x"
        ),
        "close",
    )
    # bars feeds the pair self-join twice plus the intercept pass
    bars = materialize(bars)
    a = bars.select("event_type", F.col("x").alias("xa"), F.col("close").alias("ca"))
    b = bars.select("event_type", F.col("x").alias("xb"), F.col("close").alias("cb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            ((F.col("cb") - F.col("ca")) / (F.col("xb") - F.col("xa"))).alias(
                "slope"
            ),
        )
    )
    s = slopes.groupBy("event_type").agg(
        F.percentile("slope", 0.5).alias("slope_hat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    i = (
        bars.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.col("close") - F.col("slope_hat") * F.col("x"), 0.5).alias(
                "icpt"
            ),
            F.count(F.lit(1)).alias("n_bars"),
        )
    )
    return (
        s.join(i, "event_type")
        .select(
            "event_type",
            "n_bars",
            "n_pairs",
            F.round("slope_hat", 6).alias("ts_slope"),
            F.round("icpt", 6).alias("ts_intercept"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# DFT periodogram (round 4): spectral periodicity detection over the
# daily event-count series — power at candidate periods 2..14 days via
# explicit Fourier sums P(T) = (Σ y·cos(2πt/T))² + (Σ y·sin(2πt/T))²
# on the MEAN-CENTERED series (otherwise the DC offset leaks into every
# bin). The frequency-domain complement of events_autocorrelation: ACF
# finds self-similarity at a lag, the periodogram ranks periods by
# explained oscillation energy directly, and its shape is one grouped
# cross join of a 13-row period frame against the day series — a
# broadcast fan-out, one pass, no window at all.
# --------------------------------------------------------------------------
DFT_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT y, CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t FROM daily
), mu AS (
  SELECT avg(y) AS my, CAST(count(*) AS BIGINT) AS n FROM idx
), periods AS (
  SELECT CAST(p AS DOUBLE) AS period FROM generate_series(2, 14) g(p)
), terms AS (
  SELECT period,
         sum((y - my) * cos(2 * pi() * t / period)) AS c,
         sum((y - my) * sin(2 * pi() * t / period)) AS s,
         any_value(n) AS n
  FROM idx CROSS JOIN mu CROSS JOIN periods
  GROUP BY period
)
SELECT CAST(period AS BIGINT) AS period_days,
       round((c * c + s * s) / n, 4) AS power
FROM terms
ORDER BY period_days
"""


@register("events_dft_periodogram", oracle=DFT_ORACLE)
def events_dft_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    # day-axis ordering (bounded: one row per day, the seasonal-decomp
    # day-grain exemption)
    wd = W.orderBy("d")
    idx = daily.select(
        "y", (F.row_number().over(wd) - 1).cast("double").alias("t")
    )
    mu = idx.agg(F.avg("y").alias("my"), F.count(F.lit(1)).alias("n"))
    periods = (
        ev.sparkSession.range(2, 15)
        .select(F.col("id").cast("double").alias("period"))
    )
    two_pi = 2.0 * math.pi
    terms = (
        idx.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(periods))
        .groupBy("period")
        .agg(
            F.sum(
                (F.col("y") - F.col("my"))
                * F.cos(F.lit(two_pi) * F.col("t") / F.col("period"))
            ).alias("c"),
            F.sum(
                (F.col("y") - F.col("my"))
                * F.sin(F.lit(two_pi) * F.col("t") / F.col("period"))
            ).alias("s"),
            F.first("n").alias("n"),
        )
    )
    return terms.select(
        F.col("period").cast("long").alias("period_days"),
        F.round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n"), 4
        ).alias("power"),
    ).orderBy("period_days")


# --------------------------------------------------------------------------
# As-of join WITH TOLERANCE (pandas merge_asof(tolerance=...) / kdb wj
# semantics): the plain as-of join (above) answers "most recent purchase
# ever"; real feature pipelines almost always want "most recent purchase
# *no older than T*" — a stale covariate is worse than none. Same single
# shuffle + RANGE window shape, but the frame is bounded at T = 2 h on an
# EXACT integer µs axis (unix_micros both sides — the BENCH.md
# "time-axis" rule: second-truncating axes flip frame membership at the
# boundary). Matches outside tolerance become empty, with the staleness
# that disqualified them reported alongside.
# --------------------------------------------------------------------------
_ASOF_TOL_US = 7_200_000_000  # 2 h in µs

ASOF_TOLERANCE_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us FROM events
)
SELECT e.event_id, e.user_id, e.event_type,
       strftime(e.ts, '{_TS_FMT_DUCK}') AS ts,
       coalesce(strftime(
         (SELECT max(p.ts) FROM e p
          WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
            AND p.us <= e.us AND p.us >= e.us - {_ASOF_TOL_US}),
         '{_TS_FMT_DUCK}'), '') AS last_purchase_ts,
       coalesce(e.us - (SELECT max(p.us) FROM e p
          WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
            AND p.us <= e.us AND p.us >= e.us - {_ASOF_TOL_US}), -1)
         AS staleness_us
FROM e
"""


@register("asof_join_with_tolerance", oracle=ASOF_TOLERANCE_ORACLE)
def asof_join_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ASOF_TOL_US, 0)
    )
    last_p_us = F.max(
        F.when(F.col("event_type") == "purchase", F.col("us"))
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("ts"),
        F.coalesce(
            F.date_format(F.timestamp_micros(last_p_us), _TS_FMT), F.lit("")
        ).alias("last_purchase_ts"),
        F.coalesce(F.col("us") - last_p_us, F.lit(-1)).alias("staleness_us"),
    )


# --------------------------------------------------------------------------
# Seasonal / trend STRENGTH (Hyndman & Athanasopoulos, FPP): F_s =
# max(0, 1 − var(resid)/var(seasonal+resid)), F_t likewise with trend —
# the one-number summary of the decomposition above, the screening
# statistic a forecasting platform computes per series to route between
# seasonal and non-seasonal models. Composes the decomposition query
# (rounded components, so both engines aggregate identical inputs) into
# a single-row variance rollup.
# --------------------------------------------------------------------------
STRENGTH_ORACLE = f"""
WITH comp AS ({DECOMP_ORACLE})
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(greatest(0.0, 1.0 - var_samp(residual)
                             / var_samp(seasonal + residual)), 5)
         AS seasonal_strength,
       round(greatest(0.0, 1.0 - var_samp(residual)
                             / var_samp(trend + residual)), 5)
         AS trend_strength
FROM comp
"""


@register("events_seasonal_strength", oracle=STRENGTH_ORACLE)
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = events_seasonal_decomposition(spark, sf_dir)
    return comp.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0
                - F.var_samp("residual")
                / F.var_samp(F.col("seasonal") + F.col("residual")),
            ),
            5,
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0
                - F.var_samp("residual")
                / F.var_samp(F.col("trend") + F.col("residual")),
            ),
            5,
        ).alias("trend_strength"),
    )


# --------------------------------------------------------------------------
# Holt linear-trend (double exponential) smoothing + 7-day forecast per
# event_type: l' = α·y + (1−α)(l+t), t' = β(l'−l) + (1−β)t over the daily
# count series, init l=y₁, t=y₂−y₁ — the trend-corrected upgrade of the
# truncated-EWMA level (events_ewma_daily smooths LEVEL only; Holt carries
# slope, so the h-step forecast is l+h·t instead of flat). α=0.5, β=0.25
# are exact binary fractions and both engines left-fold the identical
# expression tree in ascending-day order (Spark F.aggregate ≡ DuckDB
# list_reduce), so the recurrences agree bit-for-bit. Scale: the daily agg
# is the distributed pass; per-series fold state is bounded by CALENDAR
# (≤ span days), not row count — 100× events changes only the first agg.
# --------------------------------------------------------------------------
HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY event_type, d
), series AS (
  SELECT event_type, list(y ORDER BY d) AS ys,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
), fit AS (
  SELECT event_type, ys, n_days, CAST(2 AS BIGINT) AS i,
         ys[1] AS l, ys[2] - ys[1] AS t
  FROM series
  UNION ALL
  SELECT event_type, ys, n_days, i + 1,
         0.5::DOUBLE * ys[i + 1] + 0.5::DOUBLE * (l + t),
         0.25::DOUBLE
           * ((0.5::DOUBLE * ys[i + 1] + 0.5::DOUBLE * (l + t)) - l)
         + 0.75::DOUBLE * t
  FROM fit WHERE i < n_days
)
SELECT event_type, n_days,
       round(l, 6) AS level,
       round(t, 6) AS trend,
       round(l + 7.0 * t, 6) AS forecast_7d
FROM fit WHERE i = n_days ORDER BY event_type
"""


@register("events_holt_linear_forecast", oracle=HOLT_ORACLE)
def events_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    ys = F.transform(F.col("arr"), lambda s: s["y"])

    def _fold(acc, y):
        new_l = F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["t"])
        return F.struct(
            new_l.alias("l"),
            (F.lit(0.25) * (new_l - acc["l"]) + F.lit(0.75) * acc["t"]).alias("t"),
        )

    init = F.struct(
        F.element_at(ys, 1).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("t"),
    )
    st = F.aggregate(F.slice(ys, 3, F.size(ys)), init, _fold)
    return series.select(
        "event_type",
        "n_days",
        F.round(st["l"], 6).alias("level"),
        F.round(st["t"], 6).alias("trend"),
        F.round(st["l"] + F.lit(7.0) * st["t"], 6).alias("forecast_7d"),
    ).orderBy("event_type")
