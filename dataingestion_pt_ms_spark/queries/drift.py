"""Distribution-monitoring queries (round-3 additions, SURVEY.md §2.B).

The reference re-ingests the same assets on a schedule
(``app/main.py:53-66``) but never checks whether the data it refreshed
still *looks like* yesterday's data. At 100 TB that check is the first
thing a pipeline owner adds: a drift score between snapshots, a robust
outlier flagger that a few fat-tailed rows can't saturate, and
engagement-continuity (streak) metrics. All three are expressible as
pure grouped aggregation + broadcast joins — no global windows, no
driver-side state — so they keep the 100× scale shape for free.

Every query carries a full DuckDB oracle: bins, medians
(Spark ``percentile`` ≡ DuckDB ``quantile_cont``) and island arithmetic
are computed with identical integer/double expressions in both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import materialize
from . import register

# --------------------------------------------------------------------------
# Population Stability Index between two order cohorts (pre-/post-1996),
# over fixed-width o_totalprice bins. PSI = Σ (p_cur − p_base)·ln(p_cur/p_base)
# with Laplace (+1) smoothing so empty bins never hit ln(0). One conditional-
# aggregation scan → 10-bin frame → broadcast total join: the whole statistic
# costs a single pass over orders regardless of scale.
# --------------------------------------------------------------------------
_CUT = "1996-01-01"
_BIN_W = 60000.0
_NBINS = 10

PSI_ORACLE = f"""
WITH binned AS (
  SELECT least(CAST(floor(o_totalprice / {_BIN_W}) AS BIGINT), {_NBINS - 1}) AS bin,
         CASE WHEN o_orderdate < TIMESTAMP '{_CUT}' THEN 1 ELSE 0 END AS is_base
  FROM orders
), counts AS (
  SELECT bin,
         CAST(sum(is_base) AS BIGINT) AS n_base,
         CAST(sum(1 - is_base) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
), tot AS (
  SELECT sum(n_base) AS t_base, sum(n_cur) AS t_cur FROM counts
), terms AS (
  SELECT bin, n_base, n_cur,
         CAST(n_base + 1 AS DOUBLE) / (t_base + {_NBINS}) AS p_base,
         CAST(n_cur + 1 AS DOUBLE) / (t_cur + {_NBINS}) AS p_cur
  FROM counts CROSS JOIN tot
)
SELECT bin, n_base, n_cur,
       round(p_base, 6) AS p_base,
       round(p_cur, 6) AS p_cur,
       round((p_cur - p_base) * ln(p_cur / p_base), 6) AS psi_term
FROM terms
ORDER BY bin
"""


@register("warehouse_psi_drift", oracle=PSI_ORACLE)
def warehouse_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    is_base = (F.col("o_orderdate") < F.lit(_CUT).cast("timestamp")).cast("int")
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / _BIN_W).cast("bigint"), F.lit(_NBINS - 1)
    )
    counts = (
        orders.select(bin_col.alias("bin"), is_base.alias("is_base"))
        .groupBy("bin")
        .agg(
            F.sum("is_base").alias("n_base"),
            F.sum(F.lit(1) - F.col("is_base")).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    p_base = (F.col("n_base") + 1).cast("double") / (F.col("t_base") + _NBINS)
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + _NBINS)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_base",
            "n_cur",
            F.round(p_base, 6).alias("p_base"),
            F.round(p_cur, 6).alias("p_cur"),
            F.round((p_cur - p_base) * F.log(p_cur / p_base), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Robust outlier flagging: median/MAD per event_type instead of mean/stddev
# (events_anomaly_zscore) — the estimator a few huge values can't drag.
# robust_z = (v − median) / (1.4826·MAD). Two grouped exact-percentile
# passes (both tiny: one row per event_type) + broadcast join-backs; the
# 100 TB swap-in is approx_percentile with the same plan shape, exactly as
# text_quantile_filter_approx documents for the quantile gate.
# --------------------------------------------------------------------------
_MAD_K = 1.4826
_MAD_THR = 3.5

MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       round(e.value, 4) AS value,
       round((e.value - m.med) / ({_MAD_K} * d.mad), 4) AS robust_z
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
WHERE d.mad > 0 AND abs((e.value - m.med) / ({_MAD_K} * d.mad)) > {_MAD_THR}
ORDER BY e.event_id
"""


@register("events_anomaly_mad", oracle=MAD_ORACLE)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    rz = (F.col("value") - F.col("med")) / (F.lit(_MAD_K) * F.col("mad"))
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(rz) > _MAD_THR))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(rz, 4).alias("robust_z"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Longest consecutive-day activity streak per user — gaps-and-islands with
# the classic `day − row_number()` island key, windows partitioned BY USER
# (never global). The (user, day) grid is deduped before any window so
# heavy event users cost one row per active day, not per event.
# --------------------------------------------------------------------------
STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         date_diff('day', DATE '1970-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
), runs AS (
  SELECT user_id, grp, count(*) AS run_len FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       max(run_len) AS longest_streak,
       CAST(sum(run_len) AS BIGINT) AS n_active_days
FROM runs GROUP BY user_id
HAVING max(run_len) >= 2
ORDER BY user_id
"""


@register("events_user_longest_streak", oracle=STREAK_ORACLE)
def events_user_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.datediff("d", F.lit("1970-01-01").cast("date")) - F.row_number().over(w)
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count("*").alias("run_len"))
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("run_len").alias("longest_streak"),
            F.sum("run_len").cast("bigint").alias("n_active_days"),
        )
        .filter(F.col("longest_streak") >= 2)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Truncated exponentially-weighted moving average over the per-type daily
# value series: ewma_t = Σ_{k=0..L-1} (1-α)^k · x_{t-k} / Σ (1-α)^k, summing
# only the calendar days present (gaps and series starts renormalize
# identically in both engines). The recursion is deliberately truncated at
# L=14 days so the statistic is a *bounded* self-join on (type, day-k) —
# two shuffles total, no per-series sequential scan, no window spill; at
# (1-α)=0.7 the dropped tail weighs < 0.7^14 ≈ 0.7 % of the mass.
# --------------------------------------------------------------------------
_EWMA_ALPHA = 0.3
_EWMA_L = 14

EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, sum(value) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), terms AS (
  SELECT cur.event_type, cur.d, cur.x,
         power(1.0 - {_EWMA_ALPHA}, t.k) AS w,
         past.x AS px
  FROM daily cur
  CROSS JOIN range(0, {_EWMA_L}) t(k)
  JOIN daily past
    ON past.event_type = cur.event_type
   AND past.d = cur.d - CAST(t.k AS INTEGER)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d,
       round(any_value(x), 4) AS x,
       round(sum(w * px) / sum(w), 4) AS ewma
FROM terms
GROUP BY event_type, d
ORDER BY event_type, d
"""


@register("events_ewma_daily", oracle=EWMA_ORACLE)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum("value").alias("x"))
    terms = (
        daily.withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(_EWMA_L - 1))))
        .withColumn("past_d", F.date_sub(F.col("d"), F.col("k")))
        .alias("cur")
        .join(
            daily.select(
                F.col("event_type").alias("pt"),
                F.col("d").alias("pd"),
                F.col("x").alias("px"),
            ),
            (F.col("cur.event_type") == F.col("pt")) & (F.col("past_d") == F.col("pd")),
        )
        .select(
            F.col("cur.event_type").alias("event_type"),
            F.col("cur.d").alias("d"),
            F.col("cur.x").alias("x"),
            F.pow(F.lit(1.0 - _EWMA_ALPHA), F.col("k")).alias("w"),
            "px",
        )
    )
    return (
        terms.groupBy("event_type", "d")
        .agg(
            F.round(F.any_value("x"), 4).alias("x"),
            F.round(F.sum(F.col("w") * F.col("px")) / F.sum("w"), 4).alias("ewma"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "x",
            "ewma",
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# Winsorization (clip at per-type P05/P95): the standard tail-taming
# transform before training on heavy-tailed telemetry. Same two-phase
# shape as the MAD flagger: one tiny grouped exact-percentile pass
# broadcast back over the stream; the 100 TB swap-in is approx_percentile
# with the identical plan. Output is the per-type audit (bounds, clip
# counts, mean shift) — O(groups) rows, so rounding rules are the
# aggregate ones (6 dp on means).
# --------------------------------------------------------------------------
WINSOR_ORACLE = """
WITH b AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.05) * 1e6 + 0.5) / 1e6 AS p05,
         floor(quantile_cont(value, 0.95) * 1e6 + 0.5) / 1e6 AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       any_value(b.p05) AS p05,
       any_value(b.p95) AS p95,
       CAST(sum(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       round(avg(e.value), 6) AS mean_before,
       round(avg(least(greatest(e.value, b.p05), b.p95)), 6) AS mean_after
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


@register("events_winsorize_stats", oracle=WINSOR_ORACLE)
def events_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # clip thresholds are the 6dp floor-trick-rounded percentiles: the
    # UNROUNDED interpolated bound differs by 1 ulp between engines and
    # flips strict < / > membership when it lands on a data value (caught
    # by the 10x sf1x sweep, 50 rows of one event_type); rounding the
    # bound BEFORE comparing makes the boundary engine-stable, and the
    # audit reports exactly the bound it clipped at
    bounds = ev.groupBy("event_type").agg(
        (F.floor(F.percentile("value", F.lit(0.05)) * 1e6 + F.lit(0.5)) / 1e6)
        .alias("p05"),
        (F.floor(F.percentile("value", F.lit(0.95)) * 1e6 + F.lit(0.5)) / 1e6)
        .alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("p05").alias("p05"),
            F.any_value("p95").alias("p95"),
            F.sum((F.col("value") < F.col("p05")).cast("long")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("value") > F.col("p95")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.round(F.avg("value"), 6).alias("mean_before"),
            F.round(F.avg(clipped), 6).alias("mean_after"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# User-lifetime survival curve (discrete Kaplan-Meier with no censoring —
# every observed user's lifetime is complete within the fixture window):
# lifetime = days between first and last event; survival(k) = share of
# users still active ≥ k days after their first event, k = 0..14. The per-
# user grain is one groupBy; the curve is 15 conditional sums over that
# grain (fixed-size output), so the whole query is two map-side-combined
# aggregations regardless of event volume. Ratio uses the shared
# floor-trick rounding.
# --------------------------------------------------------------------------
_SURV_MAX_K = 14

_SURV_CONDS = ",\n       ".join(
    f"floor(CAST(sum(CASE WHEN lifetime_days >= {k} THEN 1 ELSE 0 END) AS DOUBLE)"
    f" / count(*) * 1e6 + 0.5) / 1e6 AS s{k}"
    for k in range(_SURV_MAX_K + 1)
)

SURVIVAL_ORACLE = f"""
WITH lt AS (
  SELECT user_id,
         date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
           AS lifetime_days
  FROM events GROUP BY user_id
),
wide AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users, {_SURV_CONDS} FROM lt
)
SELECT k.k AS day_k, wide.n_users,
       CASE k.k {" ".join(f"WHEN {k} THEN s{k}" for k in range(_SURV_MAX_K + 1))}
       END AS survival
FROM wide, range(0, {_SURV_MAX_K + 1}) k(k)
ORDER BY day_k
"""


@register("events_survival_curve", oracle=SURVIVAL_ORACLE)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    lt = events.groupBy("user_id").agg(
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date")).alias(
            "lifetime_days"
        )
    )
    aggs = [F.count(F.lit(1)).alias("n_users")] + [
        (
            F.floor(
                F.sum(F.when(F.col("lifetime_days") >= k, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias(f"s{k}")
        for k in range(_SURV_MAX_K + 1)
    ]
    wide = lt.agg(*aggs)
    grid = spark.range(0, _SURV_MAX_K + 1).select(F.col("id").alias("day_k"))
    surv = None
    for k in range(_SURV_MAX_K + 1):
        surv = (
            F.when(F.col("day_k") == k, F.col(f"s{k}"))
            if surv is None
            else surv.when(F.col("day_k") == k, F.col(f"s{k}"))
        )
    return (
        grid.crossJoin(F.broadcast(wide))
        .select("day_k", "n_users", surv.alias("survival"))
        .orderBy("day_k")
    )


# --------------------------------------------------------------------------
# Mean-shift change detection per event type: for every anchor day, compare
# the 7-day recent window mean against the 7 days before it; flag when the
# shift exceeds 2× the type's overall daily-count stddev. The deterministic,
# scale-safe cousin of CUSUM (which is a nonlinear recursive fold): here
# each anchor day reads a BOUNDED day-diff band [0..13] via a truncated
# self-join on (type, day) — the events_ewma_daily pattern — so there is no
# sequential scan, no global window, and work is O(days × 14) per type.
# Missing days count as zero (fixed /7 denominators). The flag compares
# ROUNDED score to ROUNDED threshold so the cut cannot boundary-flip
# between engines.
# --------------------------------------------------------------------------
MEAN_SHIFT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, round(2 * stddev_samp(CAST(c AS DOUBLE)), 6) AS thresh
  FROM daily GROUP BY event_type
),
band AS (
  SELECT a.event_type, a.day,
         round(sum(CASE WHEN date_diff('day', b.day, a.day) <= 6
                        THEN b.c ELSE 0 END) / 7.0
               - sum(CASE WHEN date_diff('day', b.day, a.day) >= 7
                          THEN b.c ELSE 0 END) / 7.0, 6) AS shift
  FROM daily a
  JOIN daily b ON b.event_type = a.event_type
             AND date_diff('day', b.day, a.day) BETWEEN 0 AND 13
  GROUP BY 1, 2
)
SELECT band.event_type, strftime(band.day, '%Y-%m-%d') AS day, abs(shift) AS shift_score,
       CAST(abs(shift) > st.thresh AS BOOLEAN) AS shifted
FROM band JOIN st USING (event_type)
ORDER BY event_type, day
"""


@register("events_mean_shift_detect", oracle=MEAN_SHIFT_ORACLE)
def events_mean_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    daily = materialize(daily)  # feeds band + stddev branches
    st = daily.groupBy("event_type").agg(
        F.round(F.lit(2) * F.stddev_samp(F.col("c").cast("double")), 6).alias(
            "thresh"
        )
    )
    a = daily.select("event_type", F.col("day").alias("day_a"))
    b = daily.select(
        F.col("event_type").alias("et_b"), F.col("day").alias("day_b"), "c"
    )
    diff = F.datediff(F.col("day_a"), F.col("day_b"))
    band = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (diff >= 0)
            & (diff <= 13),
        )
        .groupBy("event_type", "day_a")
        .agg(
            F.round(
                F.sum(F.when(diff <= 6, F.col("c")).otherwise(0)) / F.lit(7.0)
                - F.sum(F.when(diff >= 7, F.col("c")).otherwise(0)) / F.lit(7.0),
                6,
            ).alias("shift")
        )
    )
    return (
        band.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            F.date_format("day_a", "yyyy-MM-dd").alias("day"),
            F.abs(F.col("shift")).alias("shift_score"),
            (F.abs(F.col("shift")) > F.col("thresh")).alias("shifted"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Out-of-orderness profile → watermark recommendation: using event_id as
# the arrival-order proxy (monotone in the fixture generator), measure how
# far each event's timestamp regresses behind the running max ts seen so
# far per user — the exact statistic that tells you what
# `withWatermark(...)` bound the streaming jobs need. Per-user running max
# is a partitioned window; the rollup reports the late fraction and the
# P50/P95/P99/max lateness in seconds. Exact percentiles here;
# approx_percentile is the stated 100 TB swap (quantile-gate discipline).
# --------------------------------------------------------------------------
OOO_PROFILE_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts,
         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS high_water
  FROM events
), late AS (
  SELECT CASE WHEN high_water IS NOT NULL AND ts < high_water
              THEN CAST(epoch_us(high_water) - epoch_us(ts) AS DOUBLE) / 1e6
              ELSE 0.0 END AS late_s
  FROM seq
)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       floor(CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS late_fraction,
       round(quantile_cont(late_s, 0.50), 4) AS p50_late_s,
       round(quantile_cont(late_s, 0.95), 4) AS p95_late_s,
       round(quantile_cont(late_s, 0.99), 4) AS p99_late_s,
       round(max(late_s), 4) AS max_late_s
FROM late
"""


@register("events_out_of_order_profile", oracle=OOO_PROFILE_ORACLE)
def events_out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = events.select(
        "ts", F.max("ts").over(w).alias("high_water")
    )
    late_s = F.when(
        F.col("high_water").isNotNull() & (F.col("ts") < F.col("high_water")),
        (F.unix_micros("high_water") - F.unix_micros("ts")).cast("double")
        / F.lit(1e6),
    ).otherwise(0.0)
    late = seq.select(late_s.alias("late_s"))
    n = F.count(F.lit(1))
    n_late = F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
    return late.agg(
        n.alias("n_events"),
        n_late.alias("n_late"),
        (F.floor(n_late.cast("double") / n * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "late_fraction"
        ),
        F.round(F.percentile("late_s", F.lit(0.50)), 4).alias("p50_late_s"),
        F.round(F.percentile("late_s", F.lit(0.95)), 4).alias("p95_late_s"),
        F.round(F.percentile("late_s", F.lit(0.99)), 4).alias("p99_late_s"),
        F.round(F.max("late_s"), 4).alias("max_late_s"),
    )


# --------------------------------------------------------------------------
# Bot / automation detection heuristics: humans have bursty inter-event
# gaps, schedulers have metronomic ones. Per user: gap stats via one lag
# window (partitioned by user), regularity = stddev(gap)/mean(gap)
# (coefficient of variation), flag when CV < 0.1 over ≥ 20 events. The
# microsecond axis discipline applies (sub-second gaps are the signal).
# Scale: one window + one grouped agg; flags compare ROUNDED CV to the
# constant so the cut is engine-stable. EXACT cross-engine (round-5 fix:
# a 1-ulp avg() summation-order flip at sf0.1 broke the 6-dp round of
# one row in 1500): gaps are exact integer MICROSECONDS, the moments
# Σx (BIGINT) and Σx² (DECIMAL38/HUGEINT) are exact integers, and
# mean/CV only touch doubles after the exact→nearest-double conversion
# both engines share — same discipline as orders_spearman_rank_corr.
# --------------------------------------------------------------------------
BOT_DETECT_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
), m AS (
  SELECT user_id,
         CAST(count(gap_us) AS BIGINT) AS n_gaps,
         CAST(sum(gap_us) AS DOUBLE) AS sx,
         CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS DOUBLE) AS sxx,
         CAST(count(gap_us) AS DOUBLE) AS n
  FROM g
  WHERE gap_us IS NOT NULL
  GROUP BY user_id
), st AS (
  SELECT user_id, n_gaps,
         floor(sx / n + 0.5) / 1e6 AS mean_gap_s,
         floor(CASE WHEN sx = 0 THEN 0.0
                    WHEN n_gaps < 2 THEN NULL
                    ELSE sqrt(greatest(sxx - sx * sx / n, 0)
                              / (n - 1.0)) / (sx / n)
               END * 1e6 + 0.5) / 1e6 AS cv
  FROM m
)
SELECT user_id, n_gaps, mean_gap_s, cv,
       CAST(n_gaps >= 20 AND cv < 0.1 AS BOOLEAN) AS bot_flag
FROM st
ORDER BY user_id
"""


@register("events_bot_regularity_flags", oracle=BOT_DETECT_ORACLE)
def events_bot_regularity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    g = events.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    m = g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").cast("double").alias("sx"),
        F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us"))
        .cast("double")
        .alias("sxx"),
    )
    n = F.col("n_gaps").cast("double")
    mean_s = F.col("sx") / n / F.lit(1e6)
    cv = (
        F.when(F.col("sx") == 0, F.lit(0.0))
        .when(F.col("n_gaps") < 2, F.lit(None).cast("double"))
        .otherwise(
            # greatest(·, 0): the centered moment can cancel to a tiny
            # negative double for metronomic (near-zero-variance) users —
            # exactly the bot signal — and sqrt(neg) would NULL the flag
            F.sqrt(
                F.greatest(
                    F.col("sxx") - F.col("sx") * F.col("sx") / n, F.lit(0.0)
                )
                / (n - F.lit(1.0))
            )
            / (F.col("sx") / n)
        )
    )
    # floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): engine round()
    # tie-break on exact .5·1e-6 values differs (the BENCH.md
    # "cross-engine rounding" class); mean·1e6 = sx/n exactly, so the
    # trick needs no extra scaling there
    st = m.select(
        "user_id",
        "n_gaps",
        (F.floor(F.col("sx") / n + F.lit(0.5)) / F.lit(1e6)).alias("mean_gap_s"),
        (F.floor(cv * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("cv"),
    )
    return st.select(
        "user_id",
        "n_gaps",
        "mean_gap_s",
        "cv",
        ((F.col("n_gaps") >= 20) & (F.col("cv") < 0.1)).alias("bot_flag"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift test (round 4): KS = max |F_a − F_b|
# between the click and purchase value distributions, with the 5%
# asymptotic critical value 1.36·√((n_a+n_b)/(n_a·n_b)) alongside — the
# standard nonparametric "did the distribution move" gate. Scale shape:
# the CDFs step only at DISTINCT values, so the union collapses to one
# (value, n_a, n_b) table (bounded by the value domain, not the stream),
# and the running counts come from operators/ranking.global_running_sum —
# the range-partitioned distributed prefix sum, never a single-reducer
# global window. The drift flag compares the two 6-dp-rounded numbers so
# it is engine-stable. Beyond-reference [NS] (drift/stats family).
# --------------------------------------------------------------------------
KS_ORACLE = """
WITH tagged AS (
  SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
  FROM events WHERE event_type IN ('click', 'purchase')
), pv AS (
  SELECT value, CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b
  FROM tagged GROUP BY value
), c AS (
  SELECT sum(n_a) OVER w AS ca, sum(n_b) OVER w AS cb
  FROM pv WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
), t AS (
  SELECT CAST(sum(n_a) AS DOUBLE) AS na, CAST(sum(n_b) AS DOUBLE) AS nb
  FROM pv
)
SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_purchase,
       round(max(abs(ca / na - cb / nb)), 6) AS ks_stat,
       round(1.36 * sqrt((na + nb) / (na * nb)), 6) AS crit_05,
       round(max(abs(ca / na - cb / nb)), 6)
         > round(1.36 * sqrt((na + nb) / (na * nb)), 6) AS drifted
FROM c CROSS JOIN t
GROUP BY na, nb
"""


@register("events_ks_drift_test", oracle=KS_ORACLE)
def events_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
    )
    pv = tagged.groupBy("value").agg(
        F.sum("ia").alias("n_a"), F.sum("ib").alias("n_b")
    )
    cum = global_running_sum(pv, "n_a", ["value"], out_col="ca")
    cum = global_running_sum(cum, "n_b", ["value"], out_col="cb")
    totals = pv.agg(
        F.sum("n_a").cast("double").alias("na"),
        F.sum("n_b").cast("double").alias("nb"),
    )
    d = cum.crossJoin(F.broadcast(totals)).select(
        "na",
        "nb",
        F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")).alias("dev"),
    )
    crit = F.round(
        1.36 * F.sqrt((F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb"))), 6
    )
    return d.groupBy("na", "nb").agg(F.round(F.max("dev"), 6).alias("ks_stat")).select(
        F.col("na").cast("long").alias("n_click"),
        F.col("nb").cast("long").alias("n_purchase"),
        "ks_stat",
        crit.alias("crit_05"),
        (F.col("ks_stat") > crit).alias("drifted"),
    )


# --------------------------------------------------------------------------
# A/B Welch t-test (round 4): users deterministically split into two arms
# by md5(user_id) parity (the content-stable assignment the curation
# splits use — no RNG), then Welch's unequal-variance t statistic and
# Welch–Satterthwaite degrees of freedom over click values. Two grouped
# aggregates + a one-row combine; the experiment-analysis primitive.
# Beyond-reference [NS] (stats family).
# --------------------------------------------------------------------------
AB_TTEST_ORACLE = """
WITH assigned AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 AS arm,
         value
  FROM events WHERE event_type = 'click'
), s AS (
  SELECT arm, CAST(count(*) AS DOUBLE) AS n, avg(value) AS m,
         var_samp(value) AS v
  FROM assigned GROUP BY arm
), wide AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS na,
         max(CASE WHEN arm = 0 THEN m END) AS ma,
         max(CASE WHEN arm = 0 THEN v END) AS va,
         max(CASE WHEN arm = 1 THEN n END) AS nb,
         max(CASE WHEN arm = 1 THEN m END) AS mb,
         max(CASE WHEN arm = 1 THEN v END) AS vb
  FROM s
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
       round(pow(va / na + vb / nb, 2)
             / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)),
             6) AS welch_df
FROM wide
"""


@register("events_ab_welch_ttest", oracle=AB_TTEST_ORACLE)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    s = (
        ev.where(F.col("event_type") == "click")
        .select(arm.alias("arm"), "value")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    wide = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{'a' if a == 0 else 'b'}")
            for a in (0, 1)
            for c in ("n", "m", "v")
        ]
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    df_w = F.pow(se2, 2) / (
        F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
        + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
    )
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(df_w, 6).alias("welch_df"),
    )


# --------------------------------------------------------------------------
# Time-to-convert distribution (round 4): latency from each user's FIRST
# view to their first purchase AFTER it, bucketed into log₂-ish bands —
# the product-analytics companion of the funnel count query (which
# reports only stage totals). Two chained per-user window minima over one
# shuffle; bucket edges are exact integer second comparisons.
# --------------------------------------------------------------------------
TTC_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s1.t_view
                  THEN e.ts END) AS t_purchase,
         max(s1.t_view) AS t_view
  FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id
), lat AS (
  SELECT user_id,
         (epoch_us(t_purchase) - epoch_us(t_view)) / 1000000 AS sec
  FROM s2 WHERE t_purchase IS NOT NULL
), b AS (
  SELECT CASE WHEN sec < 3600 THEN '0_under_1h'
              WHEN sec < 21600 THEN '1_1h_6h'
              WHEN sec < 86400 THEN '2_6h_1d'
              WHEN sec < 604800 THEN '3_1d_7d'
              ELSE '4_over_7d' END AS bucket
  FROM lat
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_users,
       round(count(*) / CAST((SELECT count(*) FROM b) AS DOUBLE), 6) AS share
FROM b GROUP BY bucket ORDER BY bucket
"""


@register("events_time_to_convert", oracle=TTC_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    s2 = (
        ev.join(s1, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
            F.max("t_view").alias("t_view"),
        )
    )
    sec = (
        (F.unix_micros("t_purchase") - F.unix_micros("t_view")) / 1_000_000
    )
    b = materialize(
        s2.where(F.col("t_purchase").isNotNull())
        .select(
            F.when(sec < 3600, "0_under_1h")
            .when(sec < 21600, "1_1h_6h")
            .when(sec < 86400, "2_6h_1d")
            .when(sec < 604800, "3_1d_7d")
            .otherwise("4_over_7d")
            .alias("bucket")
        )
    )  # counts + total share branches
    total = b.agg(F.count(F.lit(1)).cast("double").alias("tot"))
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_users",
            F.round(F.col("n_users") / F.col("tot"), 6).alias("share"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# One-sided CUSUM change detection (round 4): the classic sequential
# detector S_t = max(0, S_{t−1} + (x_t − k)) looks recursive, but has the
# closed window form S_t = P_t − min_{i≤t} P_i with P = prefix sum of
# (x − k) — two ordered per-series windows, no iteration. Run upward on
# each event_type's daily mean value with slack k = overall mean + 0.5σ;
# alarm when S_t clears h = 2σ. The mean-shift query scans candidate
# split points; CUSUM is its streaming-friendly sequential cousin.
# Beyond-reference [NS] (drift family).
# --------------------------------------------------------------------------
CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS x
  FROM events GROUP BY event_type, d
), params AS (
  SELECT event_type, avg(x) + 0.5 * stddev_samp(x) AS k,
         2.0 * stddev_samp(x) AS h
  FROM daily GROUP BY event_type
), pref_t AS (
  SELECT daily.event_type, d, x, h,
         sum(x - k) OVER (PARTITION BY daily.event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pref
  FROM daily JOIN params ON params.event_type = daily.event_type
), p AS (
  SELECT event_type, d, x, h, pref,
         min(pref) OVER (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS minpref
  FROM pref_t
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       round(x, 6) AS daily_mean,
       round(pref - least(minpref, 0.0), 6) AS cusum,
       pref - least(minpref, 0.0) > h AS alarm
FROM p ORDER BY event_type, day
"""


@register("events_cusum_change_detect", oracle=CUSUM_ORACLE)
def events_cusum_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.avg("value").alias("x"))
    params = daily.groupBy("event_type").agg(
        (F.avg("x") + 0.5 * F.stddev_samp("x")).alias("k"),
        (2.0 * F.stddev_samp("x")).alias("h"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    j = daily.join(F.broadcast(params), "event_type")
    pref = F.sum(F.col("x") - F.col("k")).over(w)
    p = j.select(
        "event_type", "d", "x", "h", pref.alias("pref")
    ).select(
        "event_type",
        "d",
        "x",
        "h",
        "pref",
        F.min("pref").over(w).alias("minpref"),
    )
    cusum = F.col("pref") - F.least(F.col("minpref"), F.lit(0.0))
    return p.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round("x", 6).alias("daily_mean"),
        F.round(cusum, 6).alias("cusum"),
        (cusum > F.col("h")).alias("alarm"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Cohort LTV curve (round 4): cumulative purchase revenue per signup
# cohort (week of first purchase) across weeks-since-signup — the revenue
# companion of the retention matrix. Per-user first-purchase week via one
# grouped min, week offsets by exact integer day arithmetic, one ordered
# running sum per cohort; money is DECIMAL until the final cast.
# --------------------------------------------------------------------------
LTV_ORACLE = """
WITH p AS (
  SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS v,
         date_trunc('week', ts) AS w
  FROM events WHERE event_type = 'purchase'
), first_w AS (
  SELECT user_id, min(w) AS cohort FROM p GROUP BY user_id
), sized AS (
  SELECT cohort, count(*) AS cohort_users FROM first_w GROUP BY cohort
), wk AS (
  SELECT first_w.cohort, p.user_id,
         CAST(date_diff('day', first_w.cohort, p.w) // 7 AS BIGINT)
           AS weeks_since,
         p.v
  FROM p JOIN first_w ON first_w.user_id = p.user_id
), agg AS (
  SELECT cohort, weeks_since, sum(v) AS rev FROM wk GROUP BY cohort, weeks_since
)
SELECT strftime(agg.cohort, '%Y-%m-%d') AS cohort_week,
       sized.cohort_users,
       agg.weeks_since,
       CAST(sum(agg.rev) OVER (PARTITION BY agg.cohort ORDER BY agg.weeks_since
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS cum_revenue
FROM agg JOIN sized ON sized.cohort = agg.cohort
ORDER BY cohort_week, weeks_since
"""


@register("events_cohort_ltv_curve", oracle=LTV_ORACLE)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.date_trunc("week", "ts").alias("w"),
    )
    p = materialize(p)  # first-week + offsets branches
    first_w = p.groupBy("user_id").agg(F.min("w").alias("cohort"))
    sized = first_w.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    wk = p.join(first_w, "user_id").select(
        "cohort",
        F.floor(F.datediff(F.col("w"), F.col("cohort")) / 7).cast("long").alias(
            "weeks_since"
        ),
        "v",
    )
    agg = wk.groupBy("cohort", "weeks_since").agg(F.sum("v").alias("rev"))
    wc = (
        W.partitionBy("cohort")
        .orderBy("weeks_since")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        agg.join(F.broadcast(sized), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "cohort_users",
            "weeks_since",
            F.sum("rev").over(wc).cast("double").alias("cum_revenue"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


# --------------------------------------------------------------------------
# Exponential inter-arrival test (round 4): is each event_type's arrival
# process Poisson? Fit λ̂ = 1/mean(gap) per type, then the one-sample KS
# statistic D = max |F_emp(x) − (1 − e^{−λ̂x})| over the empirical gap
# CDF — the burstiness screen that complements the per-user regularity CV
# (bot flags). CDF steps only at distinct gap values (bounded table), the
# running count is a per-type ordered window over that bounded table, and
# both engines evaluate the same exponential on identical integer-derived
# gaps. Beyond-reference [NS] (drift/stats family).
# --------------------------------------------------------------------------
EXPFIT_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY event_type ORDER BY ts, event_id)
              AS DOUBLE) / 1000000 AS gap
  FROM events
), gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL AND gap > 0),
lam AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n, 1.0 / avg(gap) AS l
  FROM gg GROUP BY event_type
), pv AS (
  SELECT event_type, gap, CAST(count(*) AS BIGINT) AS c
  FROM gg GROUP BY event_type, gap
), cum AS (
  SELECT event_type, gap, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY gap
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM pv
)
SELECT cum.event_type,
       CAST(lam.n AS BIGINT) AS n_gaps,
       round(lam.l, 6) AS lambda_hat,
       round(max(abs(cum.cc / lam.n - (1.0 - exp(-lam.l * cum.gap)))), 6)
         AS ks_stat
FROM cum JOIN lam ON lam.event_type = cum.event_type
GROUP BY cum.event_type, lam.n, lam.l
ORDER BY cum.event_type
"""


@register("events_exponential_fit_test", oracle=EXPFIT_ORACLE)
def events_exponential_fit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).cast("double")
            / 1e6
        ).alias("gap"),
    ).where(F.col("gap").isNotNull() & (F.col("gap") > 0))
    lam = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (1.0 / F.avg("gap")).alias("l"),
    )
    pv = g.groupBy("event_type", "gap").agg(F.count(F.lit(1)).alias("c"))
    wc = (
        W.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = pv.select("event_type", "gap", F.sum("c").over(wc).alias("cc"))
    dev = F.abs(
        F.col("cc") / F.col("n") - (1.0 - F.exp(-F.col("l") * F.col("gap")))
    )
    return (
        cum.join(F.broadcast(lam), "event_type")
        .groupBy("event_type", "n", "l")
        .agg(F.round(F.max(dev), 6).alias("ks_stat"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_gaps"),
            F.round("l", 6).alias("lambda_hat"),
            "ks_stat",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Error-burst clustering (round 4; distributed round 6 per VERDICT r5
# #2): consecutive error events less than 5 minutes apart form a burst
# (gaps-and-islands on the global error stream); per burst: size, span.
# The incident-detection shape ("one outage, not 400 alerts"). Scale:
# the former rare-event exemption (one unpartitioned window over the
# filtered error table) relied on a DATA assumption — at 100× "errors
# only" is not a bound. Now operators/ranking.global_islands: one range
# exchange, per-partition break scan, boundary islands stitched through
# the partition-count-sized lasts frame — no SinglePartition anywhere,
# identical island numbering.
# --------------------------------------------------------------------------
BURST_ORACLE = """
WITH e AS (
  SELECT event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 300000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events WHERE event_type = 'error'
  WINDOW w AS (ORDER BY ts, event_id)
), g AS (
  SELECT event_id, ts,
         sum(brk) OVER (ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS burst_id
  FROM e
)
SELECT CAST(burst_id AS BIGINT) AS burst_id,
       CAST(count(*) AS BIGINT) AS n_errors,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS burst_start,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
         AS span_seconds
FROM g GROUP BY burst_id
HAVING count(*) >= 3
ORDER BY burst_id
"""


@register("events_error_bursts", oracle=BURST_ORACLE)
def events_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_islands

    _TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", F.unix_micros("ts").alias("ts_us")
    )
    g = global_islands(
        err,
        "ts_us",
        [F.col("ts_us"), F.col("event_id")],
        gap=300_000_000,
        out_col="burst_id",
    )
    return (
        g.groupBy("burst_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.date_format(F.min("ts"), _TS_FMT).alias("burst_start"),
            F.floor(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000
            )
            .cast("long")
            .alias("span_seconds"),
        )
        .where(F.col("n_errors") >= 3)
        .select(
            F.col("burst_id").cast("long").alias("burst_id"),
            "n_errors",
            "burst_start",
            "span_seconds",
        )
        .orderBy("burst_id")
    )


# --------------------------------------------------------------------------
# One-way ANOVA (round 4): does mean document length differ across
# languages? F = (between-group SS / (k−1)) / (within-group SS / (N−k))
# from one grouped-moments pass + one grand-mean combine — completing the
# hypothesis-test suite (t-test: 2 groups; chi-square: categorical;
# ANOVA: k groups). All moments from exact integer counts.
# --------------------------------------------------------------------------
ANOVA_ORACLE = """
WITH g AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n, avg(n_chars) AS m,
         var_samp(n_chars) AS v
  FROM documents GROUP BY lang
), grand AS (
  SELECT sum(n) AS nn, sum(n * m) / sum(n) AS gm,
         CAST(count(*) AS DOUBLE) AS k
  FROM g
), ss AS (
  SELECT sum(g.n * (g.m - grand.gm) * (g.m - grand.gm)) AS ssb,
         sum((g.n - 1) * g.v) AS ssw,
         max(grand.nn) AS nn, max(grand.k) AS k
  FROM g CROSS JOIN grand
)
SELECT CAST(k AS BIGINT) AS n_groups,
       CAST(nn AS BIGINT) AS n_docs,
       round(ssb / (k - 1), 6) AS ms_between,
       round(ssw / (nn - k), 6) AS ms_within,
       round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS f_stat
FROM ss
"""


@register("docs_length_anova", oracle=ANOVA_ORACLE)
def docs_length_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("n_chars").alias("m"),
        F.var_samp("n_chars").alias("v"),
    )
    g = materialize(g)  # grand mean + SS branches
    grand = g.agg(
        F.sum("n").alias("nn"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    ss = g.crossJoin(F.broadcast(grand)).agg(
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
        F.max("nn").alias("nn"),
        F.max("k").alias("k"),
    )
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("nn") - F.col("k"))
    return ss.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nn").cast("long").alias("n_docs"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# Deterministic multiplier bootstrap (round 4): a distributed confidence
# interval for mean order value WITHOUT RNG state — B=20 replicates where
# each row's weight in replicate b is md5(b|key) mod 4 mapped to
# {0,1,1,2} (mean 1, variance ½ — a valid multiplier-bootstrap scheme,
# the deterministic cousin of the Poisson bootstrap that distributed
# systems use because resampling n rows with replacement is impossible
# map-side). Replicate means → spread of the replicate distribution
# reported as the CI half-width proxy. Everything is one explode(B) +
# grouped aggregate; fully reproducible in SQL.
# --------------------------------------------------------------------------
_BOOT_B = 20

BOOT_ORACLE = f"""
WITH w AS (
  SELECT b.b,
         o_totalprice AS x,
         CASE CAST(('0x' || substr(md5(CAST(b.b AS VARCHAR) || '|' ||
                                        CAST(o_orderkey AS VARCHAR)), 1, 8))
                   AS BIGINT) % 4
              WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS wt
  FROM orders CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
), reps AS (
  SELECT b, sum(wt * x) / sum(wt) AS rep_mean FROM w GROUP BY b
), base AS (SELECT avg(o_totalprice) AS mean_x FROM orders)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates,
       round(base.mean_x, 6) AS mean_value,
       round(min(reps.rep_mean), 6) AS rep_min,
       round(max(reps.rep_mean), 6) AS rep_max,
       round(stddev_samp(reps.rep_mean), 6) AS boot_se
FROM reps CROSS JOIN base
GROUP BY base.mean_x
"""


@register("orders_bootstrap_ci", oracle=BOOT_ORACLE)
def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    b = F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)])).alias("b")
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    wt = F.when(h == 0, 0).when(h == 3, 2).otherwise(1)
    w = orders.select("o_orderkey", F.col("o_totalprice").alias("x"), b).select(
        "b", "x", wt.alias("wt")
    )
    reps = w.groupBy("b").agg(
        (F.sum(F.col("wt") * F.col("x")) / F.sum("wt")).alias("rep_mean")
    )
    base = orders.agg(F.avg("o_totalprice").alias("mean_x"))
    return (
        reps.crossJoin(F.broadcast(base))
        .groupBy("mean_x")
        .agg(
            F.round(F.min("rep_mean"), 6).alias("rep_min"),
            F.round(F.max("rep_mean"), 6).alias("rep_max"),
            F.round(F.stddev_samp("rep_mean"), 6).alias("boot_se"),
        )
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            F.round("mean_x", 6).alias("mean_value"),
            "rep_min",
            "rep_max",
            "boot_se",
        )
    )


# --------------------------------------------------------------------------
# Transition entropy (round 4): Shannon entropy of each state's outgoing
# transition distribution in the per-user event chain — low entropy means
# the next action is predictable from the current one (scripted/bot
# flows), high entropy means exploratory behavior; the information-theory
# summary of the Markov transition matrix query. One lead window + two
# grouped aggregates.
# --------------------------------------------------------------------------
TRANS_ENTROPY_ORACLE = """
WITH steps AS (
  SELECT event_type AS s_from,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS s_to
  FROM events
), c AS (
  SELECT s_from, s_to, CAST(count(*) AS DOUBLE) AS n
  FROM steps WHERE s_to IS NOT NULL GROUP BY s_from, s_to
), t AS (
  SELECT s_from, sum(n) AS tot FROM c GROUP BY s_from
)
SELECT c.s_from AS state,
       CAST(t.tot AS BIGINT) AS n_transitions,
       round(-sum((c.n / t.tot) * ln(c.n / t.tot)), 6) AS transition_entropy
FROM c JOIN t ON t.s_from = c.s_from
GROUP BY c.s_from, t.tot
ORDER BY state
"""


@register("events_transition_entropy", oracle=TRANS_ENTROPY_ORACLE)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("s_from"),
        F.lead("event_type").over(w).alias("s_to"),
    ).where(F.col("s_to").isNotNull())
    c = steps.groupBy("s_from", "s_to").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.groupBy("s_from").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (
        c.join(F.broadcast(t), "s_from")
        .groupBy(F.col("s_from").alias("state"), "tot")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("transition_entropy"))
        .select(
            "state",
            F.col("tot").cast("long").alias("n_transitions"),
            "transition_entropy",
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (round 4, session 2): the nonparametric
# companion of events_ab_welch_ttest — same deterministic md5-parity arm
# assignment, but compares click-value DISTRIBUTIONS via pooled ranks, so
# heavy tails can't swamp it. No global window: per-distinct-value counts
# first (O(distinct) rows), then the avg pooled rank comes from the
# distributed prefix sum (operators/ranking.global_running_sum — range
# partition, local scan, broadcast offsets). Rank arithmetic stays EXACT:
# avg ranks are half-integers (dyadic, exactly representable as doubles),
# so the rank-sum R_a and tie correction are bit-identical across engines
# and round() is deterministic. Beyond-reference [NS] (stats family).
# --------------------------------------------------------------------------
MWU_ORACLE = """
WITH assigned AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 AS arm,
         value
  FROM events WHERE event_type = 'click'
), vc AS (
  SELECT value, CAST(count(*) AS BIGINT) AS t,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a
  FROM assigned GROUP BY value
), ranked AS (
  SELECT t, t_a,
         sum(t) OVER (ORDER BY value) - t + (t + 1) / 2.0 AS avg_rank
  FROM vc
), s AS (
  SELECT CAST(sum(t_a) AS DOUBLE) AS na,
         CAST(sum(t - t_a) AS DOUBLE) AS nb,
         sum(t_a * avg_rank) AS ra,
         CAST(sum(t * t * t - t) AS DOUBLE) AS ties
  FROM ranked
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ra - na * (na + 1) / 2.0, 1) AS u_stat,
       round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0
                    * ((na + nb + 1.0)
                       - ties / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat
FROM s
"""


@register("events_mann_whitney_u", oracle=MWU_ORACLE)
def events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    vc = (
        ev.where(F.col("event_type") == "click")
        .select(arm.alias("arm"), "value")
        .groupBy("value")
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("t_a"),
        )
    )
    ranked = global_running_sum(vc, "t", ["value"], out_col="cum_t").select(
        "t",
        "t_a",
        (F.col("cum_t") - F.col("t") + (F.col("t") + 1) / F.lit(2.0)).alias(
            "avg_rank"
        ),
    )
    s = ranked.agg(
        F.sum("t_a").cast("double").alias("na"),
        F.sum(F.col("t") - F.col("t_a")).cast("double").alias("nb"),
        F.sum(F.col("t_a") * F.col("avg_rank")).alias("ra"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("ties"),
    )
    na, nb, ra, ties = F.col("na"), F.col("nb"), F.col("ra"), F.col("ties")
    u = ra - na * (na + 1) / 2
    var = na * nb / 12 * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))
    return s.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - na * nb / 2) / F.sqrt(var), 6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Exponentially time-decayed leaderboard (round 4): popularity with a
# 7-day half-life — score(type) = Σ_events 2^(−age_days/7) as of the
# stream's max timestamp. The standard "trending" ranking: yesterday's
# burst outweighs last month's volume, no window boundary cliff like a
# plain 7-day count. One scan + one grouped sum (map-side combined);
# exact ages in microseconds on the µs axis both engines share. Rounded
# 4 dp: the per-event 2^x terms are transcendental (libm last-ulp), and
# thousands of them sum before rounding.
# --------------------------------------------------------------------------
_DECAY_HL_US = 7.0 * 86_400_000_000.0  # 7-day half-life in microseconds

DECAYED_ORACLE = f"""
WITH mx AS (
  SELECT max(epoch_us(ts)) AS now_us FROM events
), scored AS (
  SELECT event_type,
         pow(2.0, -CAST(now_us - epoch_us(ts) AS DOUBLE) / {_DECAY_HL_US}) AS w
  FROM events CROSS JOIN mx
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(w), 4) AS decayed_score
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


@register("events_decayed_leaderboard", oracle=DECAYED_ORACLE)
def events_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    scored = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.pow(
            F.lit(2.0),
            -(F.col("now_us") - F.unix_micros("ts")).cast("double") / _DECAY_HL_US,
        ).alias("w"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("w"), 4).alias("decayed_score"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Multi-feature OLS via normal equations (round 4): extendedprice ~
# quantity + discount, fit in closed form — the "ML as aggregation"
# pattern that needs no iterative solver at any scale: one pass for the
# means, one for the centered cross-moments, then a 2×2 Cramer solve on
# the driver side of the expression (scalar arithmetic on a one-row
# frame). Centering first is the numeric discipline: raw normal
# equations at n ≈ 10⁶ difference ~1e17 products (catastrophic
# cancellation, the moments-profile lesson); centered moments are
# well-conditioned. R² from the same sums. regr_slope's single-feature
# row (ohlc_trend_forecast) is the builtin sibling; this is the
# multivariate generalization engines don't ship.
# --------------------------------------------------------------------------
OLS_ORACLE = """
WITH mu AS (
  SELECT avg(l_quantity) AS mq, avg(l_discount) AS md,
         avg(l_extendedprice) AS my, CAST(count(*) AS BIGINT) AS n
  FROM lineitem
), cm AS (
  SELECT n, mq, md, my,
         sum((l_quantity - mq) * (l_quantity - mq)) AS sqq,
         sum((l_quantity - mq) * (l_discount - md)) AS sqd,
         sum((l_discount - md) * (l_discount - md)) AS sdd,
         sum((l_quantity - mq) * (l_extendedprice - my)) AS sqy,
         sum((l_discount - md) * (l_extendedprice - my)) AS sdy,
         sum((l_extendedprice - my) * (l_extendedprice - my)) AS syy
  FROM lineitem CROSS JOIN mu
  GROUP BY n, mq, md, my
)
SELECT n,
       round((sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd), 6) AS beta_qty,
       round((sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd), 6) AS beta_disc,
       round(my - (sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd) * mq
                - (sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd) * md,
             4) AS intercept,
       round(1 - (syy - (sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd) * sqy
                      - (sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd) * sdy)
                 / syy, 6) AS r2
FROM cm
"""


@register("lineitem_ols_normal_equations", oracle=OLS_ORACLE)
def lineitem_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_discount").cast("double").alias("d"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    mu = li.agg(
        F.avg("q").alias("mq"), F.avg("d").alias("md"),
        F.avg("y").alias("my"), F.count(F.lit(1)).alias("n"),
    )
    cq, cd, cy = (
        F.col("q") - F.col("mq"),
        F.col("d") - F.col("md"),
        F.col("y") - F.col("my"),
    )
    cm = (
        li.crossJoin(F.broadcast(mu))
        .groupBy("n", "mq", "md", "my")
        .agg(
            F.sum(cq * cq).alias("sqq"),
            F.sum(cq * cd).alias("sqd"),
            F.sum(cd * cd).alias("sdd"),
            F.sum(cq * cy).alias("sqy"),
            F.sum(cd * cy).alias("sdy"),
            F.sum(cy * cy).alias("syy"),
        )
    )
    det = F.col("sqq") * F.col("sdd") - F.col("sqd") * F.col("sqd")
    b1 = (F.col("sqy") * F.col("sdd") - F.col("sdy") * F.col("sqd")) / det
    b2 = (F.col("sdy") * F.col("sqq") - F.col("sqy") * F.col("sqd")) / det
    sse = F.col("syy") - b1 * F.col("sqy") - b2 * F.col("sdy")
    return cm.select(
        "n",
        F.round(b1, 6).alias("beta_qty"),
        F.round(b2, 6).alias("beta_disc"),
        F.round(F.col("my") - b1 * F.col("mq") - b2 * F.col("md"), 4).alias("intercept"),
        F.round(1 - sse / F.col("syy"), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Difference-in-differences (round 4): the experimentation-analytics
# estimator for rollouts without randomized holdout — treated users'
# post-vs-pre change minus control users' post-vs-pre change cancels both
# the level difference between groups and the secular time trend:
#   DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre),
#   SE  = sqrt(Σ s²_cell/n_cell)  (the 2×2 interaction contrast).
# Treatment = deterministic md5 user bucket (the Welch-t-test arm hash),
# cut = 2024-01-16. One grouped aggregation over four cells; the 2×2
# pivot assembles driver-free via conditional aggregation.
# --------------------------------------------------------------------------
_DID_CUT = "2024-01-16"

DID_ORACLE = f"""
WITH base AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS treat,
         CASE WHEN ts >= TIMESTAMP '{_DID_CUT}' THEN 1 ELSE 0 END AS post,
         value
  FROM events WHERE event_type = 'click'
), cells AS (
  SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
         avg(value) AS m, var_samp(value) AS s2
  FROM base GROUP BY treat, post
), wide AS (
  SELECT
    max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS tp,
    max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS tq,
    max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS cp,
    max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS cq,
    sum(s2 / n) AS var_sum,
    CAST(sum(n) AS BIGINT) AS n_total
  FROM cells
)
SELECT n_total,
       round(tp - tq, 6) AS treated_delta,
       round(cp - cq, 6) AS control_delta,
       round((tp - tq) - (cp - cq), 6) AS did_estimate,
       round(sqrt(var_sum), 6) AS did_se,
       round(((tp - tq) - (cp - cq)) / sqrt(var_sum), 6) AS z_stat
FROM wide
"""


@register("events_diff_in_diff", oracle=DID_ORACLE)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    treat = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2
    )
    post = F.when(F.col("ts") >= F.lit(_DID_CUT).cast("timestamp"), 1).otherwise(0)
    cells = (
        ev.select(treat.alias("treat"), post.alias("post"), "value")
        .groupBy("treat", "post")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("s2"),
        )
    )
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("m"))
    )
    wide = cells.agg(
        pick(1, 1).alias("tp"),
        pick(1, 0).alias("tq"),
        pick(0, 1).alias("cp"),
        pick(0, 0).alias("cq"),
        F.sum(F.col("s2") / F.col("n")).alias("var_sum"),
        F.sum("n").alias("n_total"),
    )
    did = (F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq"))
    return wide.select(
        "n_total",
        F.round(F.col("tp") - F.col("tq"), 6).alias("treated_delta"),
        F.round(F.col("cp") - F.col("cq"), 6).alias("control_delta"),
        F.round(did, 6).alias("did_estimate"),
        F.round(F.sqrt("var_sum"), 6).alias("did_se"),
        F.round(did / F.sqrt("var_sum"), 6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Wilson score interval (round 4): the binomial proportion CI that stays
# inside [0,1] and behaves at small n / extreme p where the Wald
# interval collapses — the dashboard-grade error bar for per-type error
# rates. Closed form, z = 1.96:
#   (p̂ + z²/2n ± z·sqrt(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n).
# One grouped pass; everything after is per-row arithmetic.
# --------------------------------------------------------------------------
_WILSON_Z = 1.96

WILSON_ORACLE = f"""
WITH agg AS (
  SELECT user_id % 10 AS cohort,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS errs
  FROM events GROUP BY cohort
)
SELECT cohort, n, errs,
       round(CAST(errs AS DOUBLE) / n, 6) AS p_hat,
       round((CAST(errs AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
              - {_WILSON_Z} * sqrt((CAST(errs AS DOUBLE) / n)
                                   * (1 - CAST(errs AS DOUBLE) / n) / n
                                   + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
             / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
       round((CAST(errs AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
              + {_WILSON_Z} * sqrt((CAST(errs AS DOUBLE) / n)
                                   * (1 - CAST(errs AS DOUBLE) / n) / n
                                   + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
             / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
FROM agg
ORDER BY cohort
"""


@register("events_wilson_error_rates", oracle=WILSON_ORACLE)
def events_wilson_error_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("errs"),
    )
    z = _WILSON_Z
    p = F.col("errs").cast("double") / F.col("n")
    half = z * F.sqrt(p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n")))
    center = p + z * z / (2.0 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    return agg.select(
        "cohort", "n", "errs",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("cohort")


# --------------------------------------------------------------------------
# Distributed 5-fold cross-validation of the OLS model (round 4): the
# "CV without 5 training jobs" algebra — per-fold moment sums (about the
# GLOBAL means, so products stay well-conditioned) are computed ONCE;
# each fold's training moments are then totals − fold (leave-one-out
# subtraction), the 2×2 normal equations solve per fold in closed form,
# and the held-out MSE expands into the SAME fold sums:
#   Σ(y−a−b₁q−b₂d)² = Σy² + na² + b₁²Σq² + b₂²Σd² − 2aΣy − 2b₁Σqy
#                     − 2b₂Σdy + 2ab₁Σq + 2ab₂Σd + 2b₁b₂Σqd
# so the whole 5-fold CV costs two linear passes (means, fold sums) —
# no per-fold scan, no residual pass. Folds hash whole orders (grouped
# CV: leakage-free when rows within an order correlate).
# --------------------------------------------------------------------------
KFOLD_ORACLE = """
WITH mu AS (
  SELECT avg(l_quantity) AS gq, avg(l_discount) AS gd,
         avg(l_extendedprice) AS gy
  FROM lineitem
), c AS (
  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5
           AS fold,
         l_quantity - gq AS q, l_discount - gd AS d, l_extendedprice - gy AS y
  FROM lineitem CROSS JOIN mu
), fs AS (
  SELECT fold, CAST(count(*) AS DOUBLE) AS n,
         sum(q) AS sq, sum(d) AS sd, sum(y) AS sy,
         sum(q*q) AS sqq, sum(q*d) AS sqd, sum(d*d) AS sdd,
         sum(q*y) AS sqy, sum(d*y) AS sdy, sum(y*y) AS syy
  FROM c GROUP BY fold
), tot AS (
  SELECT sum(n) AS n, sum(sq) AS sq, sum(sd) AS sd, sum(sy) AS sy,
         sum(sqq) AS sqq, sum(sqd) AS sqd, sum(sdd) AS sdd,
         sum(sqy) AS sqy, sum(sdy) AS sdy
  FROM fs
), loo AS (
  SELECT fold, fs.n AS nh, fs.sq AS hsq, fs.sd AS hsd, fs.sy AS hsy,
         fs.sqq AS hsqq, fs.sqd AS hsqd, fs.sdd AS hsdd,
         fs.sqy AS hsqy, fs.sdy AS hsdy, fs.syy AS hsyy,
         tot.n - fs.n AS nt,
         tot.sq - fs.sq AS tsq, tot.sd - fs.sd AS tsd, tot.sy - fs.sy AS tsy,
         tot.sqq - fs.sqq AS tsqq, tot.sqd - fs.sqd AS tsqd,
         tot.sdd - fs.sdd AS tsdd, tot.sqy - fs.sqy AS tsqy,
         tot.sdy - fs.sdy AS tsdy
  FROM fs CROSS JOIN tot
), fit AS (
  SELECT fold, nh, hsq, hsd, hsy, hsqq, hsqd, hsdd, hsqy, hsdy, hsyy,
         (tsqq - tsq*tsq/nt) AS cqq, (tsqd - tsq*tsd/nt) AS cqd,
         (tsdd - tsd*tsd/nt) AS cdd, (tsqy - tsq*tsy/nt) AS cqy,
         (tsdy - tsd*tsy/nt) AS cdy,
         tsq/nt AS mqt, tsd/nt AS mdt, tsy/nt AS myt
  FROM loo
), coef AS (
  SELECT fold, nh, hsq, hsd, hsy, hsqq, hsqd, hsdd, hsqy, hsdy, hsyy,
         (cqy*cdd - cdy*cqd) / (cqq*cdd - cqd*cqd) AS b1,
         (cdy*cqq - cqy*cqd) / (cqq*cdd - cqd*cqd) AS b2,
         myt - (cqy*cdd - cdy*cqd) / (cqq*cdd - cqd*cqd) * mqt
             - (cdy*cqq - cqy*cqd) / (cqq*cdd - cqd*cqd) * mdt AS a
  FROM fit
)
SELECT fold, CAST(nh AS BIGINT) AS n_holdout,
       round(b1, 6) AS beta_qty, round(b2, 6) AS beta_disc,
       round(sqrt((hsyy + nh*a*a + b1*b1*hsqq + b2*b2*hsdd
                   - 2*a*hsy - 2*b1*hsqy - 2*b2*hsdy
                   + 2*a*b1*hsq + 2*a*b2*hsd + 2*b1*b2*hsqd) / nh), 4)
         AS holdout_rmse
FROM coef
ORDER BY fold
"""


@register("lineitem_kfold_cv_ols", oracle=KFOLD_ORACLE)
def lineitem_kfold_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("q0"),
        F.col("l_discount").cast("double").alias("d0"),
        F.col("l_extendedprice").cast("double").alias("y0"),
    )
    mu = li.agg(
        F.avg("q0").alias("gq"), F.avg("d0").alias("gd"), F.avg("y0").alias("gy")
    )
    fold = (
        F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 5
    )
    c = li.crossJoin(F.broadcast(mu)).select(
        fold.alias("fold"),
        (F.col("q0") - F.col("gq")).alias("q"),
        (F.col("d0") - F.col("gd")).alias("d"),
        (F.col("y0") - F.col("gy")).alias("y"),
    )
    fs = c.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("q").alias("sq"), F.sum("d").alias("sd"), F.sum("y").alias("sy"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("y")).alias("sqy"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    fs = materialize(fs)  # totals + per-fold branches
    tot = fs.agg(
        *[F.sum(x).alias(x) for x in
          ("n", "sq", "sd", "sy", "sqq", "sqd", "sdd", "sqy", "sdy")]
    )
    j = fs.select(
        "fold",
        F.col("n").alias("nh"),
        F.col("sq").alias("hsq"), F.col("sd").alias("hsd"), F.col("sy").alias("hsy"),
        F.col("sqq").alias("hsqq"), F.col("sqd").alias("hsqd"),
        F.col("sdd").alias("hsdd"), F.col("sqy").alias("hsqy"),
        F.col("sdy").alias("hsdy"), F.col("syy").alias("hsyy"),
    ).crossJoin(F.broadcast(tot))
    nt = F.col("n") - F.col("nh")
    tsq, tsd, tsy = (F.col("sq") - F.col("hsq"), F.col("sd") - F.col("hsd"),
                     F.col("sy") - F.col("hsy"))
    cqq = (F.col("sqq") - F.col("hsqq")) - tsq * tsq / nt
    cqd = (F.col("sqd") - F.col("hsqd")) - tsq * tsd / nt
    cdd = (F.col("sdd") - F.col("hsdd")) - tsd * tsd / nt
    cqy = (F.col("sqy") - F.col("hsqy")) - tsq * tsy / nt
    cdy = (F.col("sdy") - F.col("hsdy")) - tsd * tsy / nt
    det = cqq * cdd - cqd * cqd
    b1 = (cqy * cdd - cdy * cqd) / det
    b2 = (cdy * cqq - cqy * cqd) / det
    a = tsy / nt - b1 * (tsq / nt) - b2 * (tsd / nt)
    sse = (
        F.col("hsyy") + F.col("nh") * a * a
        + b1 * b1 * F.col("hsqq") + b2 * b2 * F.col("hsdd")
        - 2 * a * F.col("hsy") - 2 * b1 * F.col("hsqy") - 2 * b2 * F.col("hsdy")
        + 2 * a * b1 * F.col("hsq") + 2 * a * b2 * F.col("hsd")
        + 2 * b1 * b2 * F.col("hsqd")
    )
    return j.select(
        "fold",
        F.col("nh").cast("long").alias("n_holdout"),
        F.round(b1, 6).alias("beta_qty"),
        F.round(b2, 6).alias("beta_disc"),
        F.round(F.sqrt(sse / F.col("nh")), 4).alias("holdout_rmse"),
    ).orderBy("fold")


# --------------------------------------------------------------------------
# Split-conformal prediction intervals (round 4): distribution-free
# coverage for the OLS model — train on folds {2,3,4}, take the
# ⌈(n+1)(1−α)⌉-th smallest ABSOLUTE residual on the calibration fold
# (0), and ŷ ± q̂ then covers a fresh point with probability ≥ 1−α by
# exchangeability alone, no Gaussian assumption. The empirical coverage
# on the untouched test fold (1) rides along as the audit. Training
# reuses the closed-form moment solve; the calibration quantile is one
# windowed rank over the calibration fold only; coverage is one filtered
# aggregate. α = 0.1.
# --------------------------------------------------------------------------
CONFORMAL_ORACLE = """
WITH ri AS (
  SELECT ((l_orderkey * 2654435761) % 4294967296) % 5 AS fold,
         CAST(round(l_quantity) AS HUGEINT) AS qi,
         CAST(round(l_discount * 100) AS HUGEINT) AS di,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS yi
  FROM lineitem
), pf AS (
  SELECT fold, count(*) AS c,
         sum(qi) AS q1, sum(di) AS d1, sum(yi) AS y1,
         sum(qi*qi) AS qq, sum(qi*di) AS qd, sum(di*di) AS dd,
         sum(qi*yi) AS qy, sum(di*yi) AS dy
  FROM ri GROUP BY fold
), mu AS (
  SELECT CAST(sum(q1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS gq,
         CAST(sum(d1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) / 100 AS gd,
         CAST(sum(y1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) / 100 AS gy
  FROM pf
), c AS (
  SELECT ((l_orderkey * 2654435761) % 4294967296) % 5 AS fold,
         l_orderkey, l_linenumber,
         l_quantity - gq AS q, l_discount - gd AS d, l_extendedprice - gy AS y
  FROM lineitem CROSS JOIN mu
), rm AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n,
         CAST(sum(q1) AS DOUBLE) AS rq, CAST(sum(d1) AS DOUBLE) AS rd,
         CAST(sum(y1) AS DOUBLE) AS ry,
         CAST(sum(qq) AS DOUBLE) AS rqq, CAST(sum(qd) AS DOUBLE) AS rqd,
         CAST(sum(dd) AS DOUBLE) AS rdd, CAST(sum(qy) AS DOUBLE) AS rqy,
         CAST(sum(dy) AS DOUBLE) AS rdy
  FROM pf WHERE fold >= 2
), tr AS (
  SELECT n,
         rq - n * gq AS sq,
         rd / 100 - n * gd AS sd,
         ry / 100 - n * gy AS sy,
         rqq - 2 * gq * rq + n * gq * gq AS sqq,
         rqd / 100 - gd * rq - gq * (rd / 100) + n * gq * gd AS sqd,
         rdd / 10000 - 2 * gd * (rd / 100) + n * gd * gd AS sdd,
         rqy / 100 - gy * rq - gq * (ry / 100) + n * gq * gy AS sqy,
         rdy / 10000 - gy * (rd / 100) - gd * (ry / 100) + n * gd * gy AS sdy
  FROM rm CROSS JOIN mu
), coef AS (
  SELECT ((sqy - sq*sy/n)*(sdd - sd*sd/n) - (sdy - sd*sy/n)*(sqd - sq*sd/n))
           / ((sqq - sq*sq/n)*(sdd - sd*sd/n) - (sqd - sq*sd/n)*(sqd - sq*sd/n))
           AS b1,
         ((sdy - sd*sy/n)*(sqq - sq*sq/n) - (sqy - sq*sy/n)*(sqd - sq*sd/n))
           / ((sqq - sq*sq/n)*(sdd - sd*sd/n) - (sqd - sq*sd/n)*(sqd - sq*sd/n))
           AS b2,
         sy/n AS my0, sq/n AS mq0, sd/n AS md0
  FROM tr
), ab AS (
  SELECT b1, b2, my0 - b1*mq0 - b2*md0 AS a FROM coef
), cal AS (
  SELECT abs(y - (a + b1*q + b2*d)) AS r
  FROM c CROSS JOIN ab WHERE fold = 0
), qhat AS (
  SELECT r AS q_alpha,
         CAST((SELECT count(*) FROM cal) AS BIGINT) AS n_cal
  FROM (
    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal
  )
  WHERE rn = CAST(ceil(((SELECT count(*) FROM cal) + 1) * 0.9) AS BIGINT)
), test AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         sum(CASE WHEN abs(y - (a + b1*q + b2*d)) <= q_alpha
                  THEN 1 ELSE 0 END) AS covered
  FROM c CROSS JOIN ab CROSS JOIN qhat WHERE fold = 1
)
SELECT n_cal, round(q_alpha, 4) AS q_alpha, n_test,
       CAST(covered AS BIGINT) AS covered,
       round(CAST(covered AS DOUBLE) / n_test, 6) AS coverage
FROM qhat CROSS JOIN test
"""


@register("lineitem_conformal_intervals", oracle=CONFORMAL_ORACLE)
def lineitem_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("q0"),
        F.col("l_discount").cast("double").alias("d0"),
        F.col("l_extendedprice").cast("double").alias("y0"),
    )
    # exact-integer moment discipline (round-5, caught by the 10x sf1x
    # differential sweep: centered-double summation order shifted the OLS
    # coefficients by ulps and flipped `resid <= q_alpha` for 2 of 1.2M
    # rows): quantity is integer UNITS, discount/price integer CENTS, so
    # every raw moment is an exact BIGINT/HUGEINT integer and the
    # centered moments are derived ALGEBRAICALLY from exact inputs.
    # BIGINT moments stay exact with big headroom: the largest, Σqi·yi,
    # is ≤ 5.5e8/row → overflows int64 only past ~1.6e10 rows (~sf2700);
    # past that the swap is DECIMAL(38,0) at an interpreted-agg cost
    # (the oracle's HUGEINT sums are overflow-proof either way)
    qi = F.round(F.col("q0")).cast("long")
    di = F.round(F.col("d0") * 100).cast("long")
    yi = F.round(F.col("y0") * 100).cast("long")
    # fold assignment: multiplicative hash on the order key, EXACT int64
    # arithmetic in both engines (l_orderkey*K fits int64 to ~sf10^6; the
    # mod-2^32 wrap mixes consecutive keys). Round 6 (VERDICT r5 #6):
    # replaces md5/conv — the per-row md5 was ~0.5 s/pass at sf0.1 in a
    # multi-pass query shape; same per-order fold-grouping property (all
    # lines of an order share a fold), balance verified within 0.5% at
    # sf0.1 in both engines.
    fold = ((F.col("l_orderkey") * F.lit(2654435761)) % F.lit(4294967296)) % 5
    # ---- job 1: ONE distributed moments pass -----------------------------
    # per-fold exact integer partials + min/max — structurally ≤ 5 rows
    # (fold is mod 5), so collecting it driver-side is a metadata-bounded
    # collect, same class as the centroid shortlist
    # (operators/similarity.py) the plan audit already clears. From these
    # 5 rows the driver replicates the oracle's mu → rm → tr → coef chain
    # op-for-op in Python floats (IEEE-754 binary64, identical to both
    # engines' DOUBLE arithmetic on the same exact integer inputs), so
    # the coefficients embedded below as literals are bit-identical to
    # what the r5 broadcast-scalar-frame plan computed — without the
    # ~10 tiny AQE broadcast jobs that plan paid (the 1.26→2.77 s r5
    # exactness tax was mostly this overhead, VERDICT r5 #6).
    pf = (
        li.select(fold.alias("fold"), qi.alias("qi"), di.alias("di"), yi.alias("yi"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("qi").alias("q1"),
            F.sum("di").alias("d1"),
            F.sum("yi").alias("y1"),
            F.sum(F.col("qi") * F.col("qi")).alias("qq"),
            F.sum(F.col("qi") * F.col("di")).alias("qd"),
            F.sum(F.col("di") * F.col("di")).alias("dd"),
            F.sum(F.col("qi") * F.col("yi")).alias("qy"),
            F.sum(F.col("di") * F.col("yi")).alias("dy"),
            F.min("qi").alias("minq"),
            F.max("qi").alias("maxq"),
            F.min("di").alias("mind"),
            F.max("di").alias("maxd"),
            F.min("yi").alias("miny"),
            F.max("yi").alias("maxy"),
        )
        .collect()
    )
    empty = spark.createDataFrame(
        [],
        "n_cal bigint, q_alpha double, n_test bigint, covered bigint, coverage double",
    )
    m = {r["fold"]: r for r in pf}
    if 0 not in m or 1 not in m or not any(f in m for f in (2, 3, 4)):
        return empty
    # mu: global means over ALL folds (oracle CTE `mu`, op-for-op)
    sc_ = sum(r["c"] for r in pf)
    gq = float(sum(r["q1"] for r in pf)) / float(sc_)
    gd = float(sum(r["d1"] for r in pf)) / float(sc_) / 100
    gy = float(sum(r["y1"] for r in pf)) / float(sc_) / 100
    # rm/tr/coef: train folds {2,3,4} (oracle CTEs, op-for-op; integer
    # sums first, floats only after — identical rounding in all engines)
    tf = [r for r in pf if r["fold"] >= 2]
    n = float(sum(r["c"] for r in tf))
    rq = float(sum(r["q1"] for r in tf))
    rd = float(sum(r["d1"] for r in tf))
    ry = float(sum(r["y1"] for r in tf))
    rqq = float(sum(r["qq"] for r in tf))
    rqd = float(sum(r["qd"] for r in tf))
    rdd = float(sum(r["dd"] for r in tf))
    rqy = float(sum(r["qy"] for r in tf))
    rdy = float(sum(r["dy"] for r in tf))
    sq = rq - n * gq
    sd = rd / 100 - n * gd
    sy = ry / 100 - n * gy
    sqq = rqq - 2 * gq * rq + n * gq * gq
    sqd = rqd / 100 - gd * rq - gq * (rd / 100) + n * gq * gd
    sdd = rdd / 10000 - 2 * gd * (rd / 100) + n * gd * gd
    sqy = rqy / 100 - gy * rq - gq * (ry / 100) + n * gq * gy
    sdy = rdy / 10000 - gy * (rd / 100) - gd * (ry / 100) + n * gd * gy
    cqq = sqq - sq * sq / n
    cqd = sqd - sq * sd / n
    cdd = sdd - sd * sd / n
    cqy = sqy - sq * sy / n
    cdy = sdy - sd * sy / n
    det = cqq * cdd - cqd * cqd
    if det == 0:
        return empty
    b1 = (cqy * cdd - cdy * cqd) / det
    b2 = (cdy * cqq - cqy * cqd) / det
    a = sy / n - b1 * (sq / n) - b2 * (sd / n)
    n_cal = m[0]["c"]
    k = math.ceil((n_cal + 1) * 0.9)
    if k > n_cal:
        return empty  # oracle: rank k never matches → empty via the join
    # residual expression — the SAME IEEE tree as the oracle's
    # `abs(y - (a + b1*q + b2*d))` over centered columns, with the
    # coefficients as literals
    rexpr = F.abs(
        (F.col("y0") - F.lit(gy))
        - (
            F.lit(a)
            + F.lit(b1) * (F.col("q0") - F.lit(gq))
            + F.lit(b2) * (F.col("d0") - F.lit(gd))
        )
    )
    cal = li.where(fold == 0).select(rexpr.alias("r"))
    # residual bound from the SAME moments pass by interval arithmetic
    # (q0 = qi, d0 = di/100, y0 = yi/100 exactly): |r| ≤ max|y-gy| + |a|
    # + |b1|·max|q-gq| + |b2|·max|d-gd| over fold 0. A loose — or even
    # undershooting — bound only coarsens the selector's buckets, never
    # the ordering (clamped-monotone bucket map), so no epsilon games.
    f0 = m[0]
    hi = (
        max(abs(f0["miny"] / 100.0 - gy), abs(f0["maxy"] / 100.0 - gy))
        + abs(a)
        + abs(b1) * max(abs(f0["minq"] - gq), abs(f0["maxq"] - gq))
        + abs(b2) * max(abs(f0["mind"] / 100.0 - gd), abs(f0["maxd"] / 100.0 - gd))
    )
    # ---- job 2 (inside the operator): bounded histogram → target bucket;
    # returned plan ranks only that bucket (~n_cal/1024 rows, window
    # PARTITIONED by the bucket id). Exact order statistic with NO
    # data-sized sort, range exchange, or single-partition window —
    # round 6, VERDICT r5 #6. (Exact rank is the conformal guarantee;
    # the lossy swap at extreme scale is approx_percentile.)
    from ..operators.ranking import histogram_select_kth_eager

    qhat = histogram_select_kth_eager(
        cal, "r", k, 0.0, hi, out_col="q_alpha", buckets=1024
    )
    # ---- the RETURNED (lazy) plan: candidate-bucket ranking × test-fold
    # coverage — both distributed scans; the driver never holds row data
    test = (
        li.where(fold == 1)
        .select(rexpr.alias("r"))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("r") <= F.col("q_alpha"), 1).otherwise(0)
            ).alias("covered"),
            F.first("q_alpha").alias("q_alpha"),
        )
    )
    return test.select(
        F.lit(n_cal).cast("long").alias("n_cal"),
        F.round("q_alpha", 4).alias("q_alpha"),
        "n_test",
        F.col("covered").cast("long").alias("covered"),
        F.round(F.col("covered").cast("double") / F.col("n_test"), 6).alias("coverage"),
    )


# --------------------------------------------------------------------------
# Shapley (LMG) R² decomposition (round 4): "which feature matters" done
# order-fairly — a feature's contribution is its marginal R² averaged
# over both entry orders (the exact Shapley value of the R² game; LMG /
# Lindeman-Merenda-Gold). With two features it is closed-form:
#   φ_q = ½[R²(q) + (R²(q,d) − R²(d))],  φ_d symmetric,  φ_q + φ_d = R²(q,d)
# — the attribution sums exactly to the model's R², which correlated
# regressors' naive per-feature R²s never do. All terms come from the
# same centered-moment aggregation the OLS row uses: one pass.
# --------------------------------------------------------------------------
LMG_ORACLE = """
WITH mu AS (
  SELECT avg(l_quantity) AS gq, avg(l_discount) AS gd,
         avg(l_extendedprice) AS gy
  FROM lineitem
), cm AS (
  SELECT sum((l_quantity-gq)*(l_quantity-gq)) AS cqq,
         sum((l_quantity-gq)*(l_discount-gd)) AS cqd,
         sum((l_discount-gd)*(l_discount-gd)) AS cdd,
         sum((l_quantity-gq)*(l_extendedprice-gy)) AS cqy,
         sum((l_discount-gd)*(l_extendedprice-gy)) AS cdy,
         sum((l_extendedprice-gy)*(l_extendedprice-gy)) AS cyy
  FROM lineitem CROSS JOIN mu
), r2 AS (
  SELECT cqy*cqy/(cqq*cyy) AS r2_q,
         cdy*cdy/(cdd*cyy) AS r2_d,
         ((cqy*cdd - cdy*cqd)/(cqq*cdd - cqd*cqd)*cqy
          + (cdy*cqq - cqy*cqd)/(cqq*cdd - cqd*cqd)*cdy) / cyy AS r2_both
  FROM cm
)
SELECT round(r2_q, 6) AS r2_qty_alone,
       round(r2_d, 6) AS r2_disc_alone,
       round(r2_both, 6) AS r2_full,
       round(0.5 * (r2_q + (r2_both - r2_d)), 6) AS shapley_qty,
       round(0.5 * (r2_d + (r2_both - r2_q)), 6) AS shapley_disc
FROM r2
"""


@register("lineitem_r2_shapley_lmg", oracle=LMG_ORACLE)
def lineitem_r2_shapley_lmg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("q0"),
        F.col("l_discount").cast("double").alias("d0"),
        F.col("l_extendedprice").cast("double").alias("y0"),
    )
    mu = li.agg(
        F.avg("q0").alias("gq"), F.avg("d0").alias("gd"), F.avg("y0").alias("gy")
    )
    cq, cd, cy = (
        F.col("q0") - F.col("gq"),
        F.col("d0") - F.col("gd"),
        F.col("y0") - F.col("gy"),
    )
    cm = li.crossJoin(F.broadcast(mu)).agg(
        F.sum(cq * cq).alias("cqq"), F.sum(cq * cd).alias("cqd"),
        F.sum(cd * cd).alias("cdd"), F.sum(cq * cy).alias("cqy"),
        F.sum(cd * cy).alias("cdy"), F.sum(cy * cy).alias("cyy"),
    )
    det = F.col("cqq") * F.col("cdd") - F.col("cqd") * F.col("cqd")
    b1 = (F.col("cqy") * F.col("cdd") - F.col("cdy") * F.col("cqd")) / det
    b2 = (F.col("cdy") * F.col("cqq") - F.col("cqy") * F.col("cqd")) / det
    r2_q = F.col("cqy") * F.col("cqy") / (F.col("cqq") * F.col("cyy"))
    r2_d = F.col("cdy") * F.col("cdy") / (F.col("cdd") * F.col("cyy"))
    r2_both = (b1 * F.col("cqy") + b2 * F.col("cdy")) / F.col("cyy")
    return cm.select(
        F.round(r2_q, 6).alias("r2_qty_alone"),
        F.round(r2_d, 6).alias("r2_disc_alone"),
        F.round(r2_both, 6).alias("r2_full"),
        F.round(0.5 * (r2_q + (r2_both - r2_d)), 6).alias("shapley_qty"),
        F.round(0.5 * (r2_d + (r2_both - r2_q)), 6).alias("shapley_disc"),
    )


# --------------------------------------------------------------------------
# E-value sequential test (round 4): anytime-valid A/B monitoring — the
# fix for the "peeked at the dashboard daily and shipped on day 9"
# false-positive machine. The e-process E_n = exp(λS_n − nλ²σ²/2) over
# daily treatment-control mean differences is a test martingale under
# H₀ (no effect), so by Ville's inequality P(sup E_n ≥ 1/α) ≤ α: the
# running max can be checked EVERY day with no multiplicity correction.
# λ = 0.05, σ² plugged in from the pooled daily-diff variance (the
# standard practical variant; exact validity needs known σ — stated
# honestly). Day-grain cumulative windows only.
# --------------------------------------------------------------------------
_EV_LAMBDA = 0.05

EVALUE_ORACLE = f"""
WITH base AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS arm,
         value
  FROM events WHERE event_type = 'click'
), daily AS (
  SELECT d,
         avg(CASE WHEN arm = 1 THEN value END)
           - avg(CASE WHEN arm = 0 THEN value END) AS diff
  FROM base GROUP BY d
), sigma AS (
  SELECT var_samp(diff) AS s2 FROM daily
), cum AS (
  SELECT d, diff,
         sum(diff) OVER (ORDER BY d) AS s_n,
         row_number() OVER (ORDER BY d) AS n,
         s2
  FROM daily CROSS JOIN sigma
), ev AS (
  SELECT d, n, diff, s_n,
         exp({_EV_LAMBDA} * s_n - n * {_EV_LAMBDA} * {_EV_LAMBDA} * s2 / 2) AS e
  FROM cum
)
SELECT strftime(d, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_days,
       round(diff, 6) AS daily_diff,
       round(e, 6) AS e_value,
       round(max(e) OVER (ORDER BY d), 6) AS e_max,
       max(e) OVER (ORDER BY d) >= 20 AS rejected_at_005
FROM ev
ORDER BY day
"""


@register("events_evalue_sequential", oracle=EVALUE_ORACLE)
def events_evalue_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2
    )
    daily = (
        ev.select(F.date_trunc("day", "ts").alias("d"), arm.alias("arm"), "value")
        .groupBy("d")
        .agg(
            (
                F.avg(F.when(F.col("arm") == 1, F.col("value")))
                - F.avg(F.when(F.col("arm") == 0, F.col("value")))
            ).alias("diff")
        )
    )
    sigma = daily.agg(F.var_samp("diff").alias("s2"))
    # day-axis cumulative windows (bounded day-grain exemption)
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    wn = W.orderBy("d")
    lam = _EV_LAMBDA
    cum = daily.crossJoin(F.broadcast(sigma)).select(
        "d", "diff", "s2",
        F.sum("diff").over(wd).alias("s_n"),
        F.row_number().over(wn).alias("n"),
    )
    e = F.exp(lam * F.col("s_n") - F.col("n") * lam * lam * F.col("s2") / 2)
    withe = cum.withColumn("e", e)
    emax = F.max("e").over(wd)
    return withe.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_days"),
        F.round("diff", 6).alias("daily_diff"),
        F.round("e", 6).alias("e_value"),
        F.round(emax, 6).alias("e_max"),
        (emax >= 20).alias("rejected_at_005"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# HBOS outlier scoring (Goldstein & Dengel 2012): histogram-based outlier
# score = Σ_features −ln(p(feature bin)) under an independence assumption.
# The anomaly-detection workhorse when isolation forests are too slow /
# too random for an audit trail: each feature's histogram is ONE map-side
# partial agg over a bounded key space (value bins + hours + event types),
# the score pass is three broadcast join-backs — no model state, fully
# mergeable across shards, deterministic. Complements MAD (per-type
# univariate) with a multi-feature joint rarity score. Top-20 rarest
# events, ties on event_id.
# --------------------------------------------------------------------------
_HBOS_BINW = 50.0
_HBOS_TOPK = 20

HBOS_ORACLE = f"""
WITH feat AS (
  SELECT event_id,
         CAST(floor(value / {_HBOS_BINW}) AS BIGINT) AS vbin,
         CAST(hour(ts) AS BIGINT) AS hbin,
         event_type
  FROM events
), n AS ( SELECT CAST(count(*) AS DOUBLE) AS n FROM feat ),
vh AS ( SELECT vbin, count(*) AS c FROM feat GROUP BY vbin ),
hh AS ( SELECT hbin, count(*) AS c FROM feat GROUP BY hbin ),
th AS ( SELECT event_type, count(*) AS c FROM feat GROUP BY event_type ),
scored AS (
  SELECT f.event_id, f.vbin, f.hbin, f.event_type,
         -ln(vh.c / n.n) - ln(hh.c / n.n) - ln(th.c / n.n) AS s
  FROM feat f
  JOIN vh ON vh.vbin = f.vbin
  JOIN hh ON hh.hbin = f.hbin
  JOIN th ON th.event_type = f.event_type
  CROSS JOIN n
)
SELECT event_id, vbin, hbin, event_type, round(s, 6) AS hbos_score
FROM scored
ORDER BY round(s, 6) DESC, event_id
LIMIT {_HBOS_TOPK}
"""


@register("events_hbos_outliers", oracle=HBOS_ORACLE)
def events_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        "event_id",
        F.floor(F.col("value") / _HBOS_BINW).cast("bigint").alias("vbin"),
        F.hour("ts").cast("bigint").alias("hbin"),
        "event_type",
    )
    feat = materialize(feat)  # histogram + score branches
    n = feat.agg(F.count(F.lit(1)).cast("double").alias("n"))
    vh = feat.groupBy("vbin").agg(F.count(F.lit(1)).alias("cv"))
    hh = feat.groupBy("hbin").agg(F.count(F.lit(1)).alias("ch"))
    th = feat.groupBy("event_type").agg(F.count(F.lit(1)).alias("ct"))
    s = (
        -F.log(F.col("cv") / F.col("n"))
        - F.log(F.col("ch") / F.col("n"))
        - F.log(F.col("ct") / F.col("n"))
    )
    return (
        feat.join(F.broadcast(vh), "vbin")
        .join(F.broadcast(hh), "hbin")
        .join(F.broadcast(th), "event_type")
        .crossJoin(F.broadcast(n))
        .select(
            "event_id",
            "vbin",
            "hbin",
            "event_type",
            F.round(s, 6).alias("hbos_score"),
        )
        .orderBy(F.col("hbos_score").desc(), "event_id")
        .limit(_HBOS_TOPK)
    )


# --------------------------------------------------------------------------
# CUPED variance reduction (Deng et al., WSDM'13): the standard experiment
# -analysis adjustment — y_cuped = y − θ·(x − mean(x)) with x a PRE-period
# covariate and θ = cov(x, y)/var(x) pooled across arms, provably unbiased
# for the treatment effect while shrinking variance by corr². Pipeline:
# one groupBy(user) builds (pre, post) sums, one tiny agg computes θ and
# mean(x) (broadcast back), per-arm moments close it out. Deterministic
# arms via user_id parity (the md5-split discipline would also do).
# Completes the experimentation family: Welch t, diff-in-diff, e-values,
# Wilson — this is the variance-reduction preprocessor they'd run on.
# --------------------------------------------------------------------------
_CUPED_CUT = "2024-01-16"

CUPED_ORACLE = f"""
WITH peruser AS (
  SELECT user_id, user_id % 2 AS arm,
         SUM(CASE WHEN ts <  TIMESTAMP '{_CUPED_CUT}' THEN value ELSE 0 END) AS x,
         SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}' THEN value ELSE 0 END) AS y
  FROM events GROUP BY user_id
), theta AS (
  SELECT covar_samp(x, y) / var_samp(x) AS th, avg(x) AS mx FROM peruser
), adj AS (
  SELECT arm, y, y - th * (x - mx) AS yc FROM peruser CROSS JOIN theta
)
SELECT arm, CAST(count(*) AS BIGINT) AS n,
       round(avg(y), 4) AS mean_y,
       round(var_samp(y), 2) AS var_y,
       round(avg(yc), 4) AS mean_y_cuped,
       round(var_samp(yc), 2) AS var_y_cuped,
       round(1.0 - var_samp(yc) / var_samp(y), 4) AS var_reduction
FROM adj GROUP BY arm
ORDER BY arm
"""


@register("events_cuped_adjustment", oracle=CUPED_ORACLE)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    peruser = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    theta = peruser.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("th"),
        F.avg("x").alias("mx"),
    )
    adj = peruser.crossJoin(F.broadcast(theta)).select(
        "arm",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))).alias("yc"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.var_samp("y"), 2).alias("var_y"),
            F.round(F.avg("yc"), 4).alias("mean_y_cuped"),
            F.round(F.var_samp("yc"), 2).alias("var_y_cuped"),
            F.round(1.0 - F.var_samp("yc") / F.var_samp("y"), 4).alias(
                "var_reduction"
            ),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# Sequential-pattern support (GSP length-2, Srikant & Agrawal '96): for
# every ordered event-type pair ⟨A → B⟩, how many users exhibit A-then-B
# at least once, i.e. min(ts_A) < max(ts_B) — the seed statistic of
# sequence mining and funnel discovery (events_funnel_stages assumes an
# ordering; this query is how you FIND it). One groupBy builds the
# (user, type, min_ts, max_ts) profile; the pattern join is per-user on
# the type-cardinality² grid (25 rows/user here — bounded by the type
# alphabet, never by events²). Support = antecedent-consequent users /
# all users.
# --------------------------------------------------------------------------

SEQ_SUPPORT_ORACLE = """
WITH prof AS (
  SELECT user_id, event_type, min(ts) AS mn, max(ts) AS mx
  FROM events GROUP BY user_id, event_type
), nu AS (
  SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM events
), pat AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
         CAST(count(*) AS BIGINT) AS n_users_seq
  FROM prof a
  JOIN prof b ON b.user_id = a.user_id AND b.event_type <> a.event_type
  WHERE a.mn < b.mx
  GROUP BY a.event_type, b.event_type
)
SELECT antecedent, consequent, n_users_seq,
       round(n_users_seq / nu.n_users, 6) AS support
FROM pat CROSS JOIN nu
ORDER BY antecedent, consequent
"""


@register("events_sequence_support", oracle=SEQ_SUPPORT_ORACLE)
def events_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    prof = materialize(prof)  # both sides of the grid join
    nu = ev.agg(F.countDistinct("user_id").cast("double").alias("n_users"))
    a = prof.select(
        "user_id", F.col("event_type").alias("antecedent"), F.col("mn").alias("amn")
    )
    b = prof.select(
        "user_id", F.col("event_type").alias("consequent"), F.col("mx").alias("bmx")
    )
    pat = (
        a.join(b, "user_id")
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("amn") < F.col("bmx"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users_seq"))
    )
    return (
        pat.crossJoin(F.broadcast(nu))
        .select(
            "antecedent",
            "consequent",
            "n_users_seq",
            F.round(F.col("n_users_seq") / F.col("n_users"), 6).alias("support"),
        )
        .orderBy("antecedent", "consequent")
    )


# --------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) distance between the base and current
# order-total distributions — the transport metric completing the drift
# family (PSI = binned likelihood ratio, KS = max CDF gap, JS = symmetric
# divergence; W1 = ∫|F_base − F_cur| dx weighs HOW FAR mass moved, the
# number the others can't give). Engine-exact by construction: prices
# become integer cents, |F_b − F_c| becomes the integer |cb·tc − cc·tb|,
# and W1 = Σ |cb·tc − cc·tb|·gap_cents / (tb·tc·100) is ONE integer sum
# + one final division — no float summation order anywhere. The prefix
# sums and the v_next neighbor come from the distributed ranking helpers
# (range partition → local scan → offset add), never a global window.
# --------------------------------------------------------------------------

WASSERSTEIN_ORACLE = f"""
WITH pts AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderdate < TIMESTAMP '{_CUT}' THEN 1 ELSE 0 END AS b
  FROM orders
), d AS (
  SELECT v, CAST(SUM(b) AS BIGINT) AS nb, CAST(SUM(1 - b) AS BIGINT) AS nc
  FROM pts GROUP BY v
), t AS (
  SELECT CAST(SUM(nb) AS BIGINT) AS tb, CAST(SUM(nc) AS BIGINT) AS tc FROM d
), cum AS (
  SELECT v,
         SUM(nb) OVER (ORDER BY v) AS cb,
         SUM(nc) OVER (ORDER BY v) AS cc,
         lead(v) OVER (ORDER BY v) AS v_next
  FROM d
)
SELECT round(CAST(SUM(abs(cb * t.tc - cc * t.tb) * (v_next - v)) AS DOUBLE)
             / (t.tb * t.tc) / 100.0, 6) AS w1_distance,
       CAST(count(*) + 1 AS BIGINT) AS n_distinct_values,
       t.tb AS n_base, t.tc AS n_current
FROM cum CROSS JOIN t
WHERE v_next IS NOT NULL
GROUP BY t.tb, t.tc
"""


@register("orders_wasserstein_drift", oracle=WASSERSTEIN_ORACLE)
def orders_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_prefix_scan

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(F.col("o_orderdate") < F.lit(_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("b"),
    )
    d = pts.groupBy("v").agg(
        F.sum("b").cast("bigint").alias("nb"),
        F.sum(F.lit(1) - F.col("b")).cast("bigint").alias("nc"),
    )
    d = materialize(d)  # totals + scan branches
    t = d.agg(
        F.sum("nb").cast("bigint").alias("tb"), F.sum("nc").cast("bigint").alias("tc")
    )
    # fused scan: both CDF prefix counts + the neighbor rank, ONE exchange
    rn = global_prefix_scan(d, ["nb", "nc"], ["v"], rn_col="rn").select(
        "v", F.col("nb_cum").alias("cb"), F.col("nc_cum").alias("cc"), "rn"
    )
    nxt = rn.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("v_next"))
    return (
        rn.join(nxt, "rn")
        .crossJoin(F.broadcast(t))
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("cb") * F.col("tc") - F.col("cc") * F.col("tb"))
                    * (F.col("v_next") - F.col("v"))
                ).cast("double")
                / (F.first("tb") * F.first("tc"))
                / 100.0,
                6,
            ).alias("w1_distance"),
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_distinct_values"),
            F.first("tb").alias("n_base"),
            F.first("tc").alias("n_current"),
        )
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator: α̂ = k / Σ ln(x_i / x_min) over the top-k
# order totals — THE standard heavy-tail exponent estimate (the rigorous
# cousin of the Zipf-slope regression and the ABC/Pareto 80-20 split).
# x_min is the rank-based P90 (value at global rank ⌈0.9 n⌉, exact and
# engine-identical via the distributed ranking helper — no quantile_cont
# interpolation to disagree over). One ranking pass + one aggregation.
# --------------------------------------------------------------------------

HILL_ORACLE = """
WITH ranked AS (
  SELECT o_totalprice AS x,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
), xmin AS (
  SELECT x AS x_min FROM ranked WHERE rn = CAST(ceil(0.9 * n) AS BIGINT) LIMIT 1
), tail AS (
  SELECT r.x, m.x_min FROM ranked r CROSS JOIN xmin m WHERE r.x > m.x_min
)
SELECT round(max(x_min), 2) AS x_min,
       CAST(count(*) AS BIGINT) AS k_tail,
       round(count(*) / sum(ln(x / x_min)), 6) AS alpha_hat
FROM tail
"""


@register("orders_hill_tail_index", oracle=HILL_ORACLE)
def orders_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    ranked = global_row_number(
        orders.select(F.col("o_totalprice").alias("x"), "o_orderkey"),
        ["x", "o_orderkey"],
        out_col="rn",
    )
    n = ranked.agg(F.max("rn").alias("n"))
    xmin = (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("rn") == F.ceil(0.9 * F.col("n")).cast("bigint"))
        .select(F.col("x").alias("x_min"))
        .limit(1)
    )
    tail = ranked.crossJoin(F.broadcast(xmin)).filter(F.col("x") > F.col("x_min"))
    return tail.agg(
        F.round(F.max("x_min"), 2).alias("x_min"),
        F.count(F.lit(1)).cast("bigint").alias("k_tail"),
        F.round(
            F.count(F.lit(1)) / F.sum(F.log(F.col("x") / F.col("x_min"))), 6
        ).alias("alpha_hat"),
    )


# --------------------------------------------------------------------------
# Individuals / moving-range (I-MR) control chart over daily event value
# (Shewhart SPC): center line = mean of daily totals, UCL/LCL = x̄ ±
# 2.66·MR̄ (the d2-based individuals-chart constant), MR = |x_t − x_{t−1}|.
# The monitoring chart a pipeline-health dashboard actually renders —
# CUSUM/mean-shift (already here) detect, this one VISUALIZES with
# control limits. Day-grain windows only (30 rows — sketch-sized, the
# kmv_rolling day-axis precedent); daily totals are DECIMAL sums so the
# chart values are engine-exact before the limit arithmetic.
# --------------------------------------------------------------------------

IMR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS x
  FROM events GROUP BY CAST(ts AS DATE)
), mr AS (
  SELECT d, x, abs(x - lag(x) OVER (ORDER BY d)) AS mr FROM daily
), lim AS (
  SELECT avg(x) AS xbar, avg(mr) AS mrbar FROM mr
)
SELECT strftime(mr.d, '%Y-%m-%d') AS day,
       round(mr.x, 2) AS x,
       round(mr.mr, 2) AS moving_range,
       round(lim.xbar + 2.66 * lim.mrbar, 2) AS ucl,
       round(lim.xbar - 2.66 * lim.mrbar, 2) AS lcl,
       CASE WHEN mr.x > lim.xbar + 2.66 * lim.mrbar
              OR mr.x < lim.xbar - 2.66 * lim.mrbar THEN 1 ELSE 0 END
         AS out_of_control
FROM mr CROSS JOIN lim
ORDER BY mr.d
"""


@register("events_imr_control_chart", oracle=IMR_ORACLE)
def events_imr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x")
    )
    mr = daily.withColumn(
        "mr", F.abs(F.col("x") - F.lag("x").over(W.orderBy("d")))
    )
    lim = mr.agg(F.avg("x").alias("xbar"), F.avg("mr").alias("mrbar"))
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    return (
        mr.crossJoin(F.broadcast(lim))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round("x", 2).alias("x"),
            F.round("mr", 2).alias("moving_range"),
            F.round(ucl, 2).alias("ucl"),
            F.round(lcl, 2).alias("lcl"),
            F.when((F.col("x") > ucl) | (F.col("x") < lcl), 1)
            .otherwise(0)
            .alias("out_of_control"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Poisson GLM by unrolled Newton/IRLS (3 rounds): event counts per
# (day, hour) cell modeled as y ~ Poisson(exp(a + b·hour)) — the
# distributed-GLM communication pattern (MLlib's IRLS does exactly this):
# each round is ONE aggregation producing the 2×2 Hessian + gradient
# moments (Σμ, Σhμ, Σh²μ, Σ(y−μ), Σh(y−μ)), the closed-form 2×2 solve is
# broadcast scalar arithmetic, and parameters round to 6 dp per round (the
# HITS per-round discipline) so cross-engine float summation can't drift
# between iterations. The model grain (720 cells) is bounded by the
# calendar, never by row count; the raw-events pass is one groupBy.
# --------------------------------------------------------------------------

def _poisson_newton_sql() -> str:
    init = """
cells AS (
  SELECT CAST(hour(ts) AS DOUBLE) AS h, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY CAST(ts AS DATE), hour(ts)
), p0 AS (
  SELECT round(ln(avg(y)), 6) AS a, 0.0 AS b FROM cells
)"""
    rounds = []
    for r in range(3):
        rounds.append(f"""m{r} AS (
  SELECT SUM(exp(a + b * h)) AS sm, SUM(h * exp(a + b * h)) AS shm,
         SUM(h * h * exp(a + b * h)) AS shhm,
         SUM(y - exp(a + b * h)) AS g0, SUM(h * (y - exp(a + b * h))) AS g1,
         max(a) AS a, max(b) AS b
  FROM cells CROSS JOIN p{r}
), p{r + 1} AS (
  SELECT round(a + ( shhm * g0 - shm * g1) / (sm * shhm - shm * shm), 6) AS a,
         round(b + (-shm  * g0 + sm  * g1) / (sm * shhm - shm * shm), 6) AS b
  FROM m{r}
)""")
    return (
        "WITH " + init.strip() + ",\n" + ",\n".join(rounds) + """
SELECT a, b, round(exp(a + b * 23.0) / exp(a), 6) AS rate_ratio_h23,
       (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells
FROM p3
"""
    )


POISSON_GLM_ORACLE = _poisson_newton_sql()


@register("events_poisson_glm_hourly", oracle=POISSON_GLM_ORACLE)
def events_poisson_glm_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("d"), F.hour("ts").alias("hh")
    ).agg(F.count(F.lit(1)).cast("double").alias("y")).select(
        F.col("hh").cast("double").alias("h"), "y"
    )
    cells = materialize(cells)  # 3 rounds + count reuse it
    params = cells.agg(
        F.round(F.log(F.avg("y")), 6).alias("a"), F.lit(0.0).alias("b")
    )
    for _ in range(3):
        mu = F.exp(F.col("a") + F.col("b") * F.col("h"))
        m = (
            cells.crossJoin(F.broadcast(params))
            .agg(
                F.sum(mu).alias("sm"),
                F.sum(F.col("h") * mu).alias("shm"),
                F.sum(F.col("h") * F.col("h") * mu).alias("shhm"),
                F.sum(F.col("y") - mu).alias("g0"),
                F.sum(F.col("h") * (F.col("y") - mu)).alias("g1"),
                F.max("a").alias("a"),
                F.max("b").alias("b"),
            )
        )
        det = F.col("sm") * F.col("shhm") - F.col("shm") * F.col("shm")
        params = m.select(
            F.round(
                F.col("a") + (F.col("shhm") * F.col("g0") - F.col("shm") * F.col("g1")) / det,
                6,
            ).alias("a"),
            F.round(
                F.col("b") + (-F.col("shm") * F.col("g0") + F.col("sm") * F.col("g1")) / det,
                6,
            ).alias("b"),
        )
    n = cells.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    return params.crossJoin(F.broadcast(n)).select(
        "a",
        "b",
        F.round(
            F.exp(F.col("a") + F.col("b") * 23.0) / F.exp(F.col("a")), 6
        ).alias("rate_ratio_h23"),
        "n_cells",
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test over the daily event series — the significance
# test that belongs beside the Theil-Sen slope (ohlc_theil_sen_trend):
# S = Σ_{i<j} sign(x_j − x_i), Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
# / 18 with the tie correction, z = (S ∓ 1)/√Var. Everything except the
# final √ is INTEGER arithmetic (counts and signs), so both engines agree
# exactly; the pair space is calendar² (30 days → 435 pairs), never
# event². Daily totals are DECIMAL-exact before comparison.
# --------------------------------------------------------------------------

MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS x
  FROM events GROUP BY CAST(ts AS DATE)
), n AS ( SELECT CAST(count(*) AS BIGINT) AS n FROM daily ),
s AS (
  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                       ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.d < b.d
), ties AS (
  SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0) AS tie_adj
  FROM (SELECT count(*) AS t FROM daily GROUP BY x HAVING count(*) > 1)
), var AS (
  SELECT (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_adj) / 18.0 AS v
  FROM n CROSS JOIN ties
)
SELECT n.n AS n_days, s.s AS s_statistic,
       round(var.v, 4) AS var_s,
       round(CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(var.v)
                  WHEN s.s < 0 THEN (s.s + 1) / sqrt(var.v)
                  ELSE 0.0 END, 6) AS z_mk
FROM n CROSS JOIN s CROSS JOIN var
"""


@register("events_mann_kendall_trend", oracle=MANN_KENDALL_ORACLE)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x")
    )
    daily = materialize(daily)  # n + pairs + ties branches
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            ).cast("long").alias("s")
        )
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).cast("long").alias("tie_adj")
        )
    )
    out = (
        n.crossJoin(s)
        .crossJoin(ties)
        .withColumn(
            "v",
            (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_adj"))
            / 18.0,
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("v")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("v")))
        .otherwise(0.0)
    )
    return out.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_statistic"),
        F.round("v", 4).alias("var_s"),
        F.round(z, 6).alias("z_mk"),
    )


# --------------------------------------------------------------------------
# Burstiness coefficient (Goh & Barabási 2008): B = (σ−μ)/(σ+μ) of the
# inter-arrival gaps per event type — B→−1 periodic, B≈0 Poisson, B→+1
# bursty. The one-number refinement of the exponential-fit KS test (which
# answers "is it Poisson"; B says in WHICH DIRECTION it deviates — the
# bot-detector's regularity score is its per-user cousin). Gaps via one
# lag window per type, µs-exact; moments per type.
# --------------------------------------------------------------------------

BURSTINESS_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS DOUBLE) / 1e6 AS gap
  FROM events
)
SELECT event_type,
       CAST(count(gap) AS BIGINT) AS n_gaps,
       round(avg(gap), 4) AS mean_gap_s,
       round(stddev_samp(gap), 4) AS sd_gap_s,
       round((stddev_samp(gap) - avg(gap)) / (stddev_samp(gap) + avg(gap)), 6)
         AS burstiness
FROM g WHERE gap IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@register("events_burstiness_coefficient", oracle=BURSTINESS_ORACLE)
def events_burstiness_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).cast("double")
            / 1e6
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return (
        g.groupBy("event_type")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.round(F.avg("gap"), 4).alias("mean_gap_s"),
            F.round(F.stddev_samp("gap"), 4).alias("sd_gap_s"),
            F.round(
                (F.stddev_samp("gap") - F.avg("gap"))
                / (F.stddev_samp("gap") + F.avg("gap")),
                6,
            ).alias("burstiness"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Spearman rank correlation, EXACT: does a customer's account balance
# predict their total spend? Average-rank tie handling via the integer
# "doubled rank" 2r̄ = 2·rank + tie_cnt − 1, so every moment (Σx, Σxy, Σx²)
# is integer arithmetic — DECIMAL(38,0) on Spark, HUGEINT in the oracle —
# and ρ only touches doubles in the final division/sqrt (exact ints →
# nearest-double conversions agree bit-for-bit; no corr() summation-order
# hazard). Ranks come from global_prefix_scan over the DISTINCT-value
# tables (no unpartitioned window): rank = cum − cnt + 1. Bound: Σx·y ≤
# 4n³ and n·Σxy ≤ 4n⁴ fit 38 digits through n ≈ 10⁹ customers; past that
# the documented swap is corr() on rank columns (6 dp).
# --------------------------------------------------------------------------
SPEARMAN_ORACLE = """
WITH spend AS (
  SELECT c_custkey, c_acctbal AS x,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS y
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_acctbal
), r AS (
  SELECT CAST(2 * rank() OVER (ORDER BY x)
              + count(*) OVER (PARTITION BY x) - 1 AS HUGEINT) AS rx,
         CAST(2 * rank() OVER (ORDER BY y)
              + count(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS ry
  FROM spend
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
FROM s
"""


@register("orders_spearman_rank_corr", oracle=SPEARMAN_ORACLE)
def orders_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_prefix_scan

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", F.col("c_acctbal").alias("x"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("y"))
    )
    spend = materialize(spend)  # rank joins reuse both sides

    def doubled_ranks(col: str, out: str) -> DataFrame:
        dv = spend.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        scanned = global_prefix_scan(dv, ["cnt"], [col])
        # avg-rank·2 = 2·(cum − cnt + 1) + cnt − 1 = 2·cum − cnt + 1
        return scanned.select(
            col,
            (2 * F.col("cnt_cum") - F.col("cnt") + 1)
            .cast("decimal(18,0)")
            .alias(out),
        )

    r = (
        spend.join(doubled_ranks("x", "rx"), "x")
        .join(doubled_ranks("y", "ry"), "y")
        .select("rx", "ry")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("spearman_rho"),
    )
