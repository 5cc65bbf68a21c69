"""Streaming transformations (SURVEY.md §2.B streaming table): watermarked
tumbling/sliding/session windows, stateful dedup, foreachBatch upsert.

Each builder takes a (streaming) DataFrame with an event-time column and
returns the transformed streaming DataFrame; tests drive them with a file
source + ``availableNow``/``processAllAvailable`` so a deterministic batch of
rows flows through the real streaming engine (state store, watermarks).

Scale notes: watermarks bound state (late rows beyond the horizon are
dropped — the knob that keeps 100 TB/day streams in fixed memory);
``dropDuplicates`` after a watermark ages keys out of the state store;
session windows merge in the state store with the same watermark bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def tumbling_counts_stream(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (streaming twin of
    queries.timeseries.events_tumbling_6h)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows (gap-based) per user — the streaming-native version of
    queries.timeseries.events_sessionize_gap30m's lag/cumsum islands."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def dynamic_gap_sessionized_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows with a DYNAMIC, per-row gap (Spark 3.2+ surface):
    ``session_window(ts, gap_expr)`` where the gap depends on the event —
    errors keep a session alive longer (30 min) than routine events
    (5 min), the standard ops-sessionization asymmetry. Same watermark
    discipline as the fixed-gap job; state per open session only.
    """
    # gap must be CalendarIntervalType: string literals parse to it
    # (DayTimeIntervalType INTERVAL literals are rejected by the analyzer)
    gap = F.when(F.col("event_type") == "error", F.lit("30 minutes")).otherwise(
        F.lit("5 minutes")
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def running_counts_stateful_stream(events: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Arbitrary stateful operator via Arrow-batched applyInPandasWithState:
    cumulative event count + value sum per key across micro-batches (the
    custom-state escape hatch of SURVEY.md §2.B for operators windowed aggs
    can't express).

    State is one (count, total) pair per key — O(keys) memory regardless of
    stream length.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, batches, state: GroupState):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"key": [key[0]], "running_count": [count], "running_total": [round(total, 2)]}
        )

    return events.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType="key string, running_count long, running_total double",
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_dedup_stream(
    events: DataFrame, key_cols: list[str] | None = None, watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once-by-key over a stream: watermark bounds the dedup state
    (reference R16's idempotency, streaming-native)."""
    keys = key_cols or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys)


def windowed_dedup_stream(
    events: DataFrame, key_cols: list[str] | None = None, watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: dedup keys only within the
    watermark horizon — the state-bounded form for at-least-once sources
    whose redeliveries carry NEW event timestamps (plain dropDuplicates
    keys state on first-seen event time and would pass such a redelivery
    once its window closes). State per key is evicted one watermark period
    after last sight — bounded regardless of stream lifetime."""
    keys = key_cols or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_histogram_stream(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    value_col: str = "value",
    bin_w: float = 50.0,
    nbins: int = 10,
) -> DataFrame:
    """Per-window value histogram — the streaming half of a distribution
    drift monitor (batch twin: queries.drift.warehouse_psi_drift). Emits
    (window_start, bin, n) from ONE watermarked stateful aggregation whose
    state is bounded at nbins rows per open window; the PSI assembly
    against a baseline distribution is a stateless O(nbins) join done at
    serving time on the emitted counts (deliberately NOT a second
    streaming aggregation — the reduction is the part that needs the
    streaming engine, and keeping a single stateful operator keeps state
    accounting trivial at 100 TB/day rates).
    """
    bin_col = F.least(
        F.floor(F.col(value_col) / bin_w).cast("bigint"), F.lit(nbins - 1)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "bin",
            "n",
        )
    )


def streaming_incremental_dedup(
    spark,
    doc_stream: DataFrame,
    sig_store_path: str,
    dups_out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.5,
    base_hash: str = "md5",
):
    """Streaming corpus dedup steady-state: each arriving micro-batch of
    documents is (1) checked for near-dups WITHIN the batch itself
    (so same-trigger near-dup arrivals and the entire first batch are
    covered), (2) checked against the PERSISTED signature store
    (operators/dedup.incremental_minhash_dedup — store never re-hashes,
    batch side broadcasts), then (3) its own signatures written to the
    store so later batches see it. This is the nightly-ingest dedup loop
    the batch operator documents, driven by Structured Streaming.

    Replay idempotency (ADVICE r3, medium): both sinks are
    epoch-partitioned — ``<path>/epoch=<id>`` written with overwrite — so
    a crash between the signature write and the checkpoint commit makes
    the replayed epoch OVERWRITE its own partition rather than re-append.
    The store read is additionally pruned to ``epoch < epoch_id``
    (partition pruning, no data read from newer dirs), so a replayed
    epoch sees exactly the store state the original attempt saw: no
    self-matches, no phantom within-batch pairs from its own half-written
    signatures. Epoch ids are checkpoint-managed and strictly increase
    across restarts.

    At 100 TB: the store scan is the only corpus-sized read per trigger and
    it streams through the band join; batch-sized work is everything else.
    """
    from ..operators.dedup import incremental_minhash_dedup, minhash_signature
    from ..sources.sinks import _table_exists

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = materialize(batch_df.select(key_col, text_col), eager=True)
        sigs = materialize(
            minhash_signature(batch_df, text_col, key_col, base_hash=base_hash),
            eager=True,
        )
        # intra-batch pass: the batch against its own signatures, upper
        # triangle only (ADVICE r3, low — same-trigger near-dups were
        # previously invisible)
        dups = incremental_minhash_dedup(
            batch_df,
            sigs,
            text_col,
            key_col,
            threshold=threshold,
            base_hash=base_hash,
            new_sigs=sigs,
        ).filter(F.col("new_key") < F.col("stored_key"))
        if _table_exists(spark, sig_store_path):
            stored = spark.read.parquet(sig_store_path).filter(
                F.col("epoch") < F.lit(epoch_id)
            )
            dups = dups.unionByName(
                incremental_minhash_dedup(
                    batch_df,
                    stored.select(key_col, "signature"),
                    text_col,
                    key_col,
                    threshold=threshold,
                    base_hash=base_hash,
                    new_sigs=sigs,
                )
            )
        dups.write.mode("overwrite").parquet(f"{dups_out_path}/epoch={epoch_id}")
        sigs.write.mode("overwrite").parquet(f"{sig_store_path}/epoch={epoch_id}")

    return (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def interval_join_stream(
    errors: DataFrame,
    clicks: DataFrame,
    lookback_minutes: int = 10,
    watermark: str = "15 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each error event matched (inner) to the
    same user's click events in the ``lookback_minutes`` before it — the
    streaming form of ``join_range_clicks_before_error`` (whose batch
    oracle twin makes this engine-testable).

    Scale/state shape: the equi key (user_id) carries the shuffle; the
    time-range predicate bounds STATE, not just output — with both sides
    watermarked, Spark retains clicks only until no future error can reach
    back to them (watermark + lookback) and errors only until their
    interval closes, so state is O(rate × window), never unbounded. This
    is the mandatory discipline for stream-stream joins: an un-watermarked
    interval join grows state forever. Pairs (not aggregates) are emitted
    so the job stays a single stateful operator in append mode.

    ``join_type="left_outer"`` adds the un-matched errors with NULL click
    columns — but only once the watermark proves no matching click can
    still arrive (Spark holds the outer row back until the interval is
    provably closed; an un-watermarked outer interval join is rejected by
    the engine). This is the "errors with no preceding activity" alerting
    shape.

    Trigger sizing (measured, BENCH.md §17c; knob in code since round
    10 — §17d): the per-batch FLOOR of this job is per-state-store
    commit overhead × store count (= streaming
    ``spark.sql.shuffle.partitions`` × 4 stores for this join), not
    data volume — dropping 32 → 8 partitions cut the heap-store p50
    from 6.9 s to 1.8 s at the same rate. Size the partition count
    BEFORE the first run (the checkpoint freezes it for the query's
    life) with :func:`..session.streaming_state_conf`::

        conf = streaming_state_conf(
            STATE_STORES_PER_OP["stream_stream_join"],
            trigger_seconds=2,
        )
        with session_conf(spark, conf):
            interval_join_stream(...).writeStream...start()
    """
    e = (
        errors.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", watermark)
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            "value",
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    return e.join(c, cond, join_type).select(
        "event_id", "user_id", "c_ts", "value"
    )


def incremental_mv_stream(
    spark,
    orders_stream: DataFrame,
    mv_path: str,
    checkpoint_path: str,
):
    """Streaming maintenance of the monthly-revenue materialized view: each
    micro-batch's partial aggregate MERGES into the stored MV (full-outer
    coalesce of counts and DECIMAL revenue sums — the same mergeable-
    partials algebra warehouse_incremental_mv attests in batch), so the MV
    is always equal to a from-scratch aggregate over everything ingested.

    Crash discipline: the existing MV is eagerly materialized before the
    overwrite (read-own-input hazard — same rule as the upsert sink).
    DECIMAL sums make the merge result independent of arrival order, so
    any interleaving of batches converges to the batch-twin answer
    exactly. The merge is NOT replay-safe: foreachBatch is at-least-once,
    and the MV does not record which epochs it has merged, so an epoch
    whose MV write landed but whose commit did not is merged a second
    time on restart and its rows are counted twice.

    At 100 TB: per trigger the work is O(batch) + one MV-sized merge; the
    MV itself is group-cardinality-sized (priorities × months), never
    fact-sized.
    """
    from ..sources.sinks import _table_exists

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            ),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = agg(batch_df)
        if _table_exists(spark, mv_path):
            existing = materialize(spark.read.parquet(mv_path), eager=True)
            merged = (
                existing.withColumnsRenamed({"n_orders": "n_b", "revenue": "r_b"})
                .join(
                    delta.withColumnsRenamed({"n_orders": "n_d", "revenue": "r_d"}),
                    ["o_orderpriority", "order_month"],
                    "full_outer",
                )
                .select(
                    "o_orderpriority",
                    "order_month",
                    (
                        F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))
                    ).alias("n_orders"),
                    (
                        F.coalesce("r_b", F.lit(0).cast("decimal(18,2)"))
                        + F.coalesce("r_d", F.lit(0).cast("decimal(18,2)"))
                    ).cast("decimal(18,2)").alias("revenue"),
                )
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(mv_path)

    return (
        orders_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
