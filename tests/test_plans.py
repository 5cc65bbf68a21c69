"""Physical-plan discipline tests (SURVEY.md §2.B scale rules): pushdown,
pruning, broadcast, no cartesian — the 100 TB checklist, enforced."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestion_pt_ms_spark.catalog import load_table
from dataingestion_pt_ms_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    formatted_plan,
)
from dataingestion_pt_ms_spark.queries.relational import (
    flagship_region_monthly_revenue,
    proj_rename_prune,
    q3_shipping_priority,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = proj_rename_prune(spark, sf_dir)
    assert_pushed_filters(df, "l_quantity")


def test_column_pruning_reaches_scan(spark, sf_dir):
    # 4 output columns (net_price consumes 2 source cols) from an 11-column
    # table: the scan must read exactly the 5 needed columns
    df = proj_rename_prune(spark, sf_dir)
    assert_read_schema_pruned(df, "l_orderkey", 5)


def test_flagship_broadcasts_dims_and_no_cartesian(spark, sf_dir):
    df = flagship_region_monthly_revenue(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_q3_date_filters_pushed(spark, sf_dir):
    df = q3_shipping_priority(spark, sf_dir)
    assert_pushed_filters(df, "o_orderdate")
    assert_pushed_filters(df, "l_shipdate")


def test_topk_uses_take_ordered(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    df = orders.orderBy(F.col("o_totalprice").desc()).limit(20)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_agg_has_partial_phase(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_whole_stage_codegen_active(spark, sf_dir):
    # formatted explain marks codegen'd operators with "[codegen id : N]"
    df = proj_rename_prune(spark, sf_dir)
    assert "codegen id" in formatted_plan(df)


def test_partition_pruning(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at planning time —
    the scan's partition count reflects only matching partitions."""
    from dataingestion_pt_ms_spark.catalog import load_table

    out = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn("order_year", F.year("o_orderdate")).write.partitionBy(
        "order_year"
    ).parquet(out)
    df = spark.read.parquet(out).filter(F.col("order_year") == 1996)
    plan = formatted_plan(df)
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines and "order_year" in scan_lines[0]
    got_years = {r.order_year for r in df.select("order_year").distinct().collect()}
    assert got_years == {1996}


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Bucketing both sides on the join key co-locates them: the sort-merge
    join runs with NO Exchange on either side."""
    from dataingestion_pt_ms_spark.catalog import load_table

    # warehouse dir is a static conf — tables land in ./spark-warehouse and
    # are dropped (files removed) in the finally block
    spark.sql("CREATE DATABASE IF NOT EXISTS buck")
    try:
        load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable("buck.orders_b")
        load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable("buck.lineitem_b")
        joined = (
            spark.table("buck.lineitem_b")
            .hint("merge")  # forbid broadcast: the point is the shuffle-free SMJ
            .join(
                spark.table("buck.orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("l_orderkey", "o_totalprice")
        )
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS buck.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS buck.orders_b")
        spark.sql("DROP DATABASE IF EXISTS buck")


def test_contamination_probe_broadcasts(spark, sf_dir):
    # benchmark shingle set must broadcast: the corpus side of the
    # decontamination gate never shuffles at 100 TB
    from dataingestion_pt_ms_spark.queries.llm_text import text_contamination_check

    df = text_contamination_check(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """DPP: joining a date-partitioned fact to a filtered dim must inject a
    runtime partition-pruning subquery into the fact scan — the mechanism
    that keeps star joins from scanning all of a 100 TB fact table."""
    out = str(tmp_path / "li_part")
    li = load_table(spark, sf_dir, "lineitem")
    li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy(
        "ship_year"
    ).parquet(out)
    fact = spark.read.parquet(out)
    # the dim filter must be on a NON-join column: a literal filter on the
    # join key itself gets constant-propagated into a *static* partition
    # filter (also correct, but then there is nothing dynamic to prune)
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("ship_year"))
        .distinct()
    )
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        joined = fact.join(dim, "ship_year").select("ship_year", "l_quantity")
        plan = formatted_plan(joined)
        assert "dynamicpruning" in plan.lower(), plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)


# Queries allowed an UNPARTITIONED window: each windows a relation whose
# size is bounded by something other than the input row count (calendar
# days, sketch grid, shortlist k, strata count). Anything else with a
# global window fails the registry-wide test below — the round-5 plan
# audit caught lineitem_conformal_intervals ranking a full 20%-of-input
# fold through one window task this way (fixed: global_prefix_scan), and
# round 6 retired the last data-assumption exemption
# (events_error_bursts → operators/ranking.global_islands).
GLOBAL_WINDOW_ALLOWLIST = {
    "events_evalue_sequential",  # daily series (calendar-bounded)
    "events_imr_control_chart",  # daily series
    "events_seasonal_decomposition",  # daily series
    "events_seasonal_strength",  # daily series (the decomposition's)
    "events_dft_periodogram",  # daily series
    "sim_pq_error_audit",  # PQ seed ranks (limit-bounded, `codes` rows)
    "sample_neyman_stratified",  # per-stratum rows (≤ #langs)
    "sim_pq_refine_rerank",  # k-bounded shortlist
    "sketch_ams_f2_selfjoin",  # sketch grid (m×g, fixed)
    "sketch_kmv_rolling_distinct",  # daily series
    "sql_cte_mom_growth",  # monthly series
    "warehouse_benford_audit",  # 9 digit rows
    "rank_global_row_number",  # the global-ranking semantic itself
}


def test_registry_wide_no_cartesian_product(spark, sf_dir):
    """Blanket scale guard over EVERY registered query, one plan pass:
    (a) a CartesianProduct node means a non-broadcast cross pair space —
    instant death at 100 TB; all legitimate cross shapes here (scalar
    ships, small-dim crosses, explicit cross join) must come out as
    BroadcastNestedLoopJoin. (b) an unpartitioned window (empty
    windowspecdefinition partition list) funnels the whole relation
    through ONE task — allowed only on the bounded-relation allowlist
    above. Plans are built (not executed) for expression-only queries;
    iterative operators execute their convergence probes at sf0.001
    cost."""
    from dataingestion_pt_ms_spark.queries import registry

    def window_spec_args(logical: str):
        """Full (paren-BALANCED) argument string of every
        windowspecdefinition(...) in the plan — a `[^)]*` regex stops at
        the first ')' inside a nested expression and silently skips any
        global window ordered by a function call (ADVICE r5)."""
        token = "windowspecdefinition("
        i = 0
        while (j := logical.find(token, i)) >= 0:
            depth, k = 1, j + len(token)
            while k < len(logical) and depth:
                depth += (logical[k] == "(") - (logical[k] == ")")
                k += 1
            yield logical[j + len(token) : k - 1]
            i = k

    def is_global_window(args: str) -> bool:
        # first TOP-LEVEL argument: partition column if partitioned, else
        # an ordering expression (" ASC"/" DESC") or directly the frame
        depth, first = 0, args
        for idx, ch in enumerate(args):
            depth += (ch == "(") - (ch == ")")
            if ch == "," and depth == 0:
                first = args[:idx]
                break
        first = first.strip()
        if first.startswith("specifiedwindowframe"):
            return True
        # drop nested-paren content so inner commas/sorts can't confuse
        depth, flat = 0, []
        for ch in first:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                flat.append(ch)
        stripped = "".join(flat)
        return " ASC" in stripped or " DESC" in stripped

    offenders = {}
    global_windows = {}
    for name, spec in registry().items():
        df = spec.fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = plan.splitlines()[0:3]
        if name in GLOBAL_WINDOW_ALLOWLIST:
            continue
        logical = qe.analyzed().toString()
        for args in window_spec_args(logical):
            if is_global_window(args):
                global_windows[name] = ("windowspecdefinition(" + args)[:90]
                break
    assert not offenders, f"cartesian products in: {sorted(offenders)}"
    assert not global_windows, (
        f"unpartitioned windows outside the allowlist: {global_windows}"
    )


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located join via bucketing (sources/bucketed.py): two tables
    bucketed on the same key with the same bucket count must join with
    ZERO Exchange operators — the write-once-shuffle-never contract that
    makes repeated fact-table joins affordable at 100 TB. Broadcast is
    disabled so the planner can't sidestep the assertion."""
    from dataingestion_pt_ms_spark.sources.bucketed import (
        colocated_join,
        write_bucketed_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed_table(
        orders, "b_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed_table(
        li, "b_lineitem", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(tmp_path / "b_lineitem"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it actually computes
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_zorder_layout_prunes_scan_single_exchange(spark, sf_dir):
    """The z-order audit must read exactly the 2 contributing columns of
    the 9-column orders table and aggregate in one exchange (partial +
    final hash aggregate around a single shuffle)."""
    from dataingestion_pt_ms_spark.queries.warehouse import warehouse_zorder_layout

    df = warehouse_zorder_layout(spark, sf_dir)
    assert_read_schema_pruned(df, "o_totalprice", 2)
    plan = formatted_plan(df)
    # formatted plans print each node twice (tree line + detail section):
    # <= 4 mentions == <= 2 physical Exchanges (agg shuffle + orderBy range)
    assert plan.count("Exchange") <= 4
    assert plan.count("HashAggregate") >= 2


def test_covariance_matrix_is_join_free(spark, sf_dir):
    """The covariance matrix must come from per-row array expansion + one
    grouped aggregation — never a self-join on vec_id."""
    from dataingestion_pt_ms_spark.queries.llm_similarity import emb_covariance_matrix

    plan = formatted_plan(emb_covariance_matrix(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_scd2_pit_join_is_join_free(spark, sf_dir):
    """The point-in-time lookup must be the union+LOCF timeline (one sort
    per user), never a range/interval join — no Join node at all."""
    from dataingestion_pt_ms_spark.queries.warehouse import join_scd2_point_in_time

    plan = formatted_plan(join_scd2_point_in_time(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" in plan


def test_sliding_distinct_grid_broadcasts(spark, sf_dir):
    """The day×word grid cross must ship the tiny word list broadcast
    (BroadcastNestedLoopJoin), never a CartesianProduct, and the bitmap
    build must partial-aggregate map-side."""
    from dataingestion_pt_ms_spark.queries.sketches import events_sliding_7d_distinct

    plan = formatted_plan(events_sliding_7d_distinct(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_ks_test_no_global_window(spark, sf_dir):
    """The KS CDF cumsum must never run a window over one global
    partition: every Window node visible in the plan partitions by the
    prefix-sum's _pid (the range-partitioned distributed prefix sum; its
    internal rangepartitioning exchange sits behind a localCheckpoint, so
    assert the absence of the anti-pattern rather than the exchange)."""
    from dataingestion_pt_ms_spark.queries.drift import events_ks_drift_test

    plan = formatted_plan(events_ks_drift_test(spark, sf_dir))
    window_lines = [l for l in plan.splitlines() if l.strip().startswith("Window")]
    # formatted plans show window partition specs in the detail section;
    # a single-partition window would also force Exchange SinglePartition
    # ahead of a Window — assert that pairing never occurs
    assert "windowspartitionby" not in plan.lower().replace(" ", "")
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Window" in l and "Exchange SinglePartition" in "".join(lines[max(0, i - 3):i]):
            raise AssertionError(f"global window at plan line {i}: {l}")


def test_lp_negative_budget_scales_with_edges(spark, sf_dir):
    """VERDICT r4 #1: the link-prediction negative candidate space
    |sa|·|sb| must be a bounded multiple of the EDGE count (budget
    c ≈ 25·|E|), never a fixed fraction of n² — replay the query's own
    bucket arithmetic and assert the bill, at both fixture scales."""
    import math

    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.catalog import load_table

    for d in (sf_dir, "/root/testdata/sf0.01"):
        li = load_table(spark, d, "lineitem")
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        edges = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("sup"))
            .filter(F.col("sup") >= 2)
            .drop("sup")
        )
        nodes = edges.select(F.col("u").alias("node")).unionByName(
            edges.select(F.col("v").alias("node"))
        ).distinct()
        n_e = edges.count()
        n_n = nodes.count()
        bmod = max(2, math.ceil(n_n / (5.0 * max(1.0, math.sqrt(n_e)))))
        bucket = (
            F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 8), 16, 10)
            .cast("long") % bmod
        )
        sa = nodes.where(bucket == 0).count()
        sb = nodes.where(bucket == 1).count()
        candidates = sa * sb
        # bounded budget: ~25·E nominal; 100·E slack covers binomial
        # bucket-size variance at tiny fixture n. (The fixture co-purchase
        # graph is DENSE — E ≈ n²/4 — so a budget ∝ E is NOT sub-quadratic
        # in n here; the point is that on the sparse graphs where n² blows
        # up, the bill stays pinned to the edge count.)
        assert candidates <= max(100 * n_e, 400), (
            f"{d}: candidate bill {candidates} vs edges {n_e}"
        )
        # and the modulus really derives from the graph: (n/B)² ≈ 25·E,
        # so B must exceed the fixed 4 of the old scheme whenever the
        # graph is sparse enough that n > 20·√E
        if n_n > 20.0 * math.sqrt(n_e):
            assert bmod > 4, f"{d}: bmod {bmod} not scaled (n={n_n}, E={n_e})"
