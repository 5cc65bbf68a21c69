"""Distributed weakly-connected components — the clustering step that turns
near-duplicate *pairs* (MinHash-LSH / SimHash / n-gram Jaccard output) into
*cluster assignments* with a canonical keeper per cluster, which is what a
training-data dedup pipeline actually consumes.

No reference analog (the reference dedups by exact document key only —
``app/alpaca_service.py:194,207``); this generalizes that keep-one-per-key
semantics to fuzzy keys. [NS] operator per BASELINE.json north star.

Algorithm: iterative min-label propagation with a pointer-jumping step
(label(node) <- min over {label(node), labels of neighbors, label of
label(node)}), the DataFrame re-expression of the classic MapReduce CC
algorithms (Kiveris et al. large-star/small-star family). Neighbor
propagation alone moves labels one hop per round (O(diameter) rounds);
the pointer jump halves paths each round, giving O(log diameter).

Scale notes:
- state per round is one (node, label) table partitioned by node — each
  round is two shuffles (neighbor-min groupBy + label-jump join), both on
  keys Catalyst can reuse;
- ``session.materialize(eager=True)`` truncates the growing lineage each
  round (plan-depth blowup, not data blowup, is the failure mode of
  iterative DataFrame algorithms);
- the convergence probe is a ``LIMIT 1`` count on the changed-rows frame —
  an action per round, but it scans only until the first hit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# Adaptive small-graph fast path (r10 opt, guide §1.2 #1 / §5): below this
# many SYMMETRIZED edge rows the component computation runs as a vectorized
# numpy union-find on the driver instead of the iterative distributed loop.
# The loop costs (eager checkpoint job + convergence-probe job) × rounds —
# 3.4 s of a 4.8 s dbscan invocation at sf0.1 for a graph whose edge list
# is a few hundred KB. 4 M rows ≈ 64 MB of long pairs — the same size
# class as the session's autoBroadcastJoinThreshold, i.e. data the driver
# is already trusted to hold; above it the distributed loop runs exactly
# as before (this is a size-adaptive strategy choice, not a local tune —
# the gating count reads an already-checkpointed RDD, one cheap job).
_CC_DRIVER_MAX_SYM_ROWS = 4_000_000


def _driver_sym_rows_cap(node_type) -> int:
    """Row cap for the driver mirrors, derated for wide key types: the 4 M
    cap is sized for 16 B/row long pairs (~64 MB in toPandas). String
    doc-id keys are an order of magnitude wider per row in pandas (object
    header + the bytes), so gate those at 1/8th of the cap."""
    from pyspark.sql import types as T

    if isinstance(
        node_type,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DateType,
        ),
    ):
        return _CC_DRIVER_MAX_SYM_ROWS
    return _CC_DRIVER_MAX_SYM_ROWS // 8


def _has_null_endpoints(sym_pdf) -> bool:
    """True when the collected edge list carries null endpoints. The driver
    mirrors index numpy arrays by factorize code and pd.factorize maps null
    to -1 (which would silently negative-index node state), while the
    distributed loops' equality joins define the engine's null semantics —
    so the callers fall back to the distributed path in that case."""
    return bool(len(sym_pdf)) and bool(
        sym_pdf["a"].isna().any() or sym_pdf["b"].isna().any()
    )


def _factorize_edges(sym_pdf, *extra_arrays):
    """(codes-per-column..., uniq): pandas factorization of an edge list's
    endpoint columns (plus optional extra node arrays, e.g. seed ids) into
    one shared integer code space — the common head of every driver-side
    graph fast path below. Null values in the *extra* arrays are dropped
    before coding (a null seed never equality-joins into the edge set on
    the distributed path, so dropping is the exact mirror); callers must
    screen edge endpoints with _has_null_endpoints first."""
    import numpy as np
    import pandas as pd

    extras = [p[~pd.isna(p)] for p in extra_arrays]
    parts = [sym_pdf["a"].to_numpy(), sym_pdf["b"].to_numpy(), *extras]
    codes, uniq = pd.factorize(np.concatenate(parts))
    out, off = [], 0
    for p in parts:
        out.append(codes[off : off + len(p)])
        off += len(p)
    return (*out, uniq)


def _components_driver(sym_pdf, spark, node_type):
    """Vectorized min-label union-find over a pandas edge list (columns
    a, b; both directions present). Returns a Spark DataFrame (node,
    label) with label = MIN node id of the weakly connected component —
    bit-identical to the distributed loop's output on the same edges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    a, b, uniq = _factorize_edges(sym_pdf)
    n_edges = len(sym_pdf)
    lab = np.arange(len(uniq), dtype=np.int64)
    for _ in range(64):
        new = lab.copy()
        if n_edges:
            np.minimum.at(new, a, lab[b])  # neighbor-min in code space
        new = np.minimum(new, new[new])  # pointer jump
        if np.array_equal(new, lab):
            break
        lab = new
    else:  # pragma: no cover - log2(n) rounds bound this far below 64
        raise RuntimeError("driver union-find did not converge in 64 rounds")
    # representative code -> MIN node VALUE in the component (the public
    # contract; code order is factorize order, not value order)
    vals = pd.Series(uniq)
    comp = vals.groupby(lab).transform("min")
    out = pd.DataFrame({"node": vals, "label": comp})
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("label", node_type)]
    )
    return spark.createDataFrame(out, schema=schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) where component = min node id in the weakly
    connected component.

    ``edges`` is treated as undirected. ``nodes`` (optional, one column
    ``node_col``) adds isolated vertices — each becomes its own singleton
    component.
    """
    # materialize the edge set once: every round runs actions (probe +
    # checkpoint), and without this the whole upstream lineage (e.g. a
    # MinHash-LSH pair pipeline) would re-execute per round
    sym = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        eager=True,
    )
    # Size-adaptive strategy (see _CC_DRIVER_MAX_SYM_ROWS): the count scans
    # the just-checkpointed blocks, so the gate costs one cheap job. NOTE:
    # construction is eager on this path — toPandas() runs jobs before any
    # action on the returned frame (timings still honest: the bench times
    # full invocations).
    node_type = sym.schema["a"].dataType
    if sym.count() <= _driver_sym_rows_cap(node_type):
        sym_pdf = sym.toPandas()
        if not _has_null_endpoints(sym_pdf):
            assign = _components_driver(sym_pdf, sym.sparkSession, node_type)
            if nodes is not None:
                singles = (
                    nodes.select(F.col(node_col).alias("node"))
                    .distinct()
                    .join(assign.select("node"), "node", "left_anti")
                    .withColumn("label", F.col("node"))
                )
                assign = assign.unionByName(singles)
            return assign.select("node", F.col("label").alias("component"))
    labels = sym.select(F.col("a").alias("node")).distinct()
    if nodes is not None:
        labels = labels.union(
            nodes.select(F.col(node_col).alias("node"))
        ).distinct()
    labels = materialize(labels.withColumn("label", F.col("node")), eager=True)

    for _ in range(max_iter):
        # neighbor-min: the smallest label among each node's neighbors
        neigh = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("n_node"))
            .agg(F.min("label").alias("n_label"))
        )
        # carry the pre-round label through the round so the convergence
        # probe below is a scan of the checkpointed frame, not another
        # shuffle join against the previous labels (one fewer join job per
        # round — measured ~0.3-0.5 s/round on local[32])
        stepped = labels.join(
            neigh, labels["node"] == neigh["n_node"], "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("n_label", F.col("label"))).alias(
                "label"
            ),
            F.col("label").alias("_old"),
        )
        # pointer jump: follow my label's label (halves chains each round)
        parents = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        jumped = materialize(
            stepped.join(
                parents, stepped["label"] == parents["p_node"], "left"
            ).select(
                "node",
                F.least(F.col("label"), F.coalesce("p_label", F.col("label"))).alias(
                    "label"
                ),
                "_old",
            ),
            eager=True,
        )

        changed = (
            jumped.filter(F.col("label") != F.col("_old")).limit(1).count()
        )
        labels = jumped.drop("_old")
        if changed == 0:
            break
    else:
        # Exhausting max_iter would silently return partially-propagated
        # labels. Pointer jumping needs ~log2(diameter) rounds, so 20
        # handles diameters ~2^20; hitting this means a pathological graph
        # or a bug — fail loudly rather than hand back wrong components.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (components may span extreme diameters)"
        )
    return labels.select("node", F.col("label").alias("component"))


def cluster_canonical(
    assignment: DataFrame, node_col: str = "node", comp_col: str = "component"
) -> DataFrame:
    """(component, n_members, keep) per cluster: the keeper is the smallest
    member id — deterministic, mirroring exact_dedup's keep-min-key rule."""
    return assignment.groupBy(comp_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(node_col).alias("keep"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(node, pr) after ``iters`` synchronous weighted-PageRank rounds from
    a uniform start: pr'(v) = (1-d)/N + d * Σ_{u→v} pr(u) * w(u,v)/W(u).

    Mass from dangling nodes (no out-edges) is dropped, not redistributed —
    Σpr then undershoots 1 by the dangling share, which is the standard
    simplification when ranks are only consumed ordinally. Deterministic
    given the edge set, so a fixed small ``iters`` is exactly reproducible
    by unrolled SQL CTEs (the oracle strategy; same pattern as the k-means
    oracle in queries/llm_similarity.py).

    Scale shape per round: one groupBy(dst) shuffle for the contribution
    sums plus broadcast of the O(nodes-per-partition) rank table join — at
    real graph scale the rank table shuffles too (it is node-partitioned,
    and Catalyst reuses the (src)/(dst) partitionings across rounds).
    Lineage discipline for big ``iters``: materialize each round, as
    ``connected_components`` does; unnecessary for the unrolled-few-rounds
    analytical form here.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_t"), F.col(weight).cast("double").alias("_w")
    )
    # The edge table is referenced by nodes, out-weights, N, and every
    # round's contributions — without a checkpoint, Spark re-executes the
    # caller's (possibly expensive) edge-build lineage once per reference
    # (plan audit: 5 copies of the trade-graph star join). Lazy local
    # checkpoint materializes it once on first use.
    e = materialize(e)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_t").alias("node")))
        .distinct()
    )
    n_scalar = nodes.agg(F.count("*").cast("double").alias("_n"))
    # sources whose weights sum to 0 (all-zero or cancelling weights) have
    # no mass to distribute — treat them as dangling like no-out-edge nodes
    # rather than dividing by zero (ANSI mode raises on double x/0)
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_wout")).filter(F.col("_wout") != 0)
    pr = nodes.crossJoin(F.broadcast(n_scalar)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    for _ in range(iters):
        contribs = (
            e.join(pr.withColumnRenamed("node", "_s"), "_s")
            .join(outw, "_s")
            .groupBy("_t")
            .agg(F.sum(F.col("pr") * F.col("_w") / F.col("_wout")).alias("_c"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(n_scalar))
            .join(contribs.withColumnRenamed("_t", "node"), "node", "left")
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping * F.coalesce(F.col("_c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr


def triangle_counts(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-node triangle counts via degree orientation (Cohen 2009 /
    Schank-Wagner "forward"): each undirected edge {u,v} is directed from
    its lower-(degree, id) endpoint to the higher one, wedges are built
    only among a node's OUT-edges, and a wedge closes iff the oriented
    (b, c) edge exists.

    Why this is the 100 TB formulation: the naive id-ordered wedge join
    enumerates sum(deg(v)^2) wedges, which a single celebrity node turns
    into a quadratic blowup; orientation bounds out-degree by O(sqrt(m)),
    so wedge count is O(m^1.5) worst case — the standard distributed
    triangle bound.  Three narrow shuffles total: degree agg, wedge
    self-join on the shared source, closing semi-join on (b, c).

    ``edges`` must hold each undirected edge once with ``src < dst``
    (id order); output is (node, n_triangles), nodes with zero triangles
    omitted.  Counts are identical to the naive enumeration — orientation
    only changes which copy of each triangle is generated.
    """
    # r11 opt (guide §1.2 #1 / §7.2 duplicated subtrees): `e` feeds deg
    # (twice, via the union) + the orientation join, and `oriented` feeds
    # three branches (both wedge sides + the closing semi-join) — without
    # materialization the edge-build lineage re-executed ~30× per
    # invocation (60 parquet scans in the before-plan of
    # graph_copurchase_triangles). Two lazy materializations collapse that
    # to one edge build + one orientation pass; counts are unchanged
    # (checkpointing only truncates lineage).
    e = materialize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        e.join(deg.withColumnsRenamed({"node": "u", "deg": "deg_u"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "deg": "deg_v"}), "v")
    )
    u_first = F.struct(F.col("deg_u"), F.col("u")) < F.struct(F.col("deg_v"), F.col("v"))
    oriented = (
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
            F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_d"),
        )
    )
    e1 = oriented.select("s", F.col("d").alias("b"), F.col("deg_d").alias("deg_b"))
    e2 = oriented.select("s", F.col("d").alias("c"), F.col("deg_d").alias("deg_c"))
    wedges = e1.join(e2, "s").filter(
        F.struct(F.col("deg_b"), F.col("b")) < F.struct(F.col("deg_c"), F.col("c"))
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tris = wedges.join(closing, ["b", "c"], "left_semi").select("s", "b", "c")
    return (
        tris.select(F.explode(F.array("s", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """(node, hops): minimum hop distance from any seed node, exploring at
    most ``max_hops`` rounds of frontier expansion over the *undirected*
    edge set. The k-hop reachability primitive behind "blast radius" /
    related-item expansion queries.

    Frontier BFS, not all-pairs: each round joins only the newly-reached
    frontier against the edge table and anti-joins out already-settled
    nodes, so total work is O(edges touched by the expansion), and each
    round is one shuffle join + one anti-join on node id. State per round
    (settled + frontier) is materialized — same lineage discipline as
    ``connected_components``. Early-exits when the frontier drains (a
    LIMIT-1 probe, scans until first hit).

    Deterministic for any edge/seed set, so a fixed ``max_hops`` is exactly
    reproducible by a bounded recursive CTE (the oracle strategy).
    """
    sym = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # Size-adaptive driver BFS (r10 opt; see _CC_DRIVER_MAX_SYM_ROWS): the
    # loop below costs (eager checkpoint + LIMIT-1 probe) jobs per hop.
    # Min-hop distance is pure integer arithmetic, so the numpy mirror is
    # bit-identical. Seeds OUTSIDE the edge set never affect reachability
    # (no edges) — they stay distributed as hops-0 rows, so only edge
    # endpoints ever cross to the driver. Construction is eager here (the
    # toPandas() runs jobs before any action on the returned frame); null
    # endpoints fall through to the distributed joins, whose null-dropping
    # defines the engine's semantics.
    node_type = sym.schema["a"].dataType
    sym_pdf = None
    if sym.count() <= _driver_sym_rows_cap(node_type):
        sym_pdf = sym.toPandas()
        if _has_null_endpoints(sym_pdf):
            sym_pdf = None
    if sym_pdf is not None:
        import numpy as np
        from pyspark.sql import types as T

        seed_nodes = seeds.select(F.col(node_col).alias("node")).distinct()
        seed_in = seed_nodes.join(
            sym.select(F.col("a").alias("node")), "node", "left_semi"
        )
        spdf = seed_in.toPandas()
        a, b, s, uniq = _factorize_edges(sym_pdf, spdf["node"].to_numpy())
        INF = np.iinfo(np.int64).max
        hops = np.full(len(uniq), INF, dtype=np.int64)
        hops[s] = 0
        frontier_mask = np.zeros(len(uniq), dtype=bool)
        frontier_mask[s] = True
        for h in range(1, max_hops + 1):
            hit = frontier_mask[a]
            reached = np.unique(b[hit])
            new = reached[hops[reached] == INF]
            if new.size == 0:
                break
            hops[new] = h
            frontier_mask[:] = False
            frontier_mask[new] = True
        import pandas as pd

        keep = hops != INF
        out = pd.DataFrame({"node": pd.Series(uniq[keep]), "hops": hops[keep]})
        out["hops"] = out["hops"].astype("int32")
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("hops", T.IntegerType()),
            ]
        )
        reached_df = sym.sparkSession.createDataFrame(out, schema=schema)
        outside = (
            seed_nodes.join(
                sym.select(F.col("a").alias("node")), "node", "left_anti"
            ).withColumn("hops", F.lit(0))
        )
        return reached_df.unionByName(outside)
    dist = materialize(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(sym, frontier.node == sym.a)
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = materialize(
            reached.join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h)),
            eager=True,
        )
        if not new.take(1):
            break
        dist = materialize(dist.unionByName(new))
        frontier = new.select("node")
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, community) after ``rounds`` of *synchronous* label
    propagation (Raghavan et al. 2007) over the undirected edge set:
    labels start as the node id; each round every node adopts the most
    frequent label among its neighbours, ties broken by the smallest
    label; isolated-in-this-round nodes keep their label.

    The synchronous fixed-round variant (not the randomized asynchronous
    one) is chosen deliberately: it is deterministic, so a small fixed
    ``rounds`` is exactly reproducible by unrolled SQL CTEs — the same
    oracle strategy as ``pagerank``. Per round: one groupBy(node, label)
    count shuffle + a per-node row_number window (partitioned by node,
    never global) + a left join back for keep-own-label fallbacks. The
    label table is materialized per round to truncate lineage.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from pyspark.sql import Window

    sym = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # Size-adaptive driver rounds (r10 opt; see _CC_DRIVER_MAX_SYM_ROWS):
    # synchronous LP is integer counting with a (max count, min label)
    # tie-break — exactly mirrorable. Label VALUES must compare like the
    # node column (the tie-break is by label order), so rounds run in
    # value-RANK space, not factorize-code space. Construction is eager on
    # this path (toPandas() runs jobs at build time); null endpoints fall
    # through to the distributed joins.
    node_type = sym.schema["a"].dataType
    sym_pdf = None
    if sym.count() <= _driver_sym_rows_cap(node_type):
        sym_pdf = sym.toPandas()
        if _has_null_endpoints(sym_pdf):
            sym_pdf = None
    if sym_pdf is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        a, b, uniq = _factorize_edges(sym_pdf)
        n = len(uniq)
        # rank codes by node value so "smaller label" == "smaller rank"
        perm = np.argsort(pd.Series(uniq).to_numpy(), kind="stable")
        rank_of_code = np.empty(n, dtype=np.int64)
        rank_of_code[perm] = np.arange(n, dtype=np.int64)
        ar, br = rank_of_code[a], rank_of_code[b]
        lab = np.arange(n, dtype=np.int64)  # in rank space: own rank
        for _ in range(rounds):
            # per (dst, neighbor-label) counts; winner = max c, tie min lab
            key = br * n + lab[ar]
            kk, cc = np.unique(key, return_counts=True)
            kb, kl = kk // n, kk % n
            order = np.lexsort((kl, -cc, kb))
            kb_o = kb[order]
            first = np.ones(len(kb_o), dtype=bool)
            first[1:] = kb_o[1:] != kb_o[:-1]
            new = lab.copy()
            new[kb_o[first]] = kl[order][first]
            lab = new
        vals_sorted = pd.Series(uniq).to_numpy()[perm]  # value per rank
        # one row per node, rank-indexed: node value + its label's value
        out = pd.DataFrame(
            {"node": pd.Series(vals_sorted), "community": pd.Series(vals_sorted[lab])}
        )
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("community", node_type),
            ]
        )
        return sym.sparkSession.createDataFrame(out, schema=schema)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), "lab")
    for _ in range(rounds):
        cnt = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        winner = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lab").alias("new_lab"))
        )
        labels = materialize(
            labels.join(winner, "node", "left")
            .select("node", F.coalesce("new_lab", "lab").alias("lab"))
        )
    return labels.select("node", F.col("lab").alias("community"))


def k_core_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Surviving (node, deg) pairs after ``rounds`` of k-core peeling over
    the undirected edge set: each round drops every node of degree < k and
    all its edges. Peeling is deterministic and idempotent once stable, so
    a fixed round count is exactly reproducible by unrolled SQL CTEs (the
    oracle strategy) AND an early-converged run returns the same answer as
    one that executes all rounds — the convergence probe is purely a cost
    optimization. Per round: one degree groupBy + two semi-joins on node
    id; the shrinking edge table is materialized each round.
    """
    cur = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    n_edges = cur.count()
    # Size-adaptive driver peel (r10 opt; see _CC_DRIVER_MAX_SYM_ROWS): the
    # loop costs an eager checkpoint + count job per round; degrees are
    # integer counts, so the numpy mirror — same bounded round count, same
    # stable-edge-set early exit — is bit-identical. Construction is eager
    # on this path (toPandas() runs jobs at build time); null endpoints
    # fall through to the distributed joins.
    node_type = cur.schema["a"].dataType
    cur_pdf = None
    if n_edges <= _driver_sym_rows_cap(node_type):
        cur_pdf = cur.toPandas()
        if _has_null_endpoints(cur_pdf):
            cur_pdf = None
    if cur_pdf is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        a, b, uniq = _factorize_edges(cur_pdf)
        for _ in range(rounds):
            deg = np.bincount(a, minlength=len(uniq))
            keep = deg >= k
            row = keep[a] & keep[b]
            if row.all():
                break
            a, b = a[row], b[row]
        deg = np.bincount(a, minlength=len(uniq))
        live = deg > 0
        out = pd.DataFrame(
            {"node": pd.Series(uniq[live]), "deg": deg[live].astype(np.int64)}
        )
        schema = T.StructType(
            [T.StructField("node", node_type), T.StructField("deg", T.LongType())]
        )
        return cur.sparkSession.createDataFrame(out, schema=schema)
    for _ in range(rounds):
        keep = (
            cur.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        cur = materialize(
            cur.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b"),
            eager=True,
        )
        n_next = cur.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    return (
        cur.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("deg"))
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(node, ppr) after ``iters`` synchronous rounds of PageRank with the
    teleport vector concentrated on ``seeds`` (column ``node``):
    ppr'(v) = (1-d)·t(v) + d·Σ_{u→v} ppr(u)·w(u,v)/W(u), t = 1/|S| on the
    seed set, 0 elsewhere; start state = t. The "rank relative to these
    seeds" recommender/expansion primitive. Same scale shape, dangling-mass
    simplification, and unrolled-CTE oracle strategy as ``pagerank``."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = materialize(
        edges.select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_t"),
            F.col(weight).cast("double").alias("_w"),
        )
    )
    sd = seeds.select("node").distinct()
    # Seeds are unioned into the node set: an isolated seed (no edges) still
    # holds its 1/|S| teleport share instead of silently vanishing while
    # diluting the others — total teleport mass stays exactly 1 (ADVICE r3).
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_t").alias("node")))
        .unionByName(sd)
        .distinct()
    )
    ns = sd.agg(F.count("*").cast("double").alias("_ns"))
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_wout")).filter(F.col("_wout") != 0)
    t = (
        nodes.join(sd.withColumn("_is_seed", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(F.col("_is_seed") == 1, F.lit(1.0) / F.col("_ns"))
            .otherwise(0.0)
            .alias("t"),
        )
    )
    pr = t.select("node", F.col("t").alias("pr"))
    for _ in range(iters):
        contribs = (
            e.join(pr.withColumnRenamed("node", "_s"), "_s")
            .join(outw, "_s")
            .groupBy("_t")
            .agg(F.sum(F.col("pr") * F.col("_w") / F.col("_wout")).alias("_c"))
        )
        pr = t.join(contribs.withColumnRenamed("_t", "node"), "node", "left").select(
            "node",
            (
                (1.0 - damping) * F.col("t")
                + damping * F.coalesce(F.col("_c"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr


def jaccard_link_prediction(
    edges: DataFrame, src: str = "u", dst: str = "v", min_common: int = 2
) -> DataFrame:
    """Common-neighbour Jaccard link prediction over an undirected edge
    list (id-ordered pairs): for every NON-adjacent pair sharing ≥
    ``min_common`` neighbours, score = |N(u)∩N(w)| / |N(u)∪N(w)|.

    Scale shape: candidate pairs come from the wedge self-join keyed on the
    shared neighbour — pair space Σdeg², the same bound the triangle
    counter documents, and only meaningful on a support-thresholded sparse
    graph (threshold BEFORE predicting). Existing edges are removed with an
    anti-join; degrees broadcast back. Deterministic, so fully
    SQL-oracled."""
    # Checkpoint the EDGE LIST, not just sym: the anti-join branch consumes
    # `e` directly, and without this the whole upstream edge build (for the
    # co-purchase query: a lineitem wedge self-join + support aggregation)
    # is recomputed from the parquet scans a second time (r10 opt — the
    # before-plan shows the full build duplicated under SortMergeJoin
    # LeftAnti). sym is a narrow union over the checkpointed blocks, so
    # every consumer (degrees, both wedge sides, anti-join) now starts from
    # one materialized build.
    e = materialize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    wa = sym.select(F.col("v").alias("n"), F.col("u").alias("a"))
    wb = sym.select(F.col("v").alias("n"), F.col("u").alias("b"))
    cand = (
        wa.join(wb, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= min_common)
    )
    non_adjacent = cand.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    return (
        non_adjacent.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard_score"),
        )
    )


def hits(
    edges: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(node, hub, authority) after ``iters`` synchronous HITS rounds on a
    weighted digraph: a'(v) = Σ_{u→v} h(u)·w, h'(u) = Σ_{u→v} a'(v)·w, each
    half-step L2-normalized. Kleinberg's hubs-and-authorities — the "who
    aggregates vs who is sourced" complement to PageRank, same unrolled-CTE
    oracle strategy and per-round rounding/materialize discipline as
    ``pagerank``.

    Scale shape: per round, two edge-sized shuffles (groupBy dst then src)
    plus two broadcast scalar norms; state is one double per node. Nodes
    with no in-edges hold authority 0 (they still appear — node set is the
    union of both endpoints), mirroring the dangling-mass convention.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = materialize(
        edges.select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_t"),
            F.col(weight).cast("double").alias("_w"),
        )
    )
    nodes = materialize(
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_t").alias("node")))
        .distinct()
    )
    h = nodes.select("node", F.lit(1.0).alias("h"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("node", "_s"), "_s")
            .groupBy(F.col("_t").alias("node"))
            .agg(F.sum(F.col("h") * F.col("_w")).alias("_ar"))
        )
        a_all = nodes.join(a_raw, "node", "left").select(
            "node", F.coalesce("_ar", F.lit(0.0)).alias("_ar")
        )
        a_nrm = a_all.agg(F.sqrt(F.sum(F.col("_ar") * F.col("_ar"))).alias("_n"))
        a = materialize(
            a_all.crossJoin(F.broadcast(a_nrm))
            .select(
                "node",
                F.when(F.col("_n") > 0, F.round(F.col("_ar") / F.col("_n"), 6))
                .otherwise(0.0)
                .alias("a"),
            )
        )
        h_raw = (
            e.join(a.withColumnRenamed("node", "_t"), "_t")
            .groupBy(F.col("_s").alias("node"))
            .agg(F.sum(F.col("a") * F.col("_w")).alias("_hr"))
        )
        h_all = nodes.join(h_raw, "node", "left").select(
            "node", F.coalesce("_hr", F.lit(0.0)).alias("_hr")
        )
        h_nrm = h_all.agg(F.sqrt(F.sum(F.col("_hr") * F.col("_hr"))).alias("_n"))
        h = (
            h_all.crossJoin(F.broadcast(h_nrm))
            .select(
                "node",
                F.when(F.col("_n") > 0, F.round(F.col("_hr") / F.col("_n"), 6))
                .otherwise(0.0)
                .alias("h"),
            )
        )
    return h.join(a, "node").select(
        "node", F.col("h").alias("hub"), F.col("a").alias("authority")
    )


def bellman_ford_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
) -> DataFrame:
    """(node, dist): cheapest known path cost from the seed set after a
    FIXED number of synchronous Bellman-Ford relaxation rounds over an
    undirected weighted graph — the weighted companion of ``bfs_hops``
    (hop distance ⊂ this with cost ≡ 1). Fixed rounds keep the result
    exactly reproducible by unrolled SQL CTEs (house oracle strategy);
    a round that relaxes nothing is already the fixpoint.

    Scale shape per round: one edge-sized join + groupBy(node) min — the
    frontier-less dense form (correct even when negative... costs here are
    positive; for sparse frontiers bfs_hops' delta expansion is the model).
    State is one (node, dist) row per reached node; materialize per
    round truncates the iterative lineage.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    sym = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), F.col(cost).alias("c"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"), F.col(cost).alias("c"))
        )
    )
    # Size-adaptive driver relaxation (r10 opt; see _CC_DRIVER_MAX_SYM_ROWS):
    # EXACTLY `rounds` synchronous min-plus rounds over long costs — integer
    # arithmetic, so the numpy mirror is bit-identical, including the
    # fixed-round (not converged-shortest-path) semantics. Seeds outside
    # the edge set keep dist 0 distributed, as in bfs_hops. The mirror is
    # int64-only: fractional (double/decimal) cost columns stay on the
    # distributed path, whose dist type follows the cost column's type.
    # Construction is eager on this path (toPandas() runs jobs at build
    # time); null endpoints/costs fall through to the distributed joins.
    from pyspark.sql import types as T

    node_type = sym.schema["a"].dataType
    cost_integral = isinstance(
        sym.schema["c"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    sym_pdf = None
    if cost_integral and sym.count() <= _driver_sym_rows_cap(node_type):
        sym_pdf = sym.toPandas()
        if _has_null_endpoints(sym_pdf) or bool(
            len(sym_pdf) and sym_pdf["c"].isna().any()
        ):
            sym_pdf = None
    if sym_pdf is not None:
        import numpy as np
        import pandas as pd

        seed_nodes = seeds.select("node").distinct()
        seed_in = seed_nodes.join(
            sym.select(F.col("a").alias("node")), "node", "left_semi"
        )
        spdf = seed_in.toPandas()
        a, b, s, uniq = _factorize_edges(sym_pdf, spdf["node"].to_numpy())
        c = sym_pdf["c"].to_numpy().astype(np.int64)
        INF = np.iinfo(np.int64).max
        d = np.full(len(uniq), INF, dtype=np.int64)
        d[s] = 0
        for _ in range(rounds):
            nd = d.copy()
            reach = d[a] != INF
            if reach.any():
                np.minimum.at(nd, b[reach], d[a[reach]] + c[reach])
            d = nd
        keep = d != INF
        out = pd.DataFrame({"node": pd.Series(uniq[keep]), "dist": d[keep]})
        schema = T.StructType(
            [T.StructField("node", node_type), T.StructField("dist", T.LongType())]
        )
        reached_df = sym.sparkSession.createDataFrame(out, schema=schema)
        outside = seed_nodes.join(
            sym.select(F.col("a").alias("node")), "node", "left_anti"
        ).withColumn("dist", F.lit(0).cast("long"))
        return reached_df.unionByName(outside)
    dist = seeds.select(F.col("node"), F.lit(0).cast("long").alias("dist")).distinct()
    for _ in range(rounds):
        relaxed = (
            sym.join(dist.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), (F.col("dist") + F.col("c")).alias("dist"))
        )
        dist = materialize(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist
