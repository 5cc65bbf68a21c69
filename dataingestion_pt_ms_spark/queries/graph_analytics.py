"""Graph-analytics queries over the relational fixtures.

PageRank over the nation-level trade graph (customer nation → supplier
nation, weighted by lineitem count): the canonical iterative algorithm a
warehouse user reaches for beyond connected components. The operator
(operators/graph.py:pagerank) runs a fixed number of synchronous rounds, so
the DuckDB oracle unrolls them as CTEs — the same exactly-reproducible
strategy as the k-means / PQ codebook oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.graph import (
    bfs_hops,
    k_core_peel,
    label_propagation,
    pagerank,
    triangle_counts,
)
from ..session import materialize
from . import register

_D = 0.85

_EDGES_SQL = """
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
"""

# one PageRank round as a CTE body: reads prev ranks from {prev}
_ITER_SQL = f"""
  SELECT nodes.node,
         (1.0 - {_D}) / n._n
         + {_D} * coalesce(sum({{prev}}.pr * e.w / outw.wout), 0.0) AS pr
  FROM nodes CROSS JOIN n
  LEFT JOIN e ON e.dst = nodes.node
  LEFT JOIN {{prev}} ON {{prev}}.node = e.src
  LEFT JOIN outw ON outw.src = e.src
  GROUP BY nodes.node, n._n
"""

PAGERANK_ORACLE = f"""
WITH e AS ({_EDGES_SQL}),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS _n FROM nodes),
outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
pr0 AS (SELECT node, 1.0 / n._n AS pr FROM nodes CROSS JOIN n),
pr1 AS ({_ITER_SQL.format(prev="pr0")}),
pr2 AS ({_ITER_SQL.format(prev="pr1")})
SELECT nat.n_name, round(pr2.pr, 6) AS pagerank
FROM pr2 JOIN nation nat ON nat.n_nationkey = pr2.node
ORDER BY pagerank DESC, n_name
"""


@register("graph_nation_trade_pagerank", oracle=PAGERANK_ORACLE)
def graph_nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled weighted-PageRank rounds over the customer-nation →
    supplier-nation trade graph; final ranks joined back to nation names.
    The star-join edge build broadcasts customer/supplier dims via AQE and
    aggregates down to at most 25×25 weighted edges before any iteration
    touches them — the iterations are O(nations), not O(lineitems)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    pr = pagerank(edges, iters=2, damping=_D)
    return (
        pr.join(F.broadcast(nation), pr.node == nation.n_nationkey)
        .select("n_name", F.round("pr", 6).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "n_name")
    )


# --------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph: parts are connected
# when >= 2 distinct orders contain both — the support threshold that turns
# the basket fan-out into a sparse similarity graph (same blocking idea as
# the fuzzy join).  The Spark side runs the degree-oriented algorithm
# (operators/graph.py:triangle_counts, O(m^1.5) wedges); the oracle counts
# the same triangles with the naive id-ordered 3-way join, which is
# feasible at oracle scale precisely because the threshold already pruned
# the edges — the two enumerate each triangle exactly once.
# --------------------------------------------------------------------------
_TRI_EDGES_SQL = """
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING count(*) >= 2
"""

TRIANGLE_ORACLE = f"""
WITH e AS ({_TRI_EDGES_SQL}),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, count(*) AS n_triangles
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY node
ORDER BY n_triangles DESC, node
"""


@register("graph_copurchase_triangles", oracle=TRIANGLE_ORACLE)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
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
    return triangle_counts(edges).orderBy(F.desc("n_triangles"), "node")


# --------------------------------------------------------------------------
# Multi-source BFS over the co-purchase graph: minimum hop distance from
# the Brand#4 parts to everything reachable within 3 hops — the "blast
# radius" / related-item expansion primitive. The operator
# (operators/graph.py:bfs_hops) expands a frontier (work = edges touched,
# never all-pairs); the oracle is a hop-bounded recursive CTE whose UNION
# dedups (node, hops) rows per step, so both enumerate min distances.
# --------------------------------------------------------------------------
_BFS_BRAND = "Brand#4"
_BFS_HOPS = 3

BFS_ORACLE = f"""
WITH RECURSIVE e0 AS ({_TRI_EDGES_SQL}),
e AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
seeds AS (SELECT p_partkey AS node FROM part WHERE p_brand = '{_BFS_BRAND}'),
walk(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.b, w.hops + 1 FROM walk w JOIN e ON e.a = w.node
  WHERE w.hops < {_BFS_HOPS}
)
SELECT node, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY node ORDER BY node
"""


@register("graph_bfs_copurchase_hops", oracle=BFS_ORACLE)
def graph_bfs_copurchase_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
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
    seeds = part.filter(F.col("p_brand") == _BFS_BRAND).select(
        F.col("p_partkey").alias("node")
    )
    dist = bfs_hops(edges, seeds, max_hops=_BFS_HOPS, src="u", dst="v")
    return dist.select("node", F.col("hops").cast("bigint").alias("hops")).orderBy(
        "node"
    )


# --------------------------------------------------------------------------
# Community detection: synchronous label propagation (2 fixed rounds) over
# the same co-purchase graph. Deterministic-by-construction (most-frequent
# neighbour label, ties -> min label), so the oracle unrolls the rounds as
# CTEs exactly like the PageRank oracle above.
# --------------------------------------------------------------------------
_LPA_ITER_SQL = """
cnt{r} AS (
  SELECT e.b AS node, p.lab, count(*) AS c
  FROM e JOIN lab{p} p ON p.node = e.a GROUP BY e.b, p.lab
),
sel{r} AS (
  SELECT node, lab,
         row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
  FROM cnt{r}
),
lab{r} AS (
  SELECT l.node, coalesce(s.lab, l.lab) AS lab
  FROM lab{p} l
  LEFT JOIN (SELECT node, lab FROM sel{r} WHERE rn = 1) s ON s.node = l.node
)"""

LPA_ORACLE = f"""
WITH e0 AS ({_TRI_EDGES_SQL}),
e AS (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
lab0 AS (SELECT DISTINCT a AS node, a AS lab FROM e),
{_LPA_ITER_SQL.format(r=1, p=0)},
{_LPA_ITER_SQL.format(r=2, p=1)}
SELECT node, lab AS community FROM lab2 ORDER BY node
"""


@register("graph_copurchase_communities", oracle=LPA_ORACLE)
def graph_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
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
    return label_propagation(edges, rounds=2, src="u", dst="v").orderBy("node")


# --------------------------------------------------------------------------
# k-core decomposition (k=3) of the co-purchase graph: the densest-region
# extraction used to find the stable "frequently bought together" backbone.
# Peeling is deterministic and idempotent once stable, so the oracle
# unrolls the same fixed number of peel rounds as CTEs; the Spark operator
# may early-exit on convergence and still return the identical answer.
# --------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 6

# MATERIALIZED is load-bearing: each CTE is referenced 3x by the next
# round, and DuckDB would otherwise inline them — 3^rounds edge-build
# re-evaluations (measured 357 s vs 0.1 s at sf0.01).
_KCORE_ITER_SQL = """
keep{r} AS MATERIALIZED (
  SELECT a FROM e{p} GROUP BY a HAVING count(*) >= {k}
),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{p} e
  JOIN keep{r} ka ON ka.a = e.a
  JOIN keep{r} kb ON kb.a = e.b
)"""

KCORE_ORACLE = (
    f"WITH e00 AS MATERIALIZED ({_TRI_EDGES_SQL}),\n"
    f"e0 AS MATERIALIZED (SELECT u AS a, v AS b FROM e00 UNION SELECT v, u FROM e00),\n"
    + ",\n".join(
        _KCORE_ITER_SQL.format(r=r, p=r - 1, k=_KCORE_K)
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + f"""
SELECT a AS node, count(*) AS deg
FROM e{_KCORE_ROUNDS} GROUP BY a ORDER BY node
"""
)


@register("graph_copurchase_kcore", oracle=KCORE_ORACLE)
def graph_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
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
    return k_core_peel(
        edges, k=_KCORE_K, rounds=_KCORE_ROUNDS, src="u", dst="v"
    ).orderBy("node")


# one personalized-PageRank round: teleport mass goes to the seed vector t
_PPR_ITER_SQL = f"""
  SELECT t.node,
         (1.0 - {_D}) * t.t
         + {_D} * coalesce(sum({{prev}}.pr * e.w / outw.wout), 0.0) AS pr
  FROM t
  LEFT JOIN e ON e.dst = t.node
  LEFT JOIN {{prev}} ON {{prev}}.node = e.src
  LEFT JOIN outw ON outw.src = e.src
  GROUP BY t.node, t.t
"""

PPR_ORACLE = f"""
WITH e AS ({_EDGES_SQL}),
sd AS (SELECT DISTINCT n_nationkey AS node FROM nation WHERE n_regionkey = 2),
-- seeds union into the node set (isolated seeds keep their teleport share)
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
    UNION ALL SELECT node FROM sd
  )
),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS _ns FROM sd),
outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
t AS (
  SELECT nodes.node,
         CASE WHEN sd.node IS NOT NULL THEN 1.0 / ns._ns ELSE 0.0 END AS t
  FROM nodes LEFT JOIN sd ON sd.node = nodes.node CROSS JOIN ns
),
pr0 AS (SELECT node, t AS pr FROM t),
pr1 AS ({_PPR_ITER_SQL.format(prev="pr0")}),
pr2 AS ({_PPR_ITER_SQL.format(prev="pr1")})
SELECT nat.n_name, round(pr2.pr, 6) AS ppr
FROM pr2 JOIN nation nat ON nat.n_nationkey = pr2.node
ORDER BY ppr DESC, n_name
"""


@register("graph_personalized_pagerank", oracle=PPR_ORACLE)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the nation trade graph with the teleport
    vector on region-2 (ASIA) nations — "trade influence relative to these
    seed economies". Same unrolled-round oracle strategy as the global
    PageRank; the seed set is a broadcast dim
    (operators/graph.py:personalized_pagerank)."""
    from ..operators.graph import personalized_pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )
    seeds = nation.filter(F.col("n_regionkey") == 2).select(
        F.col("n_nationkey").alias("node")
    )
    pr = personalized_pagerank(edges, seeds, iters=2, damping=_D)
    return (
        pr.join(F.broadcast(nation), pr.node == nation.n_nationkey)
        .select("n_name", F.round("pr", 6).alias("ppr"))
        .orderBy(F.col("ppr").desc(), "n_name")
    )


# --------------------------------------------------------------------------
# Link prediction on the thresholded co-purchase graph: which part pairs
# are NOT yet co-purchased (≥2 shared orders) but share many co-purchase
# neighbours — the "customers who bought these also bought" candidate
# generator. Candidates from the wedge join (Σdeg² on the sparse graph),
# existing edges anti-joined away, common-neighbour Jaccard scored.
# --------------------------------------------------------------------------
LINKPRED_ORACLE = f"""
WITH e AS ({_TRI_EDGES_SQL}),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
cand AS (
  SELECT a.u AS a, b.u AS b, count(*) AS cn
  FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
nonadj AS (
  SELECT cand.* FROM cand
  LEFT JOIN e ON e.u = cand.a AND e.v = cand.b
  WHERE e.u IS NULL
)
SELECT nonadj.a AS u, nonadj.b AS v, cn,
       round(CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE), 6)
         AS jaccard_score
FROM nonadj
JOIN deg da ON da.u = nonadj.a
JOIN deg db ON db.u = nonadj.b
ORDER BY jaccard_score DESC, u, v
"""


@register("graph_copurchase_link_prediction", oracle=LINKPRED_ORACLE)
def graph_copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import jaccard_link_prediction

    li = load_table(spark, sf_dir, "lineitem")
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
    return jaccard_link_prediction(edges, min_common=2).orderBy(
        F.col("jaccard_score").desc(), "u", "v"
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities on the nation trade graph — "who aggregates
# demand vs who sources supply", the directed complement of PageRank.
# Unrolled-round MATERIALIZED-CTE oracle (house strategy for iterative
# ops); each half-step L2-normalizes and rounds to 6 dp on BOTH sides so
# summation-order noise never reaches the value hash. Beyond-reference
# [NS] (SURVEY.md §2.B graph analytics).
# --------------------------------------------------------------------------
_HITS_ITERS = 3


def _hits_round(t: int) -> str:
    return f""",
ar{t} AS MATERIALIZED (
  SELECT nodes.node, coalesce(sum(h{t - 1}.h * e.w), 0.0) AS ar
  FROM nodes LEFT JOIN e ON e.dst = nodes.node
             LEFT JOIN h{t - 1} ON h{t - 1}.node = e.src
  GROUP BY nodes.node
),
a{t} AS MATERIALIZED (
  SELECT node,
         CASE WHEN (SELECT sqrt(sum(ar * ar)) FROM ar{t}) > 0
              THEN round(ar / (SELECT sqrt(sum(ar * ar)) FROM ar{t}), 6)
              ELSE 0.0 END AS a
  FROM ar{t}
),
hr{t} AS MATERIALIZED (
  SELECT nodes.node, coalesce(sum(a{t}.a * e.w), 0.0) AS hr
  FROM nodes LEFT JOIN e ON e.src = nodes.node
             LEFT JOIN a{t} ON a{t}.node = e.dst
  GROUP BY nodes.node
),
h{t} AS MATERIALIZED (
  SELECT node,
         CASE WHEN (SELECT sqrt(sum(hr * hr)) FROM hr{t}) > 0
              THEN round(hr / (SELECT sqrt(sum(hr * hr)) FROM hr{t}), 6)
              ELSE 0.0 END AS h
  FROM hr{t}
)"""


HITS_ORACLE = f"""
WITH e AS ({_EDGES_SQL}),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
),
h0 AS (SELECT node, 1.0 AS h FROM nodes){"".join(_hits_round(t) for t in range(1, _HITS_ITERS + 1))}
SELECT nat.n_name, h{_HITS_ITERS}.h AS hub, a{_HITS_ITERS}.a AS authority
FROM h{_HITS_ITERS}
JOIN a{_HITS_ITERS} ON a{_HITS_ITERS}.node = h{_HITS_ITERS}.node
JOIN nation nat ON nat.n_nationkey = h{_HITS_ITERS}.node
ORDER BY n_name
"""


@register("graph_hits_nation_trade", oracle=HITS_ORACLE)
def graph_hits_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the customer-nation → supplier-nation trade graph
    (operators/graph.py:hits): hub score = the nation as demand aggregator,
    authority = the nation as supply source. Edge build is the same star
    join as PageRank; per round two edge-sized shuffles + broadcast norms."""
    from ..operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )
    hs = hits(edges, iters=_HITS_ITERS)
    return (
        hs.join(F.broadcast(nation), hs.node == nation.n_nationkey)
        .select("n_name", "hub", "authority")
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Weighted cheapest-path distances (round 4): bounded Bellman-Ford from
# the Brand#4 seed parts over the co-purchase graph, edge cost =
# 1000 // support (integer floor-division — exact in both engines; strong
# co-purchase links are cheap to traverse). Three unrolled relaxation
# rounds, MATERIALIZED per round. The weighted companion of the BFS hop
# query. Beyond-reference [NS] (graph family).
# --------------------------------------------------------------------------
_BF_ROUNDS = 3

_BF_EDGES_SQL = """
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         1000 // count(*) AS cost
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING count(*) >= 2
"""

_BF_ROUND_CTES = "".join(
    f""",
d{t} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{t - 1}
    UNION ALL
    SELECT e.b, d{t - 1}.dist + e.cost FROM d{t - 1} JOIN e ON e.a = d{t - 1}.node
  ) GROUP BY node
)"""
    for t in range(1, _BF_ROUNDS + 1)
)

BF_ORACLE = f"""
WITH e0 AS ({_BF_EDGES_SQL}),
e AS (SELECT u AS a, v AS b, cost FROM e0 UNION ALL SELECT v, u, cost FROM e0),
d0 AS (SELECT DISTINCT p_partkey AS node, 0 AS dist
       FROM part WHERE p_brand = 'Brand#4'){_BF_ROUND_CTES}
SELECT node, CAST(dist AS BIGINT) AS dist
FROM d{_BF_ROUNDS} ORDER BY node
"""


@register("graph_cheapest_path_rounds", oracle=BF_ORACLE)
def graph_cheapest_path_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bellman_ford_rounds

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select(
            "u", "v", F.floor(F.lit(1000) / F.col("sup")).cast("long").alias("cost")
        )
    )
    seeds = part.filter(F.col("p_brand") == "Brand#4").select(
        F.col("p_partkey").alias("node")
    )
    d = bellman_ford_rounds(
        edges, seeds, rounds=_BF_ROUNDS, src="u", dst="v", cost="cost"
    )
    return d.select("node", F.col("dist").cast("long").alias("dist")).orderBy("node")


# --------------------------------------------------------------------------
# Recursive CTE SQL surface (round 4, Spark 4): hop-bounded reachability
# from the smallest Brand#4 part over the co-purchase graph, written as
# WITH RECURSIVE in BOTH engines — the declarative twin of the operator-
# level BFS (graph_bfs_copurchase_hops). The recursion is UNION ALL with
# an explicit hop guard (< 2) so the frontier is bounded regardless of
# dedup strategy; min(hops) collapses multiple discovery paths.
# --------------------------------------------------------------------------
_RCTE_TEMPLATE = """
WITH RECURSIVE e0 AS ({edges}),
e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
seed AS (SELECT min(p_partkey) AS node FROM part WHERE p_brand = 'Brand#4'),
walk(node, hops) AS (
  SELECT node, 0 FROM seed
  UNION ALL
  SELECT e.b, w.hops + 1 FROM walk w JOIN e ON e.a = w.node
  WHERE w.hops < 2
)
SELECT node, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY node ORDER BY node
"""

RCTE_ORACLE = _RCTE_TEMPLATE.format(edges=_TRI_EDGES_SQL)

_SPARK_TRI_EDGES = """
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING count(*) >= 2
"""


@register("sql_recursive_cte_reachability", oracle=RCTE_ORACLE)
def sql_recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    # materialize the (expensive) edge build OUTSIDE the recursion — the
    # recursive plan references the edge CTE once per iteration, and a
    # checkpointed temp view stops the basket self-join from re-running
    # every round (4.9 → ~2.5 s at sf0.1)
    edges = materialize(spark.sql(_SPARK_TRI_EDGES))
    edges.createOrReplaceTempView("_rcte_edges")
    return spark.sql(_RCTE_TEMPLATE.format(edges="SELECT * FROM _rcte_edges"))


# --------------------------------------------------------------------------
# Degree assortativity (round 4): Pearson correlation of endpoint degrees
# over the (undirected, symmetrized) co-purchase edge set — positive means
# hubs prefer hubs (social-style), negative means hub-and-spoke
# (infrastructure-style); THE one-number network-topology fingerprint.
# One degree aggregate + two broadcast joins + built-in corr, rounded 6.
# --------------------------------------------------------------------------
ASSORT_ORACLE = f"""
WITH e0 AS ({_TRI_EDGES_SQL}),
e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
deg AS (SELECT a AS node, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY a)
SELECT CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges,
       round(corr(da.d, db.d), 6) AS assortativity
FROM e
JOIN deg da ON da.node = e.a
JOIN deg db ON db.node = e.b
"""


@register("graph_degree_assortativity", oracle=ASSORT_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    e0 = materialize(
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("u", "v")
    )  # sym edges + edge count
    e = e0.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e0.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    n_edges = e0.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        e.join(F.broadcast(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da")), "a")
        .join(F.broadcast(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db")), "b")
        .agg(F.round(F.corr("da", "db"), 6).alias("assortativity"))
        .crossJoin(F.broadcast(n_edges))
        .select(F.col("n_edges").cast("long").alias("n_edges"), "assortativity")
    )


# --------------------------------------------------------------------------
# Local clustering coefficient (round 4, session 2): per-node
# 2·tri(v) / (deg(v)·(deg(v)−1)) over the support-thresholded co-purchase
# graph — the "how clique-like is this node's neighbourhood" score that
# separates hub parts (low coeff, star-shaped baskets) from bundle parts
# (high coeff, always bought as a set). Reuses the degree-oriented
# O(m^1.5) triangle operator (operators/graph.py:triangle_counts) plus one
# degree aggregate and a broadcast-size left join; the oracle recounts the
# same triangles with the naive id-ordered 3-way join. Single final
# division on integer inputs → deterministic round across engines.
# Beyond-reference [NS] (graph family).
# --------------------------------------------------------------------------
CLUSTER_COEFF_ORACLE = f"""
WITH e AS ({_TRI_EDGES_SQL}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
tc AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree, coalesce(tc.n_triangles, 0) AS n_triangles,
       round(2.0 * coalesce(tc.n_triangles, 0)
             / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
FROM deg d LEFT JOIN tc USING (node)
WHERE d.degree >= 2
ORDER BY clustering_coeff DESC, node
"""


@register("graph_clustering_coefficient", oracle=CLUSTER_COEFF_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
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
    # the thresholded edge set feeds both the degree agg and the triangle
    # operator — materialize once so the basket self-join runs once
    edges = materialize(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tc = triangle_counts(edges)
    return (
        deg.join(tc, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            "n_triangles",
            F.round(
                F.lit(2.0)
                * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy(F.col("clustering_coeff").desc(), "node")
    )


# --------------------------------------------------------------------------
# Link-prediction training set (round 4, re-bounded round 5): the
# ML-data-prep step the scoring row (graph_copurchase_link_prediction)
# presumes — positives = observed co-purchase edges; negatives =
# DETERMINISTIC hash-sampled non-edges. The scale trap is enumerating n²
# candidate non-edges and filtering; a FIXED-fraction bucket (r4 used
# md5 % 4 = ¼ of each side) is still n²/16 growth. Round 5 sizes the
# modulus from the graph itself: B = max(2, ceil(n / (5·√|E|))) gives
# |S_a|·|S_b| ≈ (n/B)² ≈ 25·|E| candidate pairs — the negative budget
# is a bounded multiple of the EDGE count, so it scales with the input,
# never with n². Output: per-class counts + mean endpoint degrees, the
# class-balance / degree-bias audit you run before training
# (hash-sampled negatives over-represent high-degree nodes if the
# sampling keys correlate with degree — here they cannot: md5 of the id).
# --------------------------------------------------------------------------
LP_TRAINSET_ORACLE = f"""
WITH e AS MATERIALIZED ({_TRI_EDGES_SQL}),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
), params AS (
  SELECT greatest(
    2, CAST(ceil(nn / (5.0 * greatest(1.0, sqrt(ne)))) AS BIGINT)
  ) AS bmod
  FROM (SELECT CAST(count(*) AS DOUBLE) AS ne FROM e) t1,
       (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg) t2
), sa AS (
  SELECT node FROM deg, params
  WHERE CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8)) AS BIGINT)
        % bmod = 0
), sb AS (
  SELECT node FROM deg, params
  WHERE CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8)) AS BIGINT)
        % bmod = 1
), negs AS (
  SELECT least(sa.node, sb.node) AS u, greatest(sa.node, sb.node) AS v
  FROM sa CROSS JOIN sb
  WHERE sa.node <> sb.node
  EXCEPT
  SELECT u, v FROM e
), labeled AS (
  SELECT u, v, 1 AS label FROM e
  UNION ALL
  SELECT u, v, 0 AS label FROM negs
)
SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(CAST(du.d AS DOUBLE)), 4) AS mean_deg_u,
       round(avg(CAST(dv.d AS DOUBLE)), 4) AS mean_deg_v
FROM labeled
JOIN deg du ON du.node = labeled.u
JOIN deg dv ON dv.node = labeled.v
GROUP BY label
ORDER BY label
"""


@register("graph_lp_training_set", oracle=LP_TRAINSET_ORACLE)
def graph_lp_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
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
    edges = materialize(edges)  # deg/neg/label branches
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = materialize(deg)
    # bounded negative budget (VERDICT r4 #1): B = max(2, ceil(n/(5·√E)))
    # makes |sa|·|sb| ≈ (n/B)² ≈ 25·|edges| — the candidate bill grows
    # with the edge count, not n². Computed as a 1-row broadcast so the
    # whole thing stays one lazy plan (no driver-side count actions);
    # |sb| ≈ 5·√E rows, small enough to broadcast at any realistic E.
    stats = (
        edges.agg(F.count(F.lit(1)).cast("double").alias("n_e"))
        .crossJoin(deg.agg(F.count(F.lit(1)).cast("double").alias("n_n")))
        .select(
            F.greatest(
                F.lit(2).cast("long"),
                F.ceil(
                    F.col("n_n")
                    / (F.lit(5.0) * F.greatest(F.lit(1.0), F.sqrt(F.col("n_e"))))
                ).cast("long"),
            ).alias("b_mod")
        )
    )
    degb = deg.crossJoin(F.broadcast(stats))
    bucket = (
        F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.col("b_mod")
    )
    sa = degb.where(bucket == 0).select(F.col("node").alias("na"))
    sb = degb.where(bucket == 1).select(F.col("node").alias("nb"))
    negs = (
        sa.crossJoin(F.broadcast(sb))
        .where(F.col("na") != F.col("nb"))
        .select(
            F.least("na", "nb").alias("u"), F.greatest("na", "nb").alias("v")
        )
        .exceptAll(edges.select("u", "v"))
        .distinct()
    )
    labeled = edges.select("u", "v", F.lit(1).alias("label")).unionByName(
        negs.select("u", "v", F.lit(0).alias("label"))
    )
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")))
    return (
        labeled.join(du, "u")
        .join(dv, "v")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(F.col("du").cast("double")), 4).alias("mean_deg_u"),
            F.round(F.avg(F.col("dv").cast("double")), 4).alias("mean_deg_v"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Directed reciprocity of the nation trade graph: r = Σ min(w_ij, w_ji) /
# Σ w_ij (weighted reciprocity, Squartini et al. 2013) plus the unweighted
# dyad version — does trade flow both ways or one way? One self-join of
# the ≤ 25×25 aggregated edge table on the reversed key; the star-join
# edge build (shared shape with pagerank/HITS) does all the heavy lifting
# at O(lineitems) with broadcast dims.
# --------------------------------------------------------------------------
RECIPROCITY_ORACLE = """
WITH lo AS MATERIALIZED (
  -- pre-aggregate the fact join to (suppkey, custkey) BEFORE the dim
  -- joins: without this DuckDB's optimizer (no stats on glob views)
  -- picked a customer x supplier build at the 10x sweep scale and ground
  -- to a 100 GB hash join; the pre-agg pins the cheap order
  SELECT l_suppkey, o_custkey, count(*) AS cnt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey, o_custkey
), edges AS MATERIALIZED (
  -- MATERIALIZED: nonloop is referenced twice; inlining re-plans the
  -- star join per reference and one copy picked the quadratic build
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(sum(cnt) AS DOUBLE) AS w
  FROM lo
  JOIN customer c ON lo.o_custkey = c.c_custkey
  JOIN supplier s ON lo.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey
), nonloop AS (
  SELECT * FROM edges WHERE src <> dst
), paired AS (
  SELECT a.src, a.dst, a.w, COALESCE(b.w, 0.0) AS w_rev
  FROM nonloop a
  LEFT JOIN nonloop b ON b.src = a.dst AND b.dst = a.src
)
SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
       CAST(SUM(CASE WHEN w_rev > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reciprocated,
       round(SUM(CASE WHEN w_rev > 0 THEN 1.0 ELSE 0.0 END) / count(*), 6)
         AS reciprocity_unweighted,
       round(SUM(least(w, w_rev)) / SUM(w), 6) AS reciprocity_weighted
FROM paired
"""


@register("graph_trade_reciprocity", oracle=RECIPROCITY_ORACLE)
def graph_trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
        .filter(F.col("src") != F.col("dst"))
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w").alias("w_rev")
    )
    paired = edges.join(rev, ["src", "dst"], "left").withColumn(
        "w_rev", F.coalesce(F.col("w_rev"), F.lit(0.0))
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_directed_edges"),
        F.sum(F.when(F.col("w_rev") > 0, 1).otherwise(0)).cast("long").alias(
            "n_reciprocated"
        ),
        F.round(
            F.sum(F.when(F.col("w_rev") > 0, 1.0).otherwise(0.0)) / F.count(F.lit(1)),
            6,
        ).alias("reciprocity_unweighted"),
        F.round(F.sum(F.least("w", "w_rev")) / F.sum("w"), 6).alias(
            "reciprocity_weighted"
        ),
    )
