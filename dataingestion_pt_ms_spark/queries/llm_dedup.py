"""Deduplication queries over ``documents`` (SURVEY.md §2.B: exact,
MinHash-LSH, SimHash, n-gram Jaccard).

Every query here except the two production fast paths
(``dedup_minhash_lsh_pairs``, ``dedup_cross_corpus_minhash`` — xxhash64
base hash, engine-specific) has a full DuckDB oracle — including the
complete MinHash-LSH pipeline via the ``*_md5`` twins (md5-derived base
hashes make signatures bit-identical across engines; the xxhash64 band key
is only a grouping key) and, since round 2, the end-to-end
``dedup_cluster_near_dups`` clustering via a recursive-CTE transitive
closure. Round 3 made xxhash64 the BENCHED default (VERDICT r2 "Next
round" #1: the md5 hex/`conv` base hash cost 14.4 s cold on the driver's
harness vs ~2× less for pure-JVM xxhash64); the md5 twins keep the full
oracles, and tests/test_operators.py bridges the two with pair-set
equality plus determinism + recall-vs-exhaustive checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as D
from ..session import materialize
from . import register
from ._ducktwins import DSHINGLES, DTOKS

_DTOKS = DTOKS
_DSHINGLES = DSHINGLES

EXACT_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_dupes
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact_groups", oracle=EXACT_ORACLE)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


KEEP_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
"""


@register("dedup_exact_kept_rows", oracle=KEEP_ORACLE)
def dedup_exact_kept_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = D.exact_dedup(docs, "text", "doc_id").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "source")


NGRAM_ORACLE = f"""
WITH sh AS (SELECT doc_id, {_DSHINGLES} AS sh FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             END, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
ORDER BY key_a
"""


@register("dedup_ngram_jaccard_pairs", oracle=NGRAM_ORACLE)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over consecutive-id candidate pairs (bounded
    candidate set → SQL-checkable; the LSH query below generates candidates
    at scale instead)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("key_a")).join(
        docs.select((F.col("doc_id") - 1).alias("key_a"), F.col("doc_id").alias("key_b")),
        "key_a",
    )
    return D.jaccard_pairs(docs, pairs, "text", "doc_id").orderBy("key_a")


# DuckDB twin of the full MinHash-LSH pipeline. The base shingle hash is an
# md5 prefix (bit-identical across engines); the 64 permutation constants
# come from the same _perm_params generator; banding groups on the band's
# exact signature-value tuple (the engine's xxhash64 band key is just a
# grouping key — pair output is identical absent a 64-bit collision that
# ALSO passes the ≥0.8 exact-Jaccard verify).
_MINHASH_SIG_AGGS = ", ".join(
    f"min(({a} * h + {b}) % 2147483647) AS m{p}"
    for p, (a, b) in enumerate(D._perm_params(64))
)
_MINHASH_BANDS = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, concat_ws(',', {cols}) AS band_key FROM sig".format(
        b=b, cols=", ".join(f"m{b * 8 + r}" for r in range(8))
    )
    for b in range(8)
)
_DJACC = (
    "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)"
    " - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)), 6)"
)

# shared CTE scaffold: signatures → bands → candidate pairs → shingle lists
_MINHASH_PIPE_CTES = f"""sh AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS s FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647 AS h
  FROM sh
), sig AS (
  SELECT doc_id, {_MINHASH_SIG_AGGS} FROM h GROUP BY doc_id
), banded AS (
  {_MINHASH_BANDS}
), pairs AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
), shl AS (
  SELECT doc_id, {_DSHINGLES} AS sh FROM documents
)"""

MINHASH_ORACLE = f"""
WITH {_MINHASH_PIPE_CTES}
SELECT key_a, key_b, {_DJACC} AS jaccard
FROM pairs
JOIN shl a ON pairs.key_a = a.doc_id
JOIN shl b ON pairs.key_b = b.doc_id
WHERE {_DJACC} >= 0.8
"""


@register("dedup_minhash_lsh_pairs")
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(8×8) candidate generation + exact-Jaccard verify at
    ≥0.8 — the PRODUCTION path: the per-shingle base hash is Spark-native
    xxhash64 (pure JVM long arithmetic — no hex/string round-trip — ~2×
    cheaper cold than the md5 prefix, which the driver bench measured at
    14.4 s in round 2). No SQL oracle (xxhash64 is engine-specific); the
    bit-identical-across-engines md5 twin ``dedup_minhash_lsh_pairs_md5``
    carries the full DuckDB oracle, and
    tests/test_operators.py::test_minhash_fast_path_matches_md5_variant
    proves both variants' *verified* pair sets agree — the exact-Jaccard
    verify step is hash-independent, and recall is deterministic for fixed
    data."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_near_dups(
        docs, "text", "doc_id", threshold=0.8, base_hash="xxhash64"
    )


@register("dedup_minhash_lsh_pairs_md5", oracle=MINHASH_ORACLE)
def dedup_minhash_lsh_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-attested twin of ``dedup_minhash_lsh_pairs``: identical
    pipeline with the engine-agnostic md5-prefix base hash, so signatures
    (and therefore the whole LSH pipeline) are exactly reproducible by the
    DuckDB oracle. Deterministic (fixed permutation constants); engine
    tests additionally compare its pair set against exhaustive Jaccard at
    small SF."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_near_dups(docs, "text", "doc_id", threshold=0.8)


# DuckDB twin of operators.dedup.simhash63: identical 63-bit md5-derived
# token hash, 63 conditional bit-sums, bit reassembly, consecutive-id pairs.
_SIMHASH_BIT_SUMS = ", ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(63)
)
_SIMHASH_REASSEMBLE = " + ".join(
    f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for j in range(63)
)
_SIMHASH_SIM_CTES = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_DTOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) * 2147483648
         + (CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) % 2147483648) AS h
  FROM tok
), bits AS (
  SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM h GROUP BY doc_id
), sim AS (
  SELECT doc_id, {_SIMHASH_REASSEMBLE} AS simhash FROM bits
)"""

SIMHASH_ORACLE = f"""{_SIMHASH_SIM_CTES}
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sim a JOIN sim b ON b.doc_id = a.doc_id + 1
WHERE bit_count(xor(a.simhash, b.simhash)) <= 20
"""


@register("dedup_simhash_pairs", oracle=SIMHASH_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-63 hamming distance over consecutive-id candidates. The
    md5-derived token hash is bit-identical across engines, so the full
    explode → bit-sum → reassemble → pair pipeline has an exact oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, "text", "doc_id", max_hamming=20)


# The banded variant — the at-scale candidate generator. Band keys are the
# raw 16-bit chunks of the simhash value (no engine-specific hash), so
# candidate generation AND verification are both exactly mirrored in SQL.
_SIMHASH_BANDED = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, (simhash >> {b * 16}) & 65535 AS chunk FROM sim"
    for b in range(4)
)
SIMHASH_BANDED_ORACLE = f"""{_SIMHASH_SIM_CTES}
, banded AS (
  {_SIMHASH_BANDED}
), pairs AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.chunk = b.chunk
              AND a.doc_id < b.doc_id
)
SELECT key_a, key_b,
       bit_count(xor(sa.simhash, sb.simhash)) AS hamming
FROM pairs
JOIN sim sa ON pairs.key_a = sa.doc_id
JOIN sim sb ON pairs.key_b = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
ORDER BY key_a, key_b
"""


@register("dedup_simhash_banded_pairs", oracle=SIMHASH_BANDED_ORACLE)
def dedup_simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 4×16-bit banded LSH over the whole corpus: docs sharing any
    exact 16-bit simhash chunk are candidates, verified at hamming ≤ 3 — the pigeonhole-guaranteed regime
    (≤ 3 differing bits cannot spoil all 4 bands), so recall vs exhaustive
    hamming≤3 truth is exactly 100% (engine-tested)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_banded_pairs(docs, "text", "doc_id", max_hamming=3, bands=4)


# --------------------------------------------------------------------------
# Connected-components cluster assignment. The edge set is a deterministic
# consecutive-id rule that yields variable-length chains, so the oracle can
# state the expected components with the gaps-and-islands window pattern
# while the Spark side runs the general iterative CC operator — multi-hop
# label propagation is exercised and still SQL-checkable.
# --------------------------------------------------------------------------
CLUSTER_ASSIGN_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars,
         lag(n_chars) OVER (ORDER BY doc_id) AS prev_chars,
         lag(doc_id) OVER (ORDER BY doc_id) AS prev_id
  FROM documents
), b AS (
  SELECT doc_id,
         CASE WHEN prev_id = doc_id - 1 AND (prev_chars + n_chars) % 3 = 0
              THEN 0 ELSE 1 END AS brk
  FROM d
), g AS (
  SELECT doc_id, sum(brk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp
  FROM b
)
SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS cluster_id
FROM g
ORDER BY doc_id
"""


@register("dedup_cluster_assignment", oracle=CLUSTER_ASSIGN_ORACLE)
def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("src"),
        F.col("doc_id").alias("dst"),
        F.col("n_chars").alias("dst_chars"),
    )
    edges = (
        docs.join(nxt, F.col("doc_id") == F.col("src"))
        .filter((F.col("n_chars") + F.col("dst_chars")) % 3 == 0)
        .select("src", "dst")
    )
    cc = connected_components(edges, nodes=docs, node_col="doc_id")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Canonical keep-list per duplicate cluster: CC over exact-duplicate (same
# text) edges + keeper selection. Exact-dup components are cliques, so the
# oracle is a plain GROUP BY text — the Spark side still runs the general
# graph machinery end-to-end.
# --------------------------------------------------------------------------
CLUSTER_CANON_ORACLE = """
SELECT min(doc_id) AS component,
       count(*) AS n_members,
       min(doc_id) AS keep
FROM documents
GROUP BY text
"""


@register("dedup_cluster_canonical", oracle=CLUSTER_CANON_ORACLE)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import cluster_canonical, connected_components

    docs = load_table(spark, sf_dir, "documents")
    by_text = docs.groupBy(F.md5("text").alias("h")).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    # same-text docs -> star edges to the group min (clique-equivalent for CC)
    edges = by_text.filter(F.size("ids") > 1).select(
        F.element_at("ids", 1).alias("src"),
        F.explode(F.slice("ids", 2, F.size("ids"))).alias("dst"),
    )
    cc = connected_components(edges, nodes=docs, node_col="doc_id")
    return cluster_canonical(cc)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (the vector-space member of the dedup
# family; the text-space members are exact/minhash/simhash/ngram above).
# Blocked on `label` (IVF-cell stand-in) so the pair space is Σ|block|²;
# the oracle replays the same label-equal self-join with DuckDB's
# list_cosine_similarity. Threshold 0.35 is calibrated to the synthetic
# embeddings (near-uniform vectors: max within-block cosine ≈ 0.47); real
# corpora would run ≥0.9 — the operator takes it as a parameter.
# --------------------------------------------------------------------------
EMB_COS_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS key_a, b.vec_id AS key_b, a.label AS label,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
ORDER BY key_a, key_b
"""


@register("dedup_embedding_cosine_pairs", oracle=EMB_COS_ORACLE)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks
    (operators/similarity.py:blocked_cosine_pairs — per-block numpy GEMM)."""
    from ..operators.similarity import blocked_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(emb, threshold=0.35).orderBy("key_a", "key_b")


# Recursive-CTE oracle for the full pipeline: the verified doc-level pair
# graph has the same components as Spark's rep-pairs + star-edges graph
# (exact dups share every shingle, so member<->rep and rep<->rep edges are
# all present at jaccard >= 0.8), and DuckDB's WITH RECURSIVE computes the
# transitive closure — bounded here because near-dup clusters are small;
# the engine side still runs the O(log d) pointer-jumping operator that
# scales to arbitrary graphs.
CLUSTER_NEAR_DUPS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PIPE_CTES},
vp AS (
  SELECT key_a, key_b
  FROM pairs
  JOIN shl a ON pairs.key_a = a.doc_id
  JOIN shl b ON pairs.key_b = b.doc_id
  WHERE {_DJACC} >= 0.8
),
und AS (
  SELECT key_a AS a, key_b AS b FROM vp
  UNION ALL
  SELECT key_b AS a, key_a AS b FROM vp
),
reach AS (
  SELECT a AS src, b AS dst FROM und
  UNION
  SELECT r.src, u.b AS dst FROM reach r JOIN und u ON r.dst = u.a
),
comp AS (
  SELECT src AS node, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)
SELECT component, count(*) AS n_members, min(node) AS keep
FROM comp GROUP BY component
HAVING count(*) > 1
ORDER BY component
"""


@register("dedup_cluster_near_dups", oracle=CLUSTER_NEAR_DUPS_ORACLE)
def dedup_cluster_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real near-dup pipeline: exact-collapse -> MinHash-LSH rep pairs
    (>=0.8 verified Jaccard) -> connected components -> non-singleton
    clusters with canonical keeper.

    Scale shape (the 100 TB path): CC consumes representative pairs plus
    rep->member star edges — O(docs) edges total — never the expanded member
    pair list, so a 10⁶-copy boilerplate group contributes 10⁶ star edges,
    not 10¹² pairs. Full oracle since round 2: a DuckDB recursive-CTE
    transitive closure over the verified doc-level pair graph (same
    components as the rep+star graph — see CLUSTER_NEAR_DUPS_ORACLE)."""
    from ..operators.graph import cluster_canonical, connected_components

    docs = load_table(spark, sf_dir, "documents")
    rep_pairs, members, _ = D.minhash_lsh_rep_pairs(
        docs, "text", "doc_id", threshold=0.8
    )
    star = members.filter(F.col("rep") != F.col("member")).select(
        F.col("rep").alias("key_a"), F.col("member").alias("key_b")
    )
    edges = rep_pairs.select("key_a", "key_b").unionByName(star)
    cc = connected_components(edges, src="key_a", dst="key_b")
    return (
        cluster_canonical(cc)
        .filter(F.col("n_members") > 1)
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# Cross-corpus (train-vs-eval) doc-level decontamination: which corpus docs
# (doc_id >= 50) near-duplicate any probe doc (doc_id < 50). Signatures are
# per-doc, so the oracle reuses the same sig CTEs and restricts the band
# join to corpus×probe instead of the self-join.
# --------------------------------------------------------------------------
CROSS_MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS s FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647 AS h
  FROM sh
), sig AS (
  SELECT doc_id, {_MINHASH_SIG_AGGS} FROM h GROUP BY doc_id
), banded AS (
  {_MINHASH_BANDS}
), pairs AS (
  SELECT DISTINCT a.doc_id AS corpus_key, b.doc_id AS probe_key
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id >= 50 AND b.doc_id < 50
), shl AS (
  SELECT doc_id, {_DSHINGLES} AS sh FROM documents
)
SELECT corpus_key, probe_key,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)),
             6) AS jaccard
FROM pairs
JOIN shl a ON pairs.corpus_key = a.doc_id
JOIN shl b ON pairs.probe_key = b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
               - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)),
            6) >= 0.8
ORDER BY corpus_key, probe_key
"""


@register("dedup_cross_corpus_minhash")
def dedup_cross_corpus_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level train-vs-eval decontamination
    (operators/dedup.py:cross_corpus_near_dups): corpus docs (id >= 50)
    whose MinHash bands collide with any probe doc (id < 50), verified at
    exact Jaccard >= 0.8. The probe side broadcasts. PRODUCTION path:
    xxhash64 base hash (the corpus-side signature pass dominates — 5.4 s on
    the round-2 driver bench with md5, ~2× less with xxhash64); the md5
    twin ``dedup_cross_corpus_minhash_md5`` carries the full DuckDB oracle,
    and tests/test_operators.py::test_cross_corpus_fast_path_matches_md5
    proves the verified hit sets agree (the exact-Jaccard verify is
    hash-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.cross_corpus_near_dups(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        "text",
        "doc_id",
        threshold=0.8,
        base_hash="xxhash64",
    )


@register("dedup_cross_corpus_minhash_md5", oracle=CROSS_MINHASH_ORACLE)
def dedup_cross_corpus_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-attested twin of ``dedup_cross_corpus_minhash``: identical
    corpus×probe pipeline with the engine-agnostic md5-prefix base hash so
    the DuckDB oracle reproduces the signatures bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return D.cross_corpus_near_dups(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        "text",
        "doc_id",
        threshold=0.8,
    )


# --------------------------------------------------------------------------
# Incremental dedup vs a signature store: docs >= 400 are the "new batch",
# docs < 400 stand in for the persisted signature store (the query builds
# their signatures in-line; production reads them from parquet — the
# operator only sees (key, signature) either way). Verified with the
# signature-estimated Jaccard (matching components / 64), which is exact
# integer arithmetic and therefore engine-identical.
# --------------------------------------------------------------------------
_EST_JACCARD = (
    "("
    + " + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(64))
    + ") / 64.0"
)
INCR_MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS s FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647 AS h
  FROM sh
), sig AS (
  SELECT doc_id, {_MINHASH_SIG_AGGS} FROM h GROUP BY doc_id
), banded AS (
  {_MINHASH_BANDS}
), pairs AS (
  SELECT DISTINCT n.doc_id AS new_key, o.doc_id AS stored_key
  FROM banded n
  JOIN banded o ON n.band_idx = o.band_idx AND n.band_key = o.band_key
  WHERE n.doc_id >= 400 AND o.doc_id < 400
)
SELECT new_key, stored_key, round({_EST_JACCARD}, 6) AS est_jaccard
FROM pairs
JOIN sig a ON pairs.new_key = a.doc_id
JOIN sig b ON pairs.stored_key = b.doc_id
WHERE {_EST_JACCARD} >= 0.5
ORDER BY new_key, stored_key
"""


@register("dedup_incremental_minhash", oracle=INCR_MINHASH_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-signature-store incremental near-dup detection
    (operators/dedup.py:incremental_minhash_dedup); store side is the
    signatures of docs < 400, new batch is docs >= 400."""
    docs = load_table(spark, sf_dir, "documents")
    # store side feeds both the banding and the estimator join — in
    # production it is a parquet signature table (cheap re-scan), here it
    # is a computed pipeline, so materialize it once (r11 opt, §1.2 #1)
    stored = materialize(
        D.minhash_signature(docs.filter(F.col("doc_id") < 400), "text", "doc_id")
    )
    return D.incremental_minhash_dedup(
        docs.filter(F.col("doc_id") >= 400), stored, "text", "doc_id", threshold=0.5
    )


# --------------------------------------------------------------------------
# Keeper policy generalization: keep the LONGEST member per near-dup
# cluster (RefinedWeb-style "best representative", replacing the min-key
# rule of dedup_cluster_canonical — with fuzzy duplicates the members
# differ, so which one survives matters). Same CC clusters as
# dedup_cluster_assignment; keeper = row_number over (n_chars desc,
# doc_id asc) — deterministic under ties in both engines.
# --------------------------------------------------------------------------
CLUSTER_KEEP_LONGEST_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars,
         lag(n_chars) OVER (ORDER BY doc_id) AS prev_chars,
         lag(doc_id) OVER (ORDER BY doc_id) AS prev_id
  FROM documents
), b AS (
  SELECT doc_id, n_chars,
         CASE WHEN prev_id = doc_id - 1 AND (prev_chars + n_chars) % 3 = 0
              THEN 0 ELSE 1 END AS brk
  FROM d
), g AS (
  SELECT doc_id, n_chars,
         sum(brk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp
  FROM b
), c AS (
  SELECT doc_id, n_chars,
         min(doc_id) OVER (PARTITION BY grp) AS cluster_id,
         row_number() OVER (PARTITION BY grp
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM g
)
SELECT cluster_id, doc_id AS keep_doc_id, n_chars AS keep_n_chars
FROM c WHERE rn = 1
ORDER BY cluster_id
"""


@register("dedup_cluster_keep_longest", oracle=CLUSTER_KEEP_LONGEST_ORACLE)
def dedup_cluster_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("src"),
        F.col("doc_id").alias("dst"),
        F.col("n_chars").alias("dst_chars"),
    )
    edges = (
        docs.join(nxt, F.col("doc_id") == F.col("src"))
        .filter((F.col("n_chars") + F.col("dst_chars")) % 3 == 0)
        .select("src", "dst")
    )
    cc = connected_components(edges, nodes=docs, node_col="doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        cc.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_n_chars"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Cross-source corpus-overlap matrix: Jaccard similarity between every
# source pair over their distinct 3-gram shingle sets — the corpus-level
# "which feeds share content" audit that precedes per-document
# decontamination. Shape at scale: one map-side-combinable
# (source, shingle) distinct, then a shingle-keyed self-join whose output
# is bounded by #sources² per shingle (sources are a small dimension), and
# two broadcast joins for the set sizes. Never touches doc pairs.
# --------------------------------------------------------------------------
SOURCE_OVERLAP_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT source, sh FROM (
    SELECT source, unnest({DSHINGLES}) AS sh FROM documents
  )
), sizes AS (
  SELECT source, count(*) AS n FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


@register("dedup_source_overlap_matrix", oracle=SOURCE_OVERLAP_ORACLE)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    # Codegen shingle build (BENCH §4 lesson: the array-building `shingles`
    # HOF is interpreted per element — 7+ s alone at sf0.1): posexplode
    # tokens → two window leads → concat_ws, end-to-end whole-stage
    # codegen, identical trigram strings. Materialized once for the three
    # consuming branches (sizes + pair expansion).
    from pyspark.sql import Window as W

    tok = docs.select(
        "source", "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    sh = (
        tok.select(
            "source",
            F.concat_ws(
                " ", "t", F.lead("t", 1).over(wd), F.lead("t", 2).over(wd)
            ).alias("sh"),
            F.lead("t", 2).over(wd).alias("_t2"),
        )
        .where(F.col("_t2").isNotNull())
        .drop("_t2")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    # per-shingle source-set pair expansion (the LSH bucket trick) instead
    # of a shingle-keyed self-join: one groupBy(sh) collects the ≤|sources|
    # set, pairs expand in-expression (≤ C(20,2) per shingle), and a second
    # groupBy counts — the wide string join key never shuffles twice
    by_sh = sh.groupBy("sh").agg(F.array_sort(F.collect_set("source")).alias("ss"))
    pair_arrays = F.transform(
        F.col("ss"),
        lambda x, i: F.transform(
            F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
            lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
        ),
    )
    inter = (
        by_sh.filter(F.size("ss") > 1)
        .select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


BAND_COST_ORACLE = f"""
WITH {_MINHASH_PIPE_CTES},
sizes AS (
  SELECT band_idx, band_key, count(*) AS sz FROM banded GROUP BY 1, 2
)
SELECT band_idx, count(*) AS n_buckets,
       CAST(sum(sz) AS BIGINT) AS n_keys,
       max(sz) AS max_bucket,
       CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
FROM sizes GROUP BY band_idx ORDER BY band_idx
"""


@register("dedup_lsh_band_cost_audit", oracle=BAND_COST_ORACLE)
def dedup_lsh_band_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket histogram + exact candidate-pair bill — the
    pre-flight sizing audit for the MinHash dedup family (see
    operators/dedup.py:lsh_band_cost_profile). md5 base hash so the whole
    signature → band → bucket-size pipeline is oracle-reproducible; bucket
    membership itself is hash-independent."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "text", "doc_id")
    return D.lsh_band_cost_profile(sig, "doc_id")


_DCONT_A = (
    "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / CAST(len(a.sh) AS DOUBLE), 6)"
)
_DCONT_B = (
    "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / CAST(len(b.sh) AS DOUBLE), 6)"
)

CONTAINMENT_ORACLE = f"""
WITH {_MINHASH_PIPE_CTES}
SELECT key_a, key_b, {_DCONT_A} AS c_a_in_b, {_DCONT_B} AS c_b_in_a
FROM pairs
JOIN shl a ON pairs.key_a = a.doc_id
JOIN shl b ON pairs.key_b = b.doc_id
WHERE {_DCONT_A} >= 0.9 OR {_DCONT_B} >= 0.9
"""


@register("dedup_containment_pairs", oracle=CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (|A∩B|/|A|) over MinHash-LSH candidates at
    ≥0.9 either direction — catches subset duplication (quotes,
    boilerplate-wrapped copies) that the symmetric Jaccard gate misses.
    md5 base hash so candidate generation is oracle-reproducible; the
    containment verify itself is hash-independent. Collapse-first like the
    whole MinHash family — signature/bucket cost tracks DISTINCT texts,
    while the oracle keeps the raw doc-level formulation
    (operators/dedup.py:containment_near_dups)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_near_dups(docs, "text", "doc_id", threshold=0.9)


# --------------------------------------------------------------------------
# MinHash estimator-error audit: on every banded candidate pair, compare
# the signature-estimated Jaccard (fraction of equal components — what the
# incremental/streaming dedup path trusts when stored text is gone) against
# the exact shingle Jaccard, and roll up the error profile per true-Jaccard
# decile. This is the evaluation that justifies the signature-store design:
# if estimator error were biased or wide near the 0.5 threshold, the
# incremental path's decisions would drift from the batch path's. Pair
# space = banded candidates (near-dup-density-sized), never corpus².
# --------------------------------------------------------------------------
_SIG_EQ_FRAC = "CAST(" + " + ".join(
    f"CASE WHEN sa.m{p} = sb.m{p} THEN 1 ELSE 0 END" for p in range(64)
) + " AS DOUBLE) / 64.0"

_LJACC = (
    "round(CAST(len(list_intersect(la.sh, lb.sh)) AS DOUBLE)"
    " / (CAST(len(la.sh) AS DOUBLE) + CAST(len(lb.sh) AS DOUBLE)"
    " - CAST(len(list_intersect(la.sh, lb.sh)) AS DOUBLE)), 6)"
)

ESTIMATOR_ERROR_ORACLE = f"""
WITH {_MINHASH_PIPE_CTES},
scored AS (
  SELECT round({_SIG_EQ_FRAC}, 6) AS est_j, {_LJACC} AS true_j
  FROM pairs
  JOIN sig sa ON pairs.key_a = sa.doc_id
  JOIN sig sb ON pairs.key_b = sb.doc_id
  JOIN shl la ON pairs.key_a = la.doc_id
  JOIN shl lb ON pairs.key_b = lb.doc_id
)
SELECT CAST(floor(true_j * 10) AS BIGINT) AS true_j_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(est_j - true_j)), 6) AS mean_abs_err,
       round(max(abs(est_j - true_j)), 6) AS max_abs_err
FROM scored
GROUP BY true_j_decile
ORDER BY true_j_decile
"""


@register("dedup_estimator_error_profile", oracle=ESTIMATOR_ERROR_ORACLE)
def dedup_estimator_error_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "text", "doc_id")
    sig = materialize(sig)  # candidates + both estimator sides
    cands = D.lsh_candidate_pairs(sig, "doc_id")
    sa = sig.select(F.col("doc_id").alias("key_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("key_b"), F.col("signature").alias("sig_b"))
    eq_frac = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(64.0)
    est = (
        cands.join(sa, "key_a")
        .join(sb, "key_b")
        .select("key_a", "key_b", F.round(eq_frac, 6).alias("est_j"))
    )
    true_j = D.jaccard_pairs(docs, cands, "text", "doc_id").withColumnRenamed(
        "jaccard", "true_j"
    )
    scored = est.join(true_j, ["key_a", "key_b"])
    err = F.abs(F.col("est_j") - F.col("true_j"))
    return (
        scored.groupBy(
            F.floor(F.col("true_j") * 10).cast("long").alias("true_j_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(err), 6).alias("mean_abs_err"),
            F.round(F.max(err), 6).alias("max_abs_err"),
        )
        .orderBy("true_j_decile")
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood dedup (round 4): the OTHER classic entity-resolution
# blocking paradigm next to LSH — sort every doc by a fingerprint key
# (first 3 tokens joined), then compare each doc only to its w−1 sorted
# neighbors via window leads. Pair space is exactly (w−1)·n regardless of
# data distribution (LSH's is data-dependent), the trade being recall on
# dissimilar-prefix duplicates. Expressed as the distributed global
# ordering (range partition via repartitionByRange + window within
# partitions would split windows at partition edges): the ranked stream
# from operators/ranking.global_row_number gives every doc its global
# position, and neighbour pairs come from an EQUI-JOIN on pos+j = pos —
# a distributed shuffle join on the rank, never an unpartitioned window.
# Verified at exact Jaccard ≥ 0.5.
# --------------------------------------------------------------------------
_SNM_W = 4  # compare each doc to the next 3 in fingerprint order

SNM_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, text,
         array_to_string(TOKS[1:3], ' ') AS fkey
  FROM (SELECT doc_id, text, {{DTOKS}} AS TOKS FROM documents)
), ordered AS (
  SELECT doc_id, text, fkey,
         row_number() OVER (ORDER BY fkey, doc_id) AS pos
  FROM fp
), pairs AS (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b, a.text AS ta, b.text AS tb
  FROM ordered a JOIN ordered b
    ON b.pos > a.pos AND b.pos <= a.pos + {_SNM_W - 1}
), j AS (
  SELECT key_a, key_b,
         round(
           CAST(len(list_intersect(SHA, SHB)) AS DOUBLE)
           / (len(SHA) + len(SHB) - len(list_intersect(SHA, SHB))), 6) AS jaccard
  FROM (
    SELECT key_a, key_b,
           list_distinct(CASE WHEN len(TA2) >= 3 THEN
             list_transform(range(1, len(TA2) - 1),
                            i -> TA2[i] || ' ' || TA2[i + 1] || ' ' || TA2[i + 2])
             ELSE [] END) AS SHA,
           list_distinct(CASE WHEN len(TB2) >= 3 THEN
             list_transform(range(1, len(TB2) - 1),
                            i -> TB2[i] || ' ' || TB2[i + 1] || ' ' || TB2[i + 2])
             ELSE [] END) AS SHB
    FROM (SELECT key_a, key_b,
                 string_split_regex(lower(trim(ta)), '\\s+') AS TA2,
                 string_split_regex(lower(trim(tb)), '\\s+') AS TB2
          FROM pairs)
  )
  WHERE len(SHA) > 0 AND len(SHB) > 0
)
SELECT key_a, key_b, jaccard FROM j
WHERE jaccard >= 0.5
ORDER BY key_a, key_b
""".replace("{DTOKS}", "string_split_regex(lower(trim(text)), '\\s+')")


@register("dedup_sorted_neighborhood", oracle=SNM_ORACLE)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens
    from ..operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "text",
        F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 3)).alias("fkey"),
    )
    ordered = global_row_number(fp, [F.col("fkey"), F.col("doc_id")], out_col="pos")
    # neighbour pairs by RANK ARITHMETIC, not a global-ordering window
    # (lead() over an unpartitioned window is the single-reducer
    # anti-pattern): explode the w−1 offsets and equi-join pos+j = pos —
    # a distributed shuffle join keyed on the global rank
    a = ordered.select(
        F.col("doc_id").alias("key_a"), F.col("text").alias("ta"), "pos"
    ).withColumn(
        "j", F.explode(F.array(*[F.lit(j) for j in range(1, _SNM_W)]))
    ).select("key_a", "ta", (F.col("pos") + F.col("j")).alias("bpos"))
    b = ordered.select(
        F.col("doc_id").alias("key_b"), F.col("pos").alias("bpos")
    )
    pairs = a.join(b, "bpos").select("key_a", "key_b")
    # per-doc distinct shingle sets ONCE via the codegen lead stream
    # (building shingle arrays per PAIR row re-ran the interpreted HOF
    # 2×(w−1)×n times — measured 31 s at sf0.1; this form is ~1 s)
    wd = W.partitionBy("doc_id").orderBy("_pos")
    l1, l2 = F.lead("_t", 1).over(wd), F.lead("_t", 2).over(wd)
    sh_sets = (
        docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("_pos", "_t"))
        .select(
            "doc_id",
            F.concat_ws(" ", "_t", l1, l2).alias("sh"),
            l2.alias("_g"),
        )
        .where(F.col("_g").isNotNull())
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shset"))
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    union = F.size("sha") + F.size("shb") - inter
    return (
        pairs.join(
            sh_sets.select(F.col("doc_id").alias("key_a"), F.col("shset").alias("sha")),
            "key_a",
        )
        .join(
            sh_sets.select(F.col("doc_id").alias("key_b"), F.col("shset").alias("shb")),
            "key_b",
        )
        .select("key_a", "key_b", F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# b-bit MinHash (round 4, Li & König 2010): store only the LOWEST BIT of
# each of the 64 minhash components — 64 bits per doc instead of 64
# longs (the space-optimal signature for massive-corpus dedup) — and
# estimate Jaccard from the bit-agreement fraction A via the b=1 unbiased
# inversion J ≈ 2A − 1. Audited over the consecutive-id pair panel
# against exact shingle Jaccard, like the full-width estimator audit
# (dedup_estimator_error_profile); the md5 base hash keeps every bit
# engine-reproducible.
# --------------------------------------------------------------------------
BBIT_ORACLE = f"""
WITH {_MINHASH_PIPE_CTES},
cand AS (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b
  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
), bits AS (
  SELECT cand.key_a, cand.key_b,
         {" + ".join(f"CASE WHEN sa.m{p} % 2 = sb.m{p} % 2 THEN 1 ELSE 0 END" for p in range(64))}
           AS n_agree
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.key_a
  JOIN sig sb ON sb.doc_id = cand.key_b
), est AS (
  SELECT key_a, key_b,
         round(2.0 * (n_agree / 64.0) - 1.0, 6) AS est_jaccard
  FROM bits
), exact AS (
  SELECT a.doc_id AS key_a,
         round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0
                    THEN 0.0
                    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               END, 6) AS exact_jaccard
  FROM shl a JOIN shl b ON b.doc_id = a.doc_id + 1
)
SELECT est.key_a, est.key_b, est.est_jaccard, exact.exact_jaccard,
       round(abs(est.est_jaccard - exact.exact_jaccard), 6) AS abs_error
FROM est JOIN exact ON exact.key_a = est.key_a
ORDER BY est.key_a
"""


@register("dedup_bbit_minhash_estimate", oracle=BBIT_ORACLE)
def dedup_bbit_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = materialize(D.minhash_signature(docs, "text", "doc_id"))
    a = sig.select(F.col("doc_id").alias("key_a"), F.col("signature").alias("sa"))
    b = sig.select(
        (F.col("doc_id") - 1).alias("key_a"),
        F.col("doc_id").alias("key_b"),
        F.col("signature").alias("sb"),
    )
    n_agree = F.aggregate(
        F.zip_with(
            "sa", "sb", lambda x, y: F.when(x % 2 == y % 2, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = a.join(b, "key_a").select(
        "key_a",
        "key_b",
        F.round(2.0 * (n_agree / 64.0) - 1.0, 6).alias("est_jaccard"),
    )
    pairs = est.select("key_a", "key_b")
    exact = D.jaccard_pairs(docs, pairs, "text", "doc_id").select(
        "key_a", F.col("jaccard").alias("exact_jaccard")
    )
    return (
        est.join(exact, "key_a")
        .select(
            "key_a",
            "key_b",
            "est_jaccard",
            "exact_jaccard",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias(
                "abs_error"
            ),
        )
        .orderBy("key_a")
    )


# --------------------------------------------------------------------------
# Dedup survivorship-bias audit (round 4): does keep-one-per-text dedup
# SHIFT the corpus composition? Compare each language's share among the
# kept docs vs the original corpus — boilerplate concentrated in one
# language quietly re-weights the training mix when removed, and this is
# the governance row that catches it. Two grouped counts + one broadcast
# share join; pairs with the importance-reweight row (which fixes what
# this detects).
# --------------------------------------------------------------------------
SURVIVORSHIP_ORACLE = """
WITH keep AS (
  SELECT lang FROM documents
  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
), cur AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
), kp AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS k FROM keep GROUP BY lang
), tot AS (
  SELECT (SELECT sum(n) FROM cur) AS tn, (SELECT sum(k) FROM kp) AS tk
)
SELECT cur.lang,
       CAST(cur.n AS BIGINT) AS n_docs,
       CAST(coalesce(kp.k, 0) AS BIGINT) AS n_kept,
       round(cur.n / tot.tn, 6) AS share_before,
       round(coalesce(kp.k, 0) / tot.tk, 6) AS share_after,
       round(coalesce(kp.k, 0) / tot.tk - cur.n / tot.tn, 6) AS share_shift
FROM cur LEFT JOIN kp ON kp.lang = cur.lang CROSS JOIN tot
ORDER BY cur.lang
"""


@register("dedup_survivorship_bias_audit", oracle=SURVIVORSHIP_ORACLE)
def dedup_survivorship_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep_keys = D.exact_dedup(docs, "text", "doc_id").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kp = (
        docs.join(keep_keys, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("k"))
    )
    cur = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    kp = materialize(kp)
    tot = cur.agg(F.sum("n").alias("tn")).crossJoin(kp.agg(F.sum("k").alias("tk")))
    return (
        cur.join(kp, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.coalesce("k", F.lit(0.0)).cast("long").alias("n_kept"),
            F.round(F.col("n") / F.col("tn"), 6).alias("share_before"),
            F.round(F.coalesce("k", F.lit(0.0)) / F.col("tk"), 6).alias(
                "share_after"
            ),
            F.round(
                F.coalesce("k", F.lit(0.0)) / F.col("tk") - F.col("n") / F.col("tn"),
                6,
            ).alias("share_shift"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Prefix-filtering exact set-similarity self-join (round 4): the classic
# AllPairs/PPJoin candidate scheme — order each doc's DISTINCT shingles by
# global document frequency (rarest first), index only the first
# m − ⌈t·m⌉ + 1 of them, and two docs can reach shingle-Jaccard ≥ t ONLY
# if their prefixes share an element (plus the free length prune
# ⌈t·m_a⌉ ≤ m_b). Unlike the MinHash-LSH family this is LOSSLESS: the
# output is exactly every rep pair with Jaccard ≥ t (an engine test pins
# it to the naive all-pairs result). Elements are 3-token shingles, not
# raw tokens — the prefix principle is element-agnostic but its cost is
# not: raw-token posting lists are df-bounded and even rare words appear
# in hundreds of docs (measured 178 s at sf0.1), while shingle df ≈ 1
# except for genuinely shared passages (2.9 s, same lossless guarantee).
# Exact-collapse first (house rule): identical texts share one
# representative. Beyond-reference [NS] (SURVEY.md §2.B dedup family).
# --------------------------------------------------------------------------
_PF_T = 0.9

PREFIX_FILTER_ORACLE = f"""
WITH base AS (
  SELECT min(doc_id) AS k, text FROM documents GROUP BY text
), gram AS (
  SELECT k, unnest({_DSHINGLES}) AS g FROM base
), m AS (
  SELECT k, CAST(count(*) AS BIGINT) AS m FROM gram GROUP BY k
), freq AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c FROM gram GROUP BY g
), rk AS (
  SELECT gram.k, gram.g, m.m,
         row_number() OVER (PARTITION BY gram.k
                            ORDER BY freq.c, gram.g) AS rn
  FROM gram JOIN freq ON freq.g = gram.g JOIN m ON m.k = gram.k
), pre AS (
  SELECT k, g, m FROM rk
  WHERE rn <= m - CAST(ceil({_PF_T} * m) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b, a.m AS m_a, b.m AS m_b
  FROM pre a JOIN pre b ON a.g = b.g AND a.k < b.k
  WHERE CAST(ceil({_PF_T} * a.m) AS BIGINT) <= b.m
    AND CAST(ceil({_PF_T} * b.m) AS BIGINT) <= a.m
), inter AS (
  SELECT c.key_a, c.key_b, c.m_a, c.m_b, CAST(count(*) AS BIGINT) AS i
  FROM cand c
  JOIN gram a ON a.k = c.key_a
  JOIN gram b ON b.k = c.key_b AND b.g = a.g
  GROUP BY c.key_a, c.key_b, c.m_a, c.m_b
)
SELECT key_a, key_b,
       round(CAST(i AS DOUBLE)
             / (CAST(m_a AS DOUBLE) + CAST(m_b AS DOUBLE)
                - CAST(i AS DOUBLE)), 6) AS jaccard
FROM inter
WHERE round(CAST(i AS DOUBLE)
            / (CAST(m_a AS DOUBLE) + CAST(m_b AS DOUBLE)
               - CAST(i AS DOUBLE)), 6) >= {_PF_T}
ORDER BY key_a, key_b
"""


@register("dedup_prefix_filter_pairs", oracle=PREFIX_FILTER_ORACLE)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", threshold=_PF_T
    ).orderBy("key_a", "key_b")


# --------------------------------------------------------------------------
# Winnowing partial-overlap detection (round 4): the MOSS fingerprinting
# scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03). Unlike MinHash (document-
# level global sampling) winnowing is a LOCAL scheme — any shared token run
# of length >= w + k - 1 is guaranteed to produce a shared fingerprint — so
# it surfaces *partial* overlap: a paragraph lifted between otherwise-
# different documents, exactly the contamination mode document-level
# near-dup misses. Per-gram hash is the md5-prefix integer, rightmost-min
# tie-break is encoded as min(h*2^21 + (CAP-1-pos)), so the fingerprint
# sets — and therefore the pair list — have an exact DuckDB oracle.
# Boilerplate guard: fingerprints held by > 50 reps are dropped before the
# posting-list self-join (MOSS's own rule), bounding the pair space.
# Beyond-reference [NS] (SURVEY.md §2.B dedup family).
# --------------------------------------------------------------------------
_WN_K, _WN_W, _WN_MIN, _WN_CAP = 5, 4, 2, 50

WINNOW_ORACLE = f"""
WITH base AS (
  SELECT min(doc_id) AS k, text FROM documents GROUP BY text
), tok AS (
  SELECT k, unnest({_DTOKS}) AS t, generate_subscripts({_DTOKS}, 1) AS pos
  FROM base
), gram AS (
  SELECT k, pos,
         concat_ws(' ', t, lead(t,1) OVER w, lead(t,2) OVER w,
                        lead(t,3) OVER w, lead(t,4) OVER w) AS g,
         lead(t, {_WN_K - 1}) OVER w AS guard
  FROM tok WINDOW w AS (PARTITION BY k ORDER BY pos)
), h AS (
  SELECT k, pos,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 2147483647 AS h
  FROM gram WHERE guard IS NOT NULL
), winnow AS (
  SELECT k,
         min(h * 2097152 + (2097151 - pos))
           OVER (PARTITION BY k ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS selkey,
         lead(pos, {_WN_W - 1}) OVER (PARTITION BY k ORDER BY pos) AS full_w
  FROM h
), fp AS (
  SELECT DISTINCT k, selkey // 2097152 AS fp FROM winnow WHERE full_w IS NOT NULL
), kept AS (
  SELECT fp FROM (SELECT fp, count(*) AS n FROM fp GROUP BY fp)
  WHERE n <= {_WN_CAP}
), post AS (
  SELECT fp.k, fp.fp FROM fp JOIN kept USING (fp)
), sizes AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_fp FROM post GROUP BY k
), shared AS (
  SELECT a.k AS key_a, b.k AS key_b, CAST(count(*) AS BIGINT) AS shared_fp
  FROM post a JOIN post b ON a.fp = b.fp AND a.k < b.k
  GROUP BY a.k, b.k
  HAVING count(*) >= {_WN_MIN}
)
SELECT key_a, key_b, shared_fp, sa.n_fp AS n_a, sb.n_fp AS n_b,
       round(CAST(shared_fp AS DOUBLE)
             / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 6) AS overlap
FROM shared
JOIN sizes sa ON sa.k = shared.key_a
JOIN sizes sb ON sb.k = shared.key_b
ORDER BY key_a, key_b
"""


@register("dedup_winnowing_overlap", oracle=WINNOW_ORACLE)
def dedup_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.winnowing_overlap_pairs(
        docs, "text", "doc_id",
        k=_WN_K, w=_WN_W, min_shared=_WN_MIN, max_postings=_WN_CAP,
    ).orderBy("key_a", "key_b")


# --------------------------------------------------------------------------
# Document-stitching artifact pairs (round 4): doc A's TAIL 8-gram equals
# doc B's HEAD 8-gram — the signature of concatenation/splitting bugs in a
# crawl pipeline (one logical document sliced into shards, or two glued at
# extraction). Document-level near-dup never sees these (the overlap is 8
# tokens out of hundreds); the boundary join finds them in one pass:
# per-doc head/tail chunks → frequency cap (boilerplate intros/outros
# shared by > 50 docs carry no stitching signal and would explode the
# join) → equi-join tail→head. O(docs) rows, one key-hash shuffle.
# Beyond-reference [NS] (SURVEY.md §2.B dedup family).
# --------------------------------------------------------------------------
_ST_K, _ST_CAP = 8, 50

STITCH_ORACLE = f"""
WITH base AS (
  SELECT min(doc_id) AS k, text FROM documents GROUP BY text
), toks AS (
  SELECT k, {_DTOKS} AS t FROM base
), bounds AS (
  SELECT k,
         array_to_string(list_slice(t, 1, {_ST_K}), ' ') AS head,
         array_to_string(list_slice(t, len(t) - {_ST_K - 1}, len(t)), ' ') AS tail
  FROM toks WHERE len(t) >= {_ST_K}
), heads AS (
  SELECT k, head AS chunk FROM bounds
  QUALIFY count(*) OVER (PARTITION BY head) <= {_ST_CAP}
), tails AS (
  SELECT k, tail AS chunk FROM bounds
  QUALIFY count(*) OVER (PARTITION BY tail) <= {_ST_CAP}
)
SELECT tails.k AS key_a, heads.k AS key_b, tails.chunk AS boundary_chunk
FROM tails JOIN heads ON tails.chunk = heads.chunk AND tails.k <> heads.k
ORDER BY key_a, key_b
"""


@register("dedup_stitch_artifact_pairs", oracle=STITCH_ORACLE)
def dedup_stitch_artifact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens as _tokens
    from ..operators.dedup import collapse_exact

    docs = load_table(spark, sf_dir, "documents")
    reps, _ = collapse_exact(docs, "text", "doc_id")
    toks = reps.select(
        F.col("doc_id").alias("k"), _tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= _ST_K)
    bounds = toks.select(
        "k",
        F.concat_ws(" ", F.slice("t", 1, _ST_K)).alias("head"),
        F.concat_ws(" ", F.slice("t", -_ST_K, _ST_K)).alias("tail"),
    )
    bounds = materialize(bounds)  # head + tail branches
    hw = W.partitionBy("head")
    tw = W.partitionBy("tail")
    heads = (
        bounds.withColumn("_n", F.count(F.lit(1)).over(hw))
        .where(F.col("_n") <= _ST_CAP)
        .select(F.col("k").alias("key_b"), F.col("head").alias("chunk"))
    )
    tails = (
        bounds.withColumn("_n", F.count(F.lit(1)).over(tw))
        .where(F.col("_n") <= _ST_CAP)
        .select(F.col("k").alias("key_a"), F.col("tail").alias("chunk"))
    )
    return (
        tails.join(heads, "chunk")
        .where(F.col("key_a") != F.col("key_b"))
        .select("key_a", "key_b", F.col("chunk").alias("boundary_chunk"))
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# Winnowing match spans (round 4): MOSS's reporting half — per
# overlapping pair, WHERE the shared region sits in each document
# (token-position extents of the shared fingerprints). Same selection,
# caps and pair join as dedup_winnowing_overlap; the position rides the
# rightmost-min encoding and is decoded, not recomputed. Position decode
# differs by the engines' 0/1-based token indexing, so the oracle
# subtracts 1 from its 1-based positions to match Spark's 0-based axis.
# --------------------------------------------------------------------------
WINNOW_SPANS_ORACLE = f"""
WITH base AS (
  SELECT min(doc_id) AS k, text FROM documents GROUP BY text
), tok AS (
  SELECT k, unnest({_DTOKS}) AS t, generate_subscripts({_DTOKS}, 1) - 1 AS pos
  FROM base
), gram AS (
  SELECT k, pos,
         concat_ws(' ', t, lead(t,1) OVER w, lead(t,2) OVER w,
                        lead(t,3) OVER w, lead(t,4) OVER w) AS g,
         lead(t, {_WN_K - 1}) OVER w AS guard
  FROM tok WINDOW w AS (PARTITION BY k ORDER BY pos)
), h AS (
  SELECT k, pos,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 2147483647 AS h
  FROM gram WHERE guard IS NOT NULL
), winnow AS (
  SELECT k,
         min(h * 2097152 + (2097151 - pos))
           OVER (PARTITION BY k ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS selkey,
         lead(pos, {_WN_W - 1}) OVER (PARTITION BY k ORDER BY pos) AS full_w
  FROM h
), sel AS (
  SELECT DISTINCT k, selkey // 2097152 AS fp,
         2097151 - (selkey % 2097152) AS pos
  FROM winnow WHERE full_w IS NOT NULL
), kept AS (
  SELECT fp FROM (
    SELECT fp, count(*) AS n FROM (SELECT DISTINCT k, fp FROM sel) GROUP BY fp
  ) WHERE n <= {_WN_CAP}
), post AS (
  SELECT sel.k, sel.fp, sel.pos FROM sel JOIN kept USING (fp)
)
SELECT a.k AS key_a, b.k AS key_b,
       CAST(count(DISTINCT a.fp) AS BIGINT) AS shared_fp,
       CAST(min(a.pos) AS BIGINT) AS a_span_lo,
       CAST(max(a.pos) AS BIGINT) AS a_span_hi,
       CAST(min(b.pos) AS BIGINT) AS b_span_lo,
       CAST(max(b.pos) AS BIGINT) AS b_span_hi
FROM post a JOIN post b ON a.fp = b.fp AND a.k < b.k
GROUP BY a.k, b.k
HAVING count(DISTINCT a.fp) >= {_WN_MIN}
ORDER BY key_a, key_b
"""


@register("dedup_winnowing_match_spans", oracle=WINNOW_SPANS_ORACLE)
def dedup_winnowing_match_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.winnowing_match_spans(
        docs, "text", "doc_id",
        k=_WN_K, w=_WN_W, min_shared=_WN_MIN, max_postings=_WN_CAP,
    ).orderBy("key_a", "key_b")


# --------------------------------------------------------------------------
# Blocking-quality audit: reduction ratio + pair completeness — the two
# numbers record-linkage methodology (Christen 2012) demands before any
# blocking scheme ships. Truth set = a HIGHER-RECALL reference blocking
# over the same 64 minhash components (16 bands × 4 rows: collision prob
# at J=0.8 is 1−(1−0.8⁴)¹⁶ ≈ 0.9998 vs production 8×8's ≈ 0.77), exact-
# Jaccard-verified at ≥ 0.8 — "recall relative to a more expensive
# method", the standard trick when labeled pairs don't exist. Everything
# stays O(candidates): reduction ratio needs only counts (the C(n,2)
# denominator is arithmetic, never materialized), so the audit scales the
# same way the blocking it audits does. Companion of the band-cost
# pre-flight (dedup_lsh_band_cost_audit): that query bills the candidate
# volume, this one prices what the bill buys in recall.
# --------------------------------------------------------------------------
_BANDS16 = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, concat_ws(',', {cols}) AS band_key FROM sig".format(
        b=b, cols=", ".join(f"m{b * 4 + r}" for r in range(4))
    )
    for b in range(16)
)

BLOCKING_QUALITY_ORACLE = f"""
WITH {_MINHASH_PIPE_CTES}, banded16 AS (
  {_BANDS16}
), cand16 AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM banded16 a
  JOIN banded16 b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
), truth AS (
  SELECT key_a, key_b
  FROM cand16
  JOIN shl a ON cand16.key_a = a.doc_id
  JOIN shl b ON cand16.key_b = b.doc_id
  WHERE {_DJACC} >= 0.8
), m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_cand,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT)
          FROM pairs JOIN truth ON pairs.key_a = truth.key_a
                               AND pairs.key_b = truth.key_b) AS n_cand_true
)
SELECT n_docs, n_cand, n_truth, n_cand_true,
       round(1.0 - n_cand / (n_docs * (n_docs - 1) / 2.0), 6)
         AS reduction_ratio,
       round(CAST(n_cand_true AS DOUBLE) / n_truth, 6) AS pair_completeness
FROM m
"""


@register("dedup_blocking_quality_audit", oracle=BLOCKING_QUALITY_ORACLE)
def dedup_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "text", "doc_id")
    sig = materialize(sig)  # two banding passes share it
    cand8 = D.lsh_candidate_pairs(sig, "doc_id", bands=8, rows_per_band=8)
    cand16 = D.lsh_candidate_pairs(sig, "doc_id", bands=16, rows_per_band=4)
    truth = (
        D.jaccard_pairs(docs, cand16, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.8)
        .select("key_a", "key_b")
    )
    truth = materialize(truth)  # counted + joined
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nc = cand8.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    npt = (
        cand8.join(truth, ["key_a", "key_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_cand_true"))
    )
    return (
        nd.crossJoin(nc)
        .crossJoin(nt)
        .crossJoin(npt)
        .select(
            "n_docs",
            "n_cand",
            "n_truth",
            "n_cand_true",
            F.round(
                1.0 - F.col("n_cand") / (F.col("n_docs") * (F.col("n_docs") - 1) / 2.0),
                6,
            ).alias("reduction_ratio"),
            F.round(
                F.col("n_cand_true").cast("double") / F.col("n_truth"), 6
            ).alias("pair_completeness"),
        )
    )


# --------------------------------------------------------------------------
# Count-grain audit twins for the heavy pair families (round 8, VERDICT r7
# #2 — the joins-family trick, queries/joins.py:join_theta_balance_band_counts):
# the SAME md5-oracled pipelines collapsed to a bounded grain — pair count,
# a modular (key_a, key_b) checksum binding every pair identity into the
# value hash, and EXACT decimal sums of the verify measures — so the 100×
# stress tier (BENCH §13e) can run the full row-count + dtype + VALUE
# differential on the flagship dedup operators without the checker ever
# holding pair-grain rows driver-side. Output stays ≤ ~a dozen rows (or 50
# fixed probe rows) at ANY scale while every pair the full query would
# emit still contributes to count, checksum, and sum.
#
# The checksum arithmetic is pure BIGINT on both engines: keys reach ~1e9
# at the sf10x rung, key_a*1000003 + key_b ≈ 1e15 < 2^63, and the summed
# residues (< 1e9 each) stay far under overflow for any realistic pair
# count. Measure sums go through DECIMAL so floating summation order can
# never flip the hash.
# --------------------------------------------------------------------------
_PAIR_CHECKSUM_SQL = "CAST(sum((key_a * 1000003 + key_b) % 1000000007) AS BIGINT)"


def _pair_checksum(a: str = "key_a", b: str = "key_b"):
    return (
        F.sum((F.col(a) * F.lit(1000003) + F.col(b)) % F.lit(1000000007))
        .cast("long")
        .alias("pair_checksum")
    )


MINHASH_COUNTS_ORACLE = f"""
SELECT CAST(floor(jaccard * 10) AS BIGINT) AS j_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {_PAIR_CHECKSUM_SQL} AS pair_checksum,
       CAST(sum(CAST(jaccard AS DECIMAL(10,6))) AS DOUBLE) AS sum_jaccard
FROM ({MINHASH_ORACLE})
GROUP BY j_decile
ORDER BY j_decile
"""


@register("dedup_minhash_lsh_pairs_counts", oracle=MINHASH_COUNTS_ORACLE)
def dedup_minhash_lsh_pairs_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-grain twin of ``dedup_minhash_lsh_pairs_md5``: the complete
    MinHash(64)+LSH(8x8)+exact-Jaccard-verify pipeline rolled up per
    Jaccard decile. Every verified pair contributes to the count, the
    modular pair checksum, and the exact decimal Jaccard sum, so a single
    missing/extra/mis-scored pair anywhere in the pipeline breaks the
    value hash — at sf0.01 for the driver and at the sf10x rung for the
    100x value tier (BENCH §13e), where the pair-grain output itself is
    too big to diff driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_near_dups(docs, "text", "doc_id", threshold=0.8)
    return (
        pairs.groupBy(
            F.floor(F.col("jaccard") * 10).cast("long").alias("j_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            _pair_checksum(),
            F.sum(F.col("jaccard").cast("decimal(10,6)"))
            .cast("double")
            .alias("sum_jaccard"),
        )
        .orderBy("j_decile")
    )


CONTAINMENT_COUNTS_ORACLE = f"""
SELECT CASE WHEN c_a_in_b >= 0.9 AND c_b_in_a >= 0.9 THEN 'both'
            WHEN c_a_in_b >= 0.9 THEN 'a_in_b'
            ELSE 'b_in_a' END AS direction,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {_PAIR_CHECKSUM_SQL} AS pair_checksum,
       CAST(sum(CAST(c_a_in_b AS DECIMAL(10,6))) AS DOUBLE) AS sum_c_a_in_b,
       CAST(sum(CAST(c_b_in_a AS DECIMAL(10,6))) AS DOUBLE) AS sum_c_b_in_a
FROM ({CONTAINMENT_ORACLE})
GROUP BY direction
ORDER BY direction
"""


@register("dedup_containment_pairs_counts", oracle=CONTAINMENT_COUNTS_ORACLE)
def dedup_containment_pairs_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-grain twin of ``dedup_containment_pairs``: the asymmetric
    containment pipeline rolled up per gate direction (a-in-b only,
    b-in-a only, both), with the pair checksum and exact decimal sums of
    BOTH containment measures — the orientation swap in the re-expand
    step (operators/dedup.py:containment_near_dups) is exactly the kind
    of subtle bug the two directional sums pin at scale."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.containment_near_dups(docs, "text", "doc_id", threshold=0.9)
    direction = (
        F.when(
            (F.col("c_a_in_b") >= 0.9) & (F.col("c_b_in_a") >= 0.9), "both"
        )
        .when(F.col("c_a_in_b") >= 0.9, "a_in_b")
        .otherwise("b_in_a")
        .alias("direction")
    )
    return (
        pairs.groupBy(direction)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            _pair_checksum(),
            F.sum(F.col("c_a_in_b").cast("decimal(10,6)"))
            .cast("double")
            .alias("sum_c_a_in_b"),
            F.sum(F.col("c_b_in_a").cast("decimal(10,6)"))
            .cast("double")
            .alias("sum_c_b_in_a"),
        )
        .orderBy("direction")
    )


WINNOW_COUNTS_ORACLE = f"""
SELECT CAST(floor(overlap * 10) AS BIGINT) AS ov_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {_PAIR_CHECKSUM_SQL} AS pair_checksum,
       CAST(sum(shared_fp) AS BIGINT) AS sum_shared_fp,
       CAST(sum(n_a + n_b) AS BIGINT) AS sum_fp_sizes
FROM ({WINNOW_ORACLE})
GROUP BY ov_decile
ORDER BY ov_decile
"""


@register("dedup_winnowing_overlap_counts", oracle=WINNOW_COUNTS_ORACLE)
def dedup_winnowing_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-grain twin of ``dedup_winnowing_overlap``: the winnowing
    fingerprint → postings-cap → shared-fp pair pipeline rolled up per
    overlap decile. The integer sums (shared fingerprints, both posting
    sizes) are exact on both engines; a single dropped fingerprint or a
    mis-capped posting list shifts them."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.winnowing_overlap_pairs(
        docs, "text", "doc_id",
        k=_WN_K, w=_WN_W, min_shared=_WN_MIN, max_postings=_WN_CAP,
    )
    return (
        pairs.groupBy(
            F.floor(F.col("overlap") * 10).cast("long").alias("ov_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            _pair_checksum(),
            F.sum("shared_fp").cast("long").alias("sum_shared_fp"),
            F.sum(F.col("n_a") + F.col("n_b")).cast("long").alias("sum_fp_sizes"),
        )
        .orderBy("ov_decile")
    )


CROSS_MINHASH_COUNTS_ORACLE = f"""
SELECT probe_key,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(sum((corpus_key * 1000003 + probe_key) % 1000000007) AS BIGINT)
         AS pair_checksum,
       CAST(sum(CAST(jaccard AS DECIMAL(10,6))) AS DOUBLE) AS sum_jaccard
FROM ({CROSS_MINHASH_ORACLE})
GROUP BY probe_key
ORDER BY probe_key
"""


@register("dedup_cross_corpus_minhash_counts", oracle=CROSS_MINHASH_COUNTS_ORACLE)
def dedup_cross_corpus_minhash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-grain twin of ``dedup_cross_corpus_minhash_md5``: the
    train-vs-eval decontamination hits rolled up per PROBE doc (the probe
    panel is the fixed eval set — 50 rows at every scale, while the
    corpus side grows with SF), binding each probe's hit count, the
    corpus-key checksum, and the exact decimal Jaccard mass. The grain a
    decontamination run actually reports: which eval docs are leaked and
    how hard."""
    docs = load_table(spark, sf_dir, "documents")
    hits = D.cross_corpus_near_dups(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        "text",
        "doc_id",
        threshold=0.8,
    )
    return (
        hits.groupBy("probe_key")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(
                (F.col("corpus_key") * F.lit(1000003) + F.col("probe_key"))
                % F.lit(1000000007)
            )
            .cast("long")
            .alias("pair_checksum"),
            F.sum(F.col("jaccard").cast("decimal(10,6)"))
            .cast("double")
            .alias("sum_jaccard"),
        )
        .orderBy("probe_key")
    )
