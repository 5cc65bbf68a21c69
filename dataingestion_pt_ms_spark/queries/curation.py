"""Corpus-curation queries: deterministic hash sampling, fixed-weight
logistic quality gate, per-source corpus profiling, percentile summaries,
value histograms, bigram-LM scoring.

These extend the LLM-pipeline surface (SURVEY.md §2.B round-2 additions)
with the curation steps a pretraining-data team runs between dedup and
packing. Every query here has an exact DuckDB oracle; notably the hash
sampler replaces the engine-RNG `sample_seeded_fraction` rows-only check
with a fully attested md5-bucket variant (the industry-standard way to
sample reproducibly across engines and re-runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import text as T
from ..session import materialize
from . import register
from ._ducktwins import DTOKS

# --------------------------------------------------------------------------
# Deterministic hash-bucket sampling: bucket = md5(key) % mod, keep < pct.
# Unlike df.sample() (engine RNG, rows-only check), the membership decision
# is a pure function of the key — stable across engines, partitionings,
# retries, and scale, which is what makes it auditable at 100 TB.
# The Spark expression and its DuckDB twin live in ONE pair of helpers
# (the _ducktwins discipline): a bucketing change is exactly two edits.
# --------------------------------------------------------------------------


def _spark_md5_bucket(key_col: str, mod: int):
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(mod),
    )


def _duck_md5_bucket(expr: str, mod: int) -> str:
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT) % {mod}"


_DBUCKET = _duck_md5_bucket("doc_id", 100)

SAMPLE_HASH_ORACLE = f"""
SELECT doc_id, lang, {_DBUCKET} AS bucket
FROM documents
WHERE {_DBUCKET} < 10
ORDER BY doc_id
"""


@register("sample_hash_bucket", oracle=SAMPLE_HASH_ORACLE)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", _spark_md5_bucket("doc_id", 100).alias("bucket"))
        .filter(F.col("bucket") < 10)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Fixed-weight logistic quality gate (the fastText-style quality-classifier
# shape with the learned model replaced by a fixed linear head over cheap
# features — the serving plan is identical: pure JVM expressions, no UDF,
# fully pushed into one projection over the scan).
# --------------------------------------------------------------------------
_W0, _W_LEN, _W_TOKLEN, _W_MARKER = -1.5, 0.9, -0.35, 6.0
_MARKERS = ", ".join(f"'{m}'" for m in T.EN_MARKERS)

QUALITY_LOGISTIC_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len({DTOKS}) AS DOUBLE) AS n_tokens,
         list_sum(list_transform({DTOKS}, t -> CAST(len(t) AS DOUBLE)))
           / CAST(len({DTOKS}) AS DOUBLE) AS avg_token_len,
         CAST(len(list_filter({DTOKS}, t -> t IN ({_MARKERS}))) AS DOUBLE)
           / CAST(len({DTOKS}) AS DOUBLE) AS marker_ratio
  FROM documents
), scored AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-({_W0} + {_W_LEN} * ln(n_tokens + 1.0)
               + {_W_TOKLEN} * avg_token_len
               + {_W_MARKER} * marker_ratio))), 6) AS quality_score
  FROM feats
)
SELECT doc_id, quality_score,
       CAST(quality_score >= 0.5 AS BOOLEAN) AS keep
FROM scored
ORDER BY doc_id
"""


@register("text_quality_logistic", oracle=QUALITY_LOGISTIC_ORACLE)
def text_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(T.tokens(F.col("text"))).cast("double")
    # operator-library features (no inline copies — oracle-drift hazard)
    avg_len = T.avg_token_len_expr("text")
    marker_ratio = T.stopword_ratio("text")
    z = (
        F.lit(_W0)
        + F.lit(_W_LEN) * F.log(n + F.lit(1.0))
        + F.lit(_W_TOKLEN) * avg_len
        + F.lit(_W_MARKER) * marker_ratio
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return (
        docs.select(
            "doc_id",
            score.alias("quality_score"),
        )
        .withColumn("keep", F.col("quality_score") >= 0.5)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Per-source corpus profile (the per-domain rollup a Common-Crawl-style
# pipeline runs to spot low-quality / duplicate-heavy sources): doc counts,
# exact-dup ratio via distinct text hash, size and language spread.
# --------------------------------------------------------------------------
SOURCE_STATS_ORACLE = """
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique_texts,
       round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6)
         AS dup_ratio,
       round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
       count(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
ORDER BY source
"""


@register("docs_source_stats", oracle=SOURCE_STATS_ORACLE)
def docs_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_unique_texts"),
            F.round(
                F.lit(1.0)
                - F.countDistinct(F.md5("text")).cast("double") / F.count("*"),
                6,
            ).alias("dup_ratio"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Percentile summary per group — exact linear-interpolated quartiles
# (Spark `percentile` ≡ DuckDB `quantile_cont`). The approx_percentile
# scale path for this shape is covered by agg_approx_quantiles /
# text_quantile_filter_approx (rows-only); this is the exact twin.
# --------------------------------------------------------------------------
PERCENTILE_ORACLE = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
       round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
       round(quantile_cont(c_acctbal, 0.75), 4) AS p75
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("agg_percentile_summary", oracle=PERCENTILE_ORACLE)
def agg_percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.percentile("c_acctbal", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("c_acctbal", F.lit(0.50)), 4).alias("p50"),
            F.round(F.percentile("c_acctbal", F.lit(0.75)), 4).alias("p75"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Fixed-width histogram of order totals. The bucket expression is written
# identically in both engines (floor-divide + clamp) rather than relying on
# either engine's width_bucket builtin, so the bin edges are unambiguous.
# A histogram is one map-side-combined shuffle of at most n_buckets rows —
# the canonical O(1)-output profile query at any scale.
# --------------------------------------------------------------------------
_BUCKET_W = 25_000

HISTOGRAM_ORACLE = f"""
SELECT least(CAST(floor(o_totalprice / {_BUCKET_W}) AS BIGINT), 23) AS bucket,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY bucket
ORDER BY bucket
"""


@register("histogram_order_totals", oracle=HISTOGRAM_ORACLE)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / _BUCKET_W).cast("long"), F.lit(23)
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Bigram-LM fluency scoring (operators/text.py:bigram_logprob).
# --------------------------------------------------------------------------
BIGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {DTOKS} AS toks FROM documents WHERE len({DTOKS}) >= 2
), bg AS (
  SELECT doc_id,
         unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
         unnest(list_slice(toks, 2, len(toks))) AS w2
  FROM t
), c2 AS (
  SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS cnt1 FROM bg GROUP BY w1
), v AS (
  SELECT count(DISTINCT tok) AS vocab
  FROM (SELECT unnest({DTOKS}) AS tok FROM documents)
), scored AS (
  SELECT bg.doc_id, -ln((c2.cnt2 + 1.0) / (c1.cnt1 + v.vocab)) AS nlp
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(nlp), 6) AS nll,
       round(exp(avg(nlp)), 4) AS ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


@register("text_bigram_logprob", oracle=BIGRAM_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bigram_logprob(docs).orderBy("doc_id")


# NOTE: int8 embedding quantization intentionally lives in
# llm_similarity.py (emb_quantize_int8, backed by functions/vectors.py) —
# an earlier draft of this module duplicated it and was removed.


# --------------------------------------------------------------------------
# Language-balanced deterministic downsampling: every language kept at the
# smallest language's count (rate r = c_min/c_lang), with membership decided
# by the doc's md5 bucket against an integer threshold — the composition of
# sample_language_mix_weights (what rate?) and sample_hash_bucket (which
# docs?). All-integer arithmetic: thresh = (10000 * c_min) div c_lang, keep
# iff bucket_10k < thresh — bit-exact in any engine, no float rates. The
# kept count per language is binomial around r*c_lang, not exact — that is
# the standard trade for a stateless, shuffle-free membership test (an
# exact-count variant would need a per-lang row_number sort).
# --------------------------------------------------------------------------
_DBUCKET10K = _duck_md5_bucket("doc_id", 10_000)

SAMPLE_BALANCED_ORACLE = f"""
WITH c AS (
  SELECT lang, count(*) AS c_lang FROM documents GROUP BY lang
), m AS (
  SELECT min(c_lang) AS c_min FROM c
)
SELECT d.doc_id, d.lang,
       (10000 * m.c_min) // c.c_lang AS thresh
FROM documents d JOIN c USING (lang) CROSS JOIN m
WHERE {_DBUCKET10K} < (10000 * m.c_min) // c.c_lang
ORDER BY d.doc_id
"""


@register("sample_language_balanced", oracle=SAMPLE_BALANCED_ORACLE)
def sample_language_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("c_lang"))
    c_min = counts.agg(F.min("c_lang").alias("c_min"))
    bucket = _spark_md5_bucket("doc_id", 10_000)
    thresh = F.expr("(10000 * c_min) div c_lang")
    return (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(c_min))
        .select("doc_id", "lang", thresh.alias("thresh"), bucket.alias("_b"))
        .filter(F.col("_b") < F.col("thresh"))
        .drop("_b")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): each doc
# draws u ~ U(0,1] and gets key = -ln(u)/w; the k smallest keys are a
# weighted sample without replacement. One scan + TakeOrderedAndProject —
# the distributed-top-k shape, no per-draw state. Here w = n_chars (longer
# docs proportionally likelier) and u is md5-derived, so the "randomness"
# is a pure function of doc_id: deterministic, engine-independent, and
# exactly reproducible by the oracle. Keys are rounded before ranking
# (libm ln/pow can differ in the last ulp across engines) with doc_id as
# the tiebreak, so the k-boundary is engine-stable.
# --------------------------------------------------------------------------
_WS_K = 20
_DU = f"(({_duck_md5_bucket('doc_id', 1_000_000_000)}) + 1) / 1000000000.0"

SAMPLE_WEIGHTED_ORACLE = f"""
SELECT doc_id, lang,
       floor(-ln({_DU}) / n_chars * 100000000 + 0.5) / 100000000 AS es_key
FROM documents
ORDER BY es_key, doc_id
LIMIT {_WS_K}
"""


@register("sample_weighted_no_replacement", oracle=SAMPLE_WEIGHTED_ORACLE)
def sample_weighted_no_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (_spark_md5_bucket("doc_id", 1_000_000_000) + 1) / F.lit(1_000_000_000.0)
    es_key = F.floor(-F.log(u) / F.col("n_chars") * 100_000_000 + F.lit(0.5)) / 100_000_000
    return (
        docs.select("doc_id", "lang", es_key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(_WS_K)
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split assignment: the standard 80/10/10
# holdout keyed by a content-stable md5 bucket of the document id, so the
# assignment is reproducible across runs, clusters and engines (no RNG, no
# state) and a document can never migrate between splits when the corpus
# grows — the property per-run `rand()` splits lack. Pure projection over
# the scan; the split is free at any scale.
# --------------------------------------------------------------------------
_SPLIT_BUCKET = _duck_md5_bucket("doc_id", 100)

SPLIT_ORACLE = f"""
SELECT doc_id, lang,
       CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
            WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


@register("sample_train_val_test_split", oracle=SPLIT_ORACLE)
def sample_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = _spark_md5_bucket("doc_id", 100)
    return docs.select(
        "doc_id",
        "lang",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Training-shard manifest: pack documents (in stable doc_id order) into
# fixed token-budget shards — the webdataset/arrow-shard planning step of a
# pretraining pipeline. A doc is assigned to the shard its cumulative
# token count STARTS in: shard_id = tokens_before_doc div budget.
# Scale shape: the global prefix sum is operators/ranking.py's distributed
# running sum (range partition → local running sum → broadcast earlier-
# partition totals) — no single-reducer global window at any corpus size;
# the manifest rollup is an ordinary grouped agg on shard_id.
# Beyond-reference [NS] (SURVEY.md §2.B sampling/curation).
# --------------------------------------------------------------------------
_SHARD_BUDGET = 20_000  # tokens per shard

SHARD_MANIFEST_ORACLE = f"""
WITH t AS (SELECT doc_id, CAST(len({DTOKS}) AS BIGINT) AS w FROM documents),
c AS (SELECT doc_id, w,
             CAST(sum(w) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM t),
s AS (SELECT doc_id, w, CAST((cum - w) // {_SHARD_BUDGET} AS BIGINT) AS shard_id FROM c)
SELECT shard_id, count(*) AS n_docs,
       min(doc_id) AS doc_id_lo, max(doc_id) AS doc_id_hi,
       CAST(sum(w) AS BIGINT) AS shard_tokens
FROM s GROUP BY shard_id ORDER BY shard_id
"""


@register("docs_shard_manifest", oracle=SHARD_MANIFEST_ORACLE)
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("bigint").alias("w")
    )
    cum = global_running_sum(docs, "w", ["doc_id"], out_col="cum")
    shards = cum.withColumn(
        "shard_id", F.expr(f"(cum - w) div {_SHARD_BUDGET}")
    )
    return (
        shards.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("doc_id_lo"),
            F.max("doc_id").alias("doc_id_hi"),
            F.sum("w").alias("shard_tokens"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# APPLY the T5 temperature mix: deterministic per-source downsampling that
# realizes the α=0.5 temperature weights (sample_temperature_mix_weights
# computes the weights; this query executes them). Keep-rate per source is
# (c_min/c_s)^(1−α) scaled to an integer md5-bucket threshold, so the kept
# set is content-stable (same doc set on re-run, no RNG, survives corpus
# append like every md5-bucket sampler here). One grouped count + broadcast
# threshold join + pure-projection filter — no shuffle of the kept rows.
# Beyond-reference [NS] (SURVEY.md §2.B sampling/data mixing).
# --------------------------------------------------------------------------
_TMIX_MOD = 10_000

TEMP_APPLY_ORACLE = f"""
WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source),
mn AS (SELECT min(c) AS c_min FROM per),
th AS (SELECT source, c,
              CAST(floor({_TMIX_MOD} * sqrt(CAST(c_min AS DOUBLE) / c) + 0.5) AS BIGINT)
                AS keep_threshold
       FROM per CROSS JOIN mn),
kept AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN th ON th.source = d.source
  WHERE {_duck_md5_bucket("d.doc_id", _TMIX_MOD)} < th.keep_threshold
)
SELECT th.source, th.c AS n_docs, th.keep_threshold,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM th LEFT JOIN (SELECT source, count(*) AS n_kept FROM kept GROUP BY source) k
  ON k.source = th.source
ORDER BY th.source
"""


@register("sample_apply_temperature_mix", oracle=TEMP_APPLY_ORACLE)
def sample_apply_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    mn = per.agg(F.min("c").alias("c_min"))
    th = per.crossJoin(F.broadcast(mn)).select(
        "source",
        "c",
        F.floor(
            F.lit(_TMIX_MOD)
            * F.sqrt(F.col("c_min").cast("double") / F.col("c"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("keep_threshold"),
    )
    kept = (
        docs.join(F.broadcast(th), "source")
        .where(_spark_md5_bucket("doc_id", _TMIX_MOD) < F.col("keep_threshold"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        th.join(kept, "source", "left")
        .select(
            "source",
            F.col("c").alias("n_docs"),
            "keep_threshold",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# End-to-end curation pipeline v2 — composition of this round's operators:
#   1. CCNet perplexity gate: keep head+middle tertiles of unigram-LM NLL;
#   2. temperature-mix downsample (α=0.5) per source over the SURVIVORS
#      (md5-bucket thresholds recomputed on the gated corpus);
#   3. pack what's kept into fixed token-budget training shards
#      (distributed prefix sum — no global window).
# Output = the shard manifest of the curated corpus. Three corpus passes +
# two broadcast threshold joins + one range-partitioned prefix sum; no
# stage collects, every intermediate is a DataFrame. The DuckDB oracle
# recomputes the identical three stages over shared CTEs.
# --------------------------------------------------------------------------
PIPELINE_V2_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, unnest({DTOKS}) AS token FROM documents
), cnt AS (
  SELECT token, count(*) AS cnt FROM tk GROUP BY token
), sc AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total, CAST(count(*) AS DOUBLE) AS vocab
  FROM cnt
), pp AS (
  SELECT doc_id, round(-avg(ln((cnt + 1.0) / (n_total + vocab))), 6) AS nll
  FROM tk JOIN cnt USING (token) CROSS JOIN sc
  GROUP BY doc_id
), th AS (
  SELECT quantile_cont(nll, 2.0/3) AS t2 FROM pp
), gated AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN pp USING (doc_id) CROSS JOIN th
  WHERE pp.nll <= th.t2
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS c FROM gated GROUP BY source
), mn AS (SELECT min(c) AS c_min FROM per),
tmix AS (
  SELECT source,
         CAST(floor(10000 * sqrt(CAST(c_min AS DOUBLE) / c) + 0.5) AS BIGINT)
           AS keep_threshold
  FROM per CROSS JOIN mn
), kept AS (
  SELECT g.doc_id, g.text
  FROM gated g JOIN tmix ON tmix.source = g.source
  WHERE {_duck_md5_bucket("g.doc_id", 10_000)} < tmix.keep_threshold
), w AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS w
  FROM kept
), c2 AS (
  SELECT doc_id, w,
         CAST(sum(w) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM w
), s AS (
  SELECT doc_id, w, CAST((cum - w) // 20000 AS BIGINT) AS shard_id FROM c2
)
SELECT shard_id, count(*) AS n_docs,
       min(doc_id) AS doc_id_lo, max(doc_id) AS doc_id_hi,
       CAST(sum(w) AS BIGINT) AS shard_tokens
FROM s GROUP BY shard_id ORDER BY shard_id
"""


@register("pipeline_curation_v2", oracle=PIPELINE_V2_ORACLE)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    # stage 1: CCNet gate (drop the worst-perplexity tertile). pp feeds
    # the tertile aggregate AND the gate join — materialize so the
    # unigram-LM pipeline runs once (r11 opt, guide §1.2 #1)
    pp = materialize(T.unigram_logprob(docs).select("doc_id", "nll"))
    th = pp.agg(F.percentile("nll", F.lit(2.0 / 3)).alias("t2"))
    gated = (
        docs.join(pp, "doc_id")
        .crossJoin(F.broadcast(th))
        .where(F.col("nll") <= F.col("t2"))
        .select("doc_id", "source", "text")
    )
    gated = materialize(gated)  # feeds counts + kept filter
    # stage 2: temperature-mix downsample over the survivors
    per = gated.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    mn = per.agg(F.min("c").alias("c_min"))
    tmix = per.crossJoin(F.broadcast(mn)).select(
        "source",
        F.floor(
            F.lit(10_000) * F.sqrt(F.col("c_min").cast("double") / F.col("c"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("keep_threshold"),
    )
    kept = (
        gated.join(F.broadcast(tmix), "source")
        .where(_spark_md5_bucket("doc_id", 10_000) < F.col("keep_threshold"))
        .select("doc_id", F.size(T.tokens(F.col("text"))).cast("bigint").alias("w"))
    )
    # stage 3: token-budget shard manifest
    cum = global_running_sum(kept, "w", ["doc_id"], out_col="cum")
    shards = cum.withColumn("shard_id", F.expr("(cum - w) div 20000"))
    return (
        shards.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("doc_id_lo"),
            F.max("doc_id").alias("doc_id_hi"),
            F.sum("w").alias("shard_tokens"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# Neyman-allocation stratified sampling (round 4): the statistics-optimal
# stratified design — stratum h gets n_h ∝ N_h·σ_h of the total budget
# (high-variance strata oversampled), vs the naive proportional n_h ∝ N_h.
# Selection within each stratum is the house deterministic hash-rank (md5
# order, no RNG), so the chosen doc set is exactly reproducible in SQL.
# Allocation uses floor + largest-remainder so Σn_h = budget exactly.
# Beyond-reference [NS] (sampling-design family).
# --------------------------------------------------------------------------
_NEY_BUDGET = 100

NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n_h, stddev_samp(n_chars) AS sd
  FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_h, sd, n_h * sd AS wt,
         (SELECT sum(n_h * sd) FROM s) AS wtot
  FROM s
), alloc0 AS (
  SELECT lang, n_h,
         CAST(floor({_NEY_BUDGET} * wt / wtot) AS BIGINT) AS base,
         {_NEY_BUDGET} * wt / wtot - floor({_NEY_BUDGET} * wt / wtot) AS rem
  FROM w
), ranked AS (
  SELECT lang, n_h, base,
         row_number() OVER (ORDER BY rem DESC, lang) AS rr,
         CAST({_NEY_BUDGET} - (SELECT sum(base) FROM alloc0) AS BIGINT) AS leftover
  FROM alloc0
), alloc AS (
  SELECT lang, n_h,
         base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS n_take
  FROM ranked
), picked AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rk
  FROM documents d
)
SELECT p.doc_id, p.lang, a.n_take
FROM picked p JOIN alloc a ON a.lang = p.lang
WHERE p.rk <= a.n_take
ORDER BY p.lang, p.doc_id
"""


@register("sample_neyman_stratified", oracle=NEYMAN_ORACLE)
def sample_neyman_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n_h"),
        F.stddev_samp("n_chars").alias("sd"),
    )
    s = s.withColumn("wt", F.col("n_h") * F.col("sd"))
    wtot = s.agg(F.sum("wt").alias("wtot"))
    alloc0 = s.crossJoin(F.broadcast(wtot)).select(
        "lang",
        "n_h",
        F.floor(_NEY_BUDGET * F.col("wt") / F.col("wtot")).cast("long").alias("base"),
        (
            _NEY_BUDGET * F.col("wt") / F.col("wtot")
            - F.floor(_NEY_BUDGET * F.col("wt") / F.col("wtot"))
        ).alias("rem"),
    )
    base_sum = alloc0.agg(F.sum("base").alias("bsum"))
    # unpartitioned window over STRATA rows only (|langs|, ≤ a handful) —
    # the bounded-frame exemption, same as the top-k re-rank windows
    wr = W.orderBy(F.col("rem").desc(), "lang")
    alloc = (
        alloc0.crossJoin(F.broadcast(base_sum))
        .withColumn("rr", F.row_number().over(wr))
        .select(
            "lang",
            (
                F.col("base")
                + F.when(
                    F.col("rr") <= _NEY_BUDGET - F.col("bsum"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_take"),
        )
    )
    wp = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    picked = docs.select("doc_id", "lang", F.row_number().over(wp).alias("rk"))
    return (
        picked.join(F.broadcast(alloc), "lang")
        .where(F.col("rk") <= F.col("n_take"))
        .select("doc_id", "lang", "n_take")
        .orderBy("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# Importance reweighting to a target mix (round 4): per-language weights
# w = target_share / current_share that re-balance the corpus toward a
# declared training mix WITHOUT dropping rows (the reweight alternative to
# temperature downsampling), plus the effective-sample-size audit
# ESS = (Σw)²/Σw² that says how much statistical power the reweight costs.
# One grouped count + broadcast share arithmetic; integer counts make
# every share exact until the final divisions.
# --------------------------------------------------------------------------
_TARGET_MIX = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}

_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in _TARGET_MIX.items())

REWEIGHT_ORACLE = f"""
WITH cur AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
), tot AS (SELECT sum(n) AS t FROM cur),
tgt(lang, share) AS (VALUES {_MIX_VALUES}),
w AS (
  SELECT cur.lang, cur.n,
         coalesce(tgt.share, 0.0) / (cur.n / tot.t) AS wt
  FROM cur LEFT JOIN tgt ON tgt.lang = cur.lang CROSS JOIN tot
), ess AS (
  SELECT sum(n * wt) AS sw, sum(n * wt * wt) AS sw2 FROM w
)
SELECT w.lang, CAST(w.n AS BIGINT) AS n_docs,
       round(w.wt, 6) AS weight,
       round((SELECT sw * sw / sw2 FROM ess), 6) AS effective_sample_size
FROM w ORDER BY w.lang
"""


@register("sample_importance_reweight", oracle=REWEIGHT_ORACLE)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = cur.agg(F.sum("n").alias("t"))
    tgt = F.broadcast(
        docs.sparkSession.createDataFrame(
            list(_TARGET_MIX.items()), "lang string, share double"
        )
    )
    w = (
        cur.join(tgt, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n",
            (
                F.coalesce("share", F.lit(0.0)) / (F.col("n") / F.col("t"))
            ).alias("wt"),
        )
    )
    ess = w.agg(
        (
            F.pow(F.sum(F.col("n") * F.col("wt")), 2)
            / F.sum(F.col("n") * F.col("wt") * F.col("wt"))
        ).alias("ess")
    )
    return (
        w.crossJoin(F.broadcast(ess))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.round("wt", 6).alias("weight"),
            F.round("ess", 6).alias("effective_sample_size"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Curation pipeline v3 (round 4 finale): the session's new operators
# composed into one auditable funnel, reported per source —
#   raw → exact-collapse reps → partial-overlap dedup (winnowing pairs
#   ≥ 0.5 overlap + stitch-artifact tails drop the larger doc_id) →
#   readability band gate (FK grade within the corpus [P10, P90] — the
#   gibberish/boilerplate two-sided cut) → per-source quality floor
#   (drop each source's bottom quality quartile: the calibrated
#   threshold that a single global cut gets wrong across heterogeneous
#   sources).
# Each stage's survivor count rides in the output, so the funnel is the
# observable — a retention cliff at one stage points at the broken gate
# (the v2 lesson, extended). Every stage reuses an already-oracled
# operator; the composed oracle chains their SQL fragments.
# --------------------------------------------------------------------------
from ..queries.llm_dedup import _WN_CAP, _WN_K, _WN_MIN, _WN_W  # noqa: E402

PIPELINE_V3_ORACLE = f"""
WITH reps AS (
  SELECT min(doc_id) AS k, text FROM documents GROUP BY text
), tok AS (
  SELECT k, unnest({{DTOKS_K}}) AS t, generate_subscripts({{DTOKS_K}}, 1) AS pos
  FROM reps
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
), kept_fp AS (
  SELECT fp FROM (SELECT fp, count(*) AS n FROM fp GROUP BY fp)
  WHERE n <= {_WN_CAP}
), post AS (
  SELECT fp.k, fp.fp FROM fp JOIN kept_fp USING (fp)
), sizes AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_fp FROM post GROUP BY k
), wpairs AS (
  SELECT a.k AS key_a, b.k AS key_b, CAST(count(*) AS BIGINT) AS shared_fp
  FROM post a JOIN post b ON a.fp = b.fp AND a.k < b.k
  GROUP BY a.k, b.k HAVING count(*) >= {_WN_MIN}
), wdrop AS (
  SELECT DISTINCT key_b AS k FROM wpairs
  JOIN sizes sa ON sa.k = wpairs.key_a
  JOIN sizes sb ON sb.k = wpairs.key_b
  WHERE CAST(shared_fp AS DOUBLE) / least(sa.n_fp, sb.n_fp) >= 0.5
), bounds AS (
  SELECT k,
         array_to_string(list_slice({{DTOKS_K}}, 1, 8), ' ') AS head,
         array_to_string(list_slice({{DTOKS_K}},
                                    len({{DTOKS_K}}) - 7, len({{DTOKS_K}})), ' ') AS tail
  FROM reps WHERE len({{DTOKS_K}}) >= 8
), heads AS (
  SELECT k, head AS chunk FROM bounds
  QUALIFY count(*) OVER (PARTITION BY head) <= 50
), tails AS (
  SELECT k, tail AS chunk FROM bounds
  QUALIFY count(*) OVER (PARTITION BY tail) <= 50
), sdrop AS (
  SELECT DISTINCT heads.k FROM tails
  JOIN heads ON tails.chunk = heads.chunk AND tails.k <> heads.k
), meta AS (
  SELECT d.doc_id, d.source,
         CAST(len({{DTOKS_D}}) AS BIGINT) AS n_words,
         greatest(CAST(len(regexp_extract_all(d.text, '[.!?]+')) AS BIGINT), 1)
           AS n_sent,
         CAST(len(regexp_extract_all(lower(d.text), '[aeiouy]+')) AS BIGINT)
           + CAST(len(list_filter({{DTOKS_D}},
               t -> NOT regexp_matches(t, '[aeiouy]'))) AS BIGINT) AS n_syll,
         round(0.4 * (CAST(len(list_distinct({{DTOKS_D}})) AS DOUBLE)
                      / CAST(len({{DTOKS_D}}) AS DOUBLE))
             + 0.3 * least(CAST(len({{DTOKS_D}}) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (1 - CAST(len(list_filter({{DTOKS_D}},
                         t -> t IN ({{MARKERS}}))) AS DOUBLE)
                          / CAST(len({{DTOKS_D}}) AS DOUBLE)), 6) AS score,
         reps.k IS NOT NULL AS is_rep
  FROM documents d
  LEFT JOIN reps ON reps.k = d.doc_id
), staged AS (
  SELECT doc_id, source, score,
         round(0.39 * (CAST(n_words AS DOUBLE) / n_sent)
               + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59, 4) AS fk,
         is_rep,
         is_rep AND doc_id NOT IN (SELECT k FROM wdrop)
                AND doc_id NOT IN (SELECT k FROM sdrop) AS past_dedup
  FROM meta
), band AS (
  SELECT quantile_cont(fk, 0.1) AS p10, quantile_cont(fk, 0.9) AS p90
  FROM staged WHERE past_dedup
), flags AS (
  SELECT source, doc_id, is_rep, past_dedup,
         past_dedup AND fk >= p10 AND fk <= p90 AS past_read,
         score
  FROM staged CROSS JOIN band
), qrank AS (
  SELECT source, doc_id, is_rep, past_dedup, past_read,
         CASE WHEN past_read THEN
           percent_rank() OVER (PARTITION BY source, past_read
                                ORDER BY score, doc_id)
         END AS pr
  FROM flags
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_reps,
       CAST(sum(CASE WHEN past_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(sum(CASE WHEN past_read THEN 1 ELSE 0 END) AS BIGINT) AS n_readable,
       CAST(sum(CASE WHEN past_read AND pr >= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_final
FROM qrank
GROUP BY source
ORDER BY source
"""


def _v3_oracle() -> str:
    from ..operators.text import EN_MARKERS
    from ._ducktwins import DTOKS

    markers = ", ".join(f"'{m}'" for m in EN_MARKERS)
    dtoks_k = DTOKS.replace("text", "text")  # reps CTE exposes text
    return (
        PIPELINE_V3_ORACLE
        .replace("{DTOKS_K}", dtoks_k)
        .replace("{DTOKS_D}", DTOKS.replace("(text)", "(d.text)").replace("(trim(text))", "(trim(d.text))"))
        .replace("{MARKERS}", markers)
    )


@register("pipeline_curation_v3", oracle=_v3_oracle())
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens as _tokens
    from ..operators.dedup import collapse_exact, winnowing_overlap_pairs
    from ..operators.text import quality_score
    from ..queries.llm_dedup import dedup_stitch_artifact_pairs

    docs = load_table(spark, sf_dir, "documents")
    reps, _ = collapse_exact(docs, "text", "doc_id")
    rep_keys = reps.select(F.col("doc_id").alias("k"))
    wdrop = (
        winnowing_overlap_pairs(
            docs, "text", "doc_id",
            k=_WN_K, w=_WN_W, min_shared=_WN_MIN, max_postings=_WN_CAP,
        )
        .where(F.col("overlap") >= 0.5)
        .select(F.col("key_b").alias("k"))
        .distinct()
    )
    sdrop = (
        dedup_stitch_artifact_pairs(spark, sf_dir)
        .select(F.col("key_b").alias("k"))
        .distinct()
    )
    toks = _tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))).cast("long"),
        F.lit(1).cast("long"),
    )
    n_syll = (
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
        ).cast("long")
        + F.size(F.filter(toks, lambda t: ~t.rlike("[aeiouy]"))).cast("long")
    )
    fk = F.round(
        0.39 * (n_words.cast("double") / n_sent)
        + 11.8 * (n_syll.cast("double") / n_words) - 15.59,
        4,
    )
    staged = (
        quality_score(docs)
        .select("doc_id", "source", F.col("quality_score").alias("score"), fk.alias("fk"))
        .join(rep_keys.withColumn("is_rep", F.lit(True)),
              F.col("doc_id") == F.col("k"), "left")
        .drop("k")
        .withColumn("is_rep", F.coalesce("is_rep", F.lit(False)))
        .join(wdrop.withColumn("in_wdrop", F.lit(True)),
              F.col("doc_id") == F.col("k"), "left")
        .drop("k")
        .join(sdrop.withColumn("in_sdrop", F.lit(True)),
              F.col("doc_id") == F.col("k"), "left")
        .drop("k")
        .withColumn(
            "past_dedup",
            F.col("is_rep") & F.col("in_wdrop").isNull() & F.col("in_sdrop").isNull(),
        )
    )
    staged = materialize(staged)  # band + flags branches
    band = staged.where("past_dedup").agg(
        F.percentile("fk", F.lit(0.1)).alias("p10"),
        F.percentile("fk", F.lit(0.9)).alias("p90"),
    )
    flags = staged.crossJoin(F.broadcast(band)).withColumn(
        "past_read",
        F.col("past_dedup") & (F.col("fk") >= F.col("p10")) & (F.col("fk") <= F.col("p90")),
    )
    wq = W.partitionBy("source", "past_read").orderBy("score", "doc_id")
    qrank = flags.withColumn(
        "pr", F.when(F.col("past_read"), F.percent_rank().over(wq))
    )
    return (
        qrank.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.when(F.col("is_rep"), 1).otherwise(0)).alias("n_reps"),
            F.sum(F.when(F.col("past_dedup"), 1).otherwise(0)).alias("n_dedup"),
            F.sum(F.when(F.col("past_read"), 1).otherwise(0)).alias("n_readable"),
            F.sum(
                F.when(F.col("past_read") & (F.col("pr") >= 0.25), 1).otherwise(0)
            ).alias("n_final"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Web-curation pipeline (round 7 continuation): the raw-HTML-to-corpus
# chain end to end, with every stage actually DISTRIBUTED — synthesize a
# page per doc (id-FREE template, so boilerplate is genuinely shared),
# parse it with the real extractor (operators/htmltext.py), explode the
# extracted lines and remove BOILERPLATE by document frequency (a line
# present in > 50% of docs is chrome — here the planted entity fragment
# and footer, each on every page), apply a word-count quality gate,
# dedup by leading-5-word fingerprint (sorted-neighborhood-lite; the
# corpus has real collision groups), and profile survivors per language.
# The oracle recomputes each stage's outcome from the source columns:
# boilerplate lines have df = 1.0 and text lines are corpus-unique, so
# the expected survivor set is derivable without re-parsing HTML — while
# the Spark side genuinely runs parse → explode → df-count → gate →
# dedup. A leak from <script>, a broken entity, or a mis-split line
# changes word counts and breaks the hash. Scale shape: one mapInPandas
# + two hash aggregations + one min-per-key dedup — no all-pairs stage.
# --------------------------------------------------------------------------
_WEBCUR_MIN_WORDS = 20
_WEBCUR_BOILER_DF = 0.5

WEB_CURATION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         trim(regexp_replace(text, ' +', ' ', 'g')) AS line
  FROM documents
), gated AS (
  SELECT doc_id, lang, line,
         len(str_split(line, ' ')) AS n_words
  FROM base
  WHERE len(str_split(line, ' ')) >= {_WEBCUR_MIN_WORDS}
), deduped AS (
  SELECT lang, n_words
  FROM (
    SELECT lang, n_words,
           row_number() OVER (
             PARTITION BY array_to_string((str_split(line, ' '))[1:5], ' ')
             ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
)
SELECT lang,
       count(*) AS n_kept,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       round(avg(CAST(n_words AS DOUBLE)), 6) AS avg_words
FROM deduped
GROUP BY lang
ORDER BY lang
"""


# id-FREE page shell shared by the direct and the WARC-container variants:
# the chrome (entity fragment + footer) is byte-identical across all
# pages, like a real site shell, so boilerplate removal has real df=1.0
# lines to find. Kept as HEAD/TAIL constants so the archive queries can
# state the page's exact byte arithmetic in their oracles.
_PAGE_HEAD = (
    "<html><head><title>corpus page</title>\n"
    "<style>body {margin: 0}</style>\n"
    '<script>var leak = "SHOULD_NOT_APPEAR";</script>\n'
    "</head><body>\n"
    "<p>AT&amp;T &lt;terms&gt; &quot;apply&quot; &#65;</p>\n"
    "<p>"
)
_PAGE_TAIL = (
    "</p>\n"
    "<!-- tracking comment -->\n"
    "<div>footer <span>links</span> here</div>\n"
    "</body></html>"
)


def _page_html(text) -> str:
    from html import escape

    return _PAGE_HEAD + escape(str(text)) + _PAGE_TAIL


def _web_curation_tail(docs: DataFrame, extracted: DataFrame) -> DataFrame:
    """The shared curation chain after HTML extraction: explode lines →
    boilerplate removal by document frequency (distributed two-pass:
    per-line distinct-doc counts, broadcast-joined back as an anti-join
    filter) → word-count gate → leading-5-word-fingerprint dedup →
    per-language survivor profile."""
    from pyspark.sql import Window as W

    lines = extracted.select(
        "doc_id", F.explode(F.split("extracted", "\n")).alias("line")
    ).filter(F.length("line") > 0)

    n_docs = docs.count()  # metadata-sized driver value (one long)
    dfreq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("df")
    )
    boiler = dfreq.filter(F.col("df") > _WEBCUR_BOILER_DF * n_docs).select("line")
    content = lines.join(F.broadcast(boiler), "line", "left_anti")

    gated = (
        content.withColumn("n_words", F.size(F.split("line", " ")))
        .filter(F.col("n_words") >= _WEBCUR_MIN_WORDS)
    )
    dedup_w = W.partitionBy(
        F.array_join(F.slice(F.split("line", " "), 1, 5), " ")
    ).orderBy("doc_id")
    survivors = (
        gated.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    return (
        survivors.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_words").alias("total_words"),
            F.round(F.avg(F.col("n_words").cast("double")), 6).alias("avg_words"),
        )
        .orderBy("lang")
    )


@register("pipeline_web_curation", oracle=WEB_CURATION_ORACLE)
def pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators import htmltext as H

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                rows.append((int(r["doc_id"]), _page_html(r["text"])))
            yield pd.DataFrame(rows, columns=["doc_id", "html"])

    # r10 opt §1a: mapInPandas is narrow, so the whole synthesize+parse
    # Python chain would run inside the single-split scan's one task —
    # spread the doc rows first (per-row outputs; partitioning inert)
    pages = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(gen, "doc_id long, html string")
    extracted = H.html_text_extract(pages)
    return _web_curation_tail(docs, extracted)


# --------------------------------------------------------------------------
# WARC archive-container head for the web-curation pipeline (round 8,
# VERDICT r7 #7): a real crawl dump arrives as a few thousand MULTI-RECORD
# ``.warc`` / ``.warc.gz`` segments in object storage, not one row per
# page. These queries drive the full container path through the engine:
# pages are packed into spec-shaped WARC archives (one warcinfo record +
# one application/http response record per page; every odd archive uses
# the standard per-record-gzip framing) GROUP-WISE on executors
# (applyInPandas over the archive key — the driver never sees a page),
# then split back into member records by sources/archives.py's
# executor-side ISO-28500 walker, and only then curated. The oracles
# state the expected outcome straight from ``documents`` byte arithmetic,
# so a record-boundary bug, a Content-Length miscount, a gzip-member walk
# slip, or an HTTP-header leak into the body breaks the value hash.
# Reference parity: R2's remote fetch (app/alpaca_service.py:117-135)
# re-shaped as batch re-play of an already-acquired crawl.
# --------------------------------------------------------------------------
_ARCH_DOCS = 32  # pages per archive segment
_WARCINFO_PAYLOAD = (
    b"software: dataingestion-pt-ms-spark\r\nformat: WARC file version 1.0\r\n"
)


def _warc_archives(docs: DataFrame) -> DataFrame:
    """(archive string, content binary): pack each ``_ARCH_DOCS``-page
    group of the corpus into one WARC blob, executor-side."""
    import pandas as pd

    from ..sources import archives as A

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        aid = int(pdf["archive_id"].iloc[0])
        recs = [
            A.encode_warc_record(
                "warcinfo",
                _WARCINFO_PAYLOAD,
                record_id=f"<urn:uuid:warcinfo-{aid}>",
                content_type="application/warc-fields",
            )
        ]
        for _, r in pdf.iterrows():
            body = _page_html(r["text"]).encode("utf-8")
            recs.append(
                A.encode_warc_record(
                    "response",
                    A.encode_http_response(body),
                    target_uri=f"http://corpus.example/doc/{int(r['doc_id'])}",
                    record_id=f"<urn:uuid:doc-{int(r['doc_id'])}>",
                    content_type="application/http; msgtype=response",
                )
            )
        blob = A.encode_warc(recs, per_record_gzip=aid % 2 == 1)
        return pd.DataFrame(
            {"archive": [f"segment-{aid}.warc"], "content": [bytearray(blob)]}
        )

    # pin the group exchange at cluster parallelism: the (doc_id, text)
    # rows are ~1-3 MB compressed, so AQE's byte-based coalescing would
    # run the CPU-dense Python pack (html-wrap + gzip per record) in 1-2
    # tasks; an explicit numPartitions repartition on the group key is
    # reused by groupBy and never coalesced (r10 opt, guide §2.4/§4)
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.withColumn("archive_id", F.floor(F.col("doc_id") / _ARCH_DOCS))
        .repartition(par, "archive_id")
        .groupBy("archive_id")
        .applyInPandas(build, "archive string, content binary")
    )


# exact byte arithmetic of the synthesized page/record, computed once at
# import so the oracle can state every Content-Length from `documents`:
# html.escape maps & -> &amp; (+4), < -> &lt; (+3), > -> &gt; (+3),
# " -> &quot; (+5), ' -> &#x27; (+5); all five are single-byte chars, so
# the byte deltas hold for UTF-8 text too.
def _tpl_fixed_bytes() -> int:
    return len((_PAGE_HEAD + _PAGE_TAIL).encode("utf-8"))


def _http_head_bytes() -> int:
    from ..sources import archives as A

    return len(A.encode_http_response(b""))


_ESC_BYTES_SQL = (
    "strlen(text)"
    " + 4*(strlen(text) - strlen(replace(text, '&', '')))"
    " + 3*(strlen(text) - strlen(replace(text, '<', '')))"
    " + 3*(strlen(text) - strlen(replace(text, '>', '')))"
    " + 5*(strlen(text) - strlen(replace(text, '\"', '')))"
    " + 5*(strlen(text) - strlen(replace(text, '''', '')))"
)

WARC_INVENTORY_ORACLE = f"""
WITH resp AS (
  SELECT 'response' AS warc_type,
         CAST(200 AS INTEGER) AS http_status,
         CAST(count(*) AS BIGINT) AS n_records,
         CAST(sum({_ESC_BYTES_SQL} + {{tpl}} + {{http}}) AS BIGINT)
           AS sum_content_length,
         CAST(sum({_ESC_BYTES_SQL} + {{tpl}}) AS BIGINT) AS sum_payload_bytes,
         CAST(sum(doc_id % 1000000007) AS BIGINT) AS uri_checksum
  FROM documents
), info AS (
  SELECT 'warcinfo' AS warc_type,
         CAST(NULL AS INTEGER) AS http_status,
         CAST(count(DISTINCT doc_id // {_ARCH_DOCS}) AS BIGINT) AS n_records,
         CAST(count(DISTINCT doc_id // {_ARCH_DOCS}) * {{info}} AS BIGINT)
           AS sum_content_length,
         CAST(count(DISTINCT doc_id // {_ARCH_DOCS}) * {{info}} AS BIGINT)
           AS sum_payload_bytes,
         CAST(0 AS BIGINT) AS uri_checksum
  FROM documents
)
SELECT * FROM resp UNION ALL SELECT * FROM info ORDER BY warc_type
"""


def _warc_inventory_oracle() -> str:
    return WARC_INVENTORY_ORACLE.format(
        tpl=_tpl_fixed_bytes(),
        http=_http_head_bytes(),
        info=len(_WARCINFO_PAYLOAD),
    )


@register("warc_record_inventory", oracle=_warc_inventory_oracle())
def warc_record_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-grain audit of the WARC container walk: per (warc-type,
    http-status) — record count, the sum of every record's Content-Length
    header, the sum of HTTP-stripped payload bytes, and a target-URI doc
    checksum binding each page to exactly one response record. The oracle
    recomputes all four from `documents` byte arithmetic (template bytes +
    per-char escape deltas), so the whole chain — record packing, gzip
    member framing, boundary walk, header parse, HTTP split — has to be
    byte-exact for the hash to match."""
    from ..sources import archives as A

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    records = A.split_warc_records(
        _warc_archives(docs), content_col="content", path_col="archive"
    )
    doc_key = F.coalesce(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long"),
        F.lit(0),
    )
    return (
        records.groupBy("warc_type", "http_status")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("content_length").cast("long").alias("sum_content_length"),
            F.sum(F.length("payload")).cast("long").alias("sum_payload_bytes"),
            F.sum(doc_key % F.lit(1000000007)).cast("long").alias("uri_checksum"),
        )
        .orderBy("warc_type")
    )


@register("pipeline_web_curation_warc", oracle=WEB_CURATION_ORACLE)
def pipeline_web_curation_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-curation pipeline fed from WARC containers instead of a
    page column: pack → (gzip) → executor-side record split → HTTP body →
    HTML extract → boilerplate df → gate → prefix dedup → profile. Same
    oracle as ``pipeline_web_curation``: the container round-trip must be
    lossless for the per-language survivor profile to hash-match — one
    dropped record, one leaked HTTP header line, or one mis-decoded body
    changes the counts."""
    from ..operators import htmltext as H
    from ..sources import archives as A

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    records = A.split_warc_records(
        _warc_archives(docs), content_col="content", path_col="archive"
    )
    pages = records.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("html"),
    )
    extracted = H.html_text_extract(pages)
    return _web_curation_tail(docs, extracted)


TAR_MEMBERS_ORACLE = f"""
SELECT CAST(doc_id // {_ARCH_DOCS} % 4 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
       CAST(sum(doc_id % 1000000007) AS BIGINT) AS name_checksum,
       CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
         AS content_checksum
FROM documents
GROUP BY bucket
ORDER BY bucket
"""


@register("archive_tar_members_audit", oracle=TAR_MEMBERS_ORACLE)
def archive_tar_members_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAR-container round-trip audit: pack each corpus segment's raw
    texts into a ustar archive executor-side (odd segments gzipped),
    split members back out with sources/archives.py:split_tar_members,
    and roll up per archive bucket — member count, byte sum, a
    member-name doc checksum, and an md5-prefix CONTENT checksum over the
    extracted bytes. The oracle computes all four straight from
    `documents`, so a truncated member, a name mangle, or a header-offset
    slip breaks the hash."""
    import pandas as pd

    from ..sources import archives as A

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        aid = int(pdf["archive_id"].iloc[0])
        members = [
            (f"segment-{aid}/doc-{int(r['doc_id'])}.txt",
             str(r["text"]).encode("utf-8"))
            for _, r in pdf.iterrows()
        ]
        blob = A.encode_tar(members, gz=aid % 2 == 1)
        name = f"segment-{aid}.tar" + (".gz" if aid % 2 == 1 else "")
        return pd.DataFrame({"archive": [name], "content": [bytearray(blob)]})

    # pinned group exchange — see _warc_archives (r10 opt)
    par = spark.sparkContext.defaultParallelism
    tars = (
        docs.withColumn("archive_id", F.floor(F.col("doc_id") / _ARCH_DOCS))
        .repartition(par, "archive_id")
        .groupBy("archive_id")
        .applyInPandas(build, "archive string, content binary")
    )
    members = A.split_tar_members(tars, content_col="content", path_col="archive")
    return _member_bucket_rollup(members)


def _member_bucket_rollup(members: DataFrame) -> DataFrame:
    """The shared container-audit rollup (TAR and ZIP rows): per archive
    bucket — member count, byte sum, member-name doc checksum, and an
    md5-prefix CONTENT checksum over extracted bytes."""
    doc_key = F.regexp_extract("member_name", r"/doc-(\d+)\.txt$", 1).cast("long")
    bucket = (
        F.floor(doc_key / _ARCH_DOCS) % 4
    ).cast("long").alias("bucket")
    return (
        members.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.length("payload")).cast("long").alias("sum_bytes"),
            F.sum(doc_key % F.lit(1000000007)).cast("long").alias("name_checksum"),
            F.sum(F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast("long"))
            .cast("long")
            .alias("content_checksum"),
        )
        .orderBy("bucket")
    )


@register("archive_zip_members_audit", oracle=TAR_MEMBERS_ORACLE)
def archive_zip_members_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP-container round-trip audit (round 10 — the third container
    format): pack each corpus segment's raw texts into a ZIP archive
    executor-side (odd segments DEFLATED, even segments STORED, so both
    member encodings are walked), split members back out with
    sources/archives.py:split_zip_members, and roll up with the same
    bucket audit as the TAR row — which is also why the ORACLE is
    byte-for-byte the TAR oracle: a container walk must be
    format-invariant on identical content, and the differential now
    proves it for the central-directory format too."""
    import pandas as pd

    from ..sources import archives as A

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        aid = int(pdf["archive_id"].iloc[0])
        members = [
            (f"segment-{aid}/doc-{int(r['doc_id'])}.txt",
             str(r["text"]).encode("utf-8"))
            for _, r in pdf.iterrows()
        ]
        blob = A.encode_zip(members, compress=aid % 2 == 1)
        return pd.DataFrame(
            {"archive": [f"segment-{aid}.zip"], "content": [bytearray(blob)]}
        )

    # pinned group exchange — see _warc_archives (r10 opt)
    par = spark.sparkContext.defaultParallelism
    zips = (
        docs.withColumn("archive_id", F.floor(F.col("doc_id") / _ARCH_DOCS))
        .repartition(par, "archive_id")
        .groupBy("archive_id")
        .applyInPandas(build, "archive string, content binary")
    )
    members = A.split_zip_members(zips, content_col="content", path_col="archive")
    return _member_bucket_rollup(members)
