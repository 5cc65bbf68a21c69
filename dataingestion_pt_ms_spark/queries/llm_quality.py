"""Corpus-statistics quality signals (round-3 additions, SURVEY.md §2.B
"LLM-data-pipeline"): information-theoretic gates a pretraining curation
pipeline runs alongside the rule-based ones in operators/text.py.

- per-document token entropy: low-entropy docs are boilerplate/repetition
  (the signal behind "remove documents whose token distribution is too
  peaked"); complements the Gopher repetition ratios already in
  text_repetition_score;
- per-source KL divergence vs the corpus token distribution: sources whose
  unigram distribution diverges hardest from the pool (domain skew /
  contamination triage at the source level);
- per-source vocabulary growth (type-token ratio + hapax share): the
  Heaps-law summary that flags template farms (tiny vocabulary at huge
  token counts) and OCR noise (hapax explosion).

All are pure DataFrame aggregations over the exploded token table — the
shuffles are on (doc, token) / (source, token) / token, never on text
payloads, and every query carries a full DuckDB oracle built on the shared
DTOKS tokenizer twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import tokens
from ..session import materialize
from . import register
from ._ducktwins import DTOKS

ENTROPY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({DTOKS}) AS tok FROM documents
), counts AS (
  SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
), totals AS (
  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY doc_id
)
SELECT counts.doc_id AS doc_id,
       CAST(totals.n AS BIGINT) AS n_tokens,
       totals.n_distinct,
       round(-sum((c / n) * ln(c / n)), 6) AS token_entropy
FROM counts JOIN totals ON counts.doc_id = totals.doc_id
GROUP BY counts.doc_id, totals.n, totals.n_distinct
ORDER BY doc_id
"""


@register("text_token_entropy", oracle=ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each document's token distribution. Two
    narrow shuffles on the doc grain ((doc, tok) counts, then per-doc
    fold); text bytes never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))), 6
            ).alias("token_entropy")
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            "n_distinct",
            "token_entropy",
        )
        .orderBy("doc_id")
    )


KL_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({DTOKS}) AS tok FROM documents
), src_counts AS (
  SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok
), src_totals AS (
  SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM src_counts GROUP BY source
), corpus_counts AS (
  SELECT tok, CAST(sum(c) AS DOUBLE) AS cc FROM src_counts GROUP BY tok
), corpus_total AS (
  SELECT CAST(sum(cc) AS DOUBLE) AS m FROM corpus_counts
)
SELECT s.source AS source,
       CAST(t.n AS BIGINT) AS n_tokens,
       round(sum((s.c / t.n) * ln((s.c / t.n) / (g.cc / ct.m))), 6)
         AS kl_divergence
FROM src_counts s
JOIN src_totals t ON s.source = t.source
JOIN corpus_counts g ON s.tok = g.tok
CROSS JOIN corpus_total ct
GROUP BY s.source, t.n
ORDER BY source
"""


@register("docs_source_kl_divergence", oracle=KL_ORACLE)
def docs_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source token distribution || corpus token distribution) per
    source — the domain-skew triage stat. q > 0 always holds because the
    corpus distribution is the sum of the source distributions, so no
    smoothing is needed. The corpus counts reuse the (source, tok) partial
    aggregation (one extra token-keyed shuffle), and the corpus total is a
    broadcast one-row scalar."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    src_counts = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    src_counts = materialize(src_counts)  # feeds 3 branches
    src_totals = src_counts.groupBy("source").agg(
        F.sum("c").cast("double").alias("n")
    )
    corpus_counts = src_counts.groupBy("tok").agg(
        F.sum("c").cast("double").alias("cc")
    )
    corpus_total = corpus_counts.agg(F.sum("cc").alias("m"))
    p = F.col("c") / F.col("n")
    q = F.col("cc") / F.col("m")
    return (
        src_counts.join(F.broadcast(src_totals), "source")
        .join(corpus_counts, "tok")
        .crossJoin(F.broadcast(corpus_total))
        .groupBy("source", "n")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"))
        .select(
            "source", F.col("n").cast("long").alias("n_tokens"), "kl_divergence"
        )
        .orderBy("source")
    )


VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({DTOKS}) AS tok FROM documents
), counts AS (
  SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
         AS type_token_ratio,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
FROM counts
GROUP BY source
ORDER BY source
"""


@register("docs_vocab_growth", oracle=VOCAB_ORACLE)
def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary summary (Heaps-law style): token count, type
    count, type-token ratio, hapax legomena share. One (source, tok)
    partial-agg shuffle, then a source-grain fold."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6
            ).alias("type_token_ratio"),
            hapax.cast("long").alias("n_hapax"),
            F.round(
                hapax.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between source token distributions
# (round 4). The symmetric, bounded complement to docs_source_kl_divergence
# (KL is vs the pooled corpus, asymmetric, unbounded): JS is THE standard
# corpus-vs-corpus distance for mixture planning — e.g. Doremi-style domain
# weighting needs a symmetric matrix. Zero-smoothing decomposition keeps the
# join INNER (shared tokens only): tokens present in exactly one source
# contribute a closed-form ½·p·ln2 each, so
#   JS = ½[S_p + ln2·(1−P_sh)] + ½[S_q + ln2·(1−Q_sh)]
# with S_p = Σ_both p·ln(2p/(p+q)) and P_sh = Σ_both p. The token-keyed
# inner join shuffles only the (source, tok) partial aggregates — O(vocab)
# per source pair — and the 190-pair frame assembles via broadcast joins.
# Beyond-reference [NS] (SURVEY.md §2.B quality family).
# --------------------------------------------------------------------------
JS_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({DTOKS}) AS tok FROM documents
), counts AS (
  SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok
), totals AS (
  SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM counts GROUP BY source
), probs AS (
  SELECT counts.source, tok, counts.c / totals.n AS p
  FROM counts JOIN totals ON counts.source = totals.source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         sum(a.p * ln(2 * a.p / (a.p + b.p))) AS s_p,
         sum(b.p * ln(2 * b.p / (a.p + b.p))) AS s_q,
         sum(a.p) AS p_sh, sum(b.p) AS q_sh
  FROM probs a JOIN probs b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
), allpairs AS (
  SELECT ta.source AS source_a, tb.source AS source_b
  FROM totals ta JOIN totals tb ON ta.source < tb.source
), j AS (
  SELECT allpairs.source_a, allpairs.source_b,
         0.5 * (coalesce(s_p, 0) + ln(2) * (1 - coalesce(p_sh, 0)))
       + 0.5 * (coalesce(s_q, 0) + ln(2) * (1 - coalesce(q_sh, 0))) AS js
  FROM allpairs
  LEFT JOIN shared ON allpairs.source_a = shared.source_a
                  AND allpairs.source_b = shared.source_b
)
SELECT source_a, source_b,
       round(js, 6) AS js_divergence,
       round(sqrt(js / ln(2)), 6) AS js_distance
FROM j
ORDER BY source_a, source_b
"""


@register("docs_js_divergence_matrix", oracle=JS_ORACLE)
def docs_js_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source", "tok", (F.col("c") / F.col("n")).alias("p")
    )
    a = probs.select(
        F.col("source").alias("source_a"), "tok", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("source_b"), "tok", F.col("p").alias("pb")
    )
    shared = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
            ).alias("s_p"),
            F.sum(
                F.col("pb") * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("s_q"),
            F.sum("pa").alias("p_sh"),
            F.sum("pb").alias("q_sh"),
        )
    )
    ta = totals.select(F.col("source").alias("source_a"))
    tb = totals.select(F.col("source").alias("source_b"))
    allpairs = ta.crossJoin(tb).where(F.col("source_a") < F.col("source_b"))
    ln2 = float(__import__("math").log(2.0))
    js = (
        0.5
        * (
            F.coalesce(F.col("s_p"), F.lit(0.0))
            + F.lit(ln2) * (1 - F.coalesce(F.col("p_sh"), F.lit(0.0)))
        )
        + 0.5
        * (
            F.coalesce(F.col("s_q"), F.lit(0.0))
            + F.lit(ln2) * (1 - F.coalesce(F.col("q_sh"), F.lit(0.0)))
        )
    )
    return (
        allpairs.join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.round(js, 6).alias("js_divergence"),
            F.round(F.sqrt(js / F.lit(ln2)), 6).alias("js_distance"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Language-diversity indices per source (round 4): Shannon entropy,
# effective number of languages exp(H) (Hill number q=1), Simpson
# concentration Σp², Gini-Simpson 1−Σp². The corpus-composition dashboard
# stat: a pretraining mix owner reads "src7 is effectively 1.3 languages"
# directly. One grouped count → per-source normalize → one aggregation;
# entirely partial-aggregable, no shuffle beyond the (source, lang) keys.
# Beyond-reference [NS] (SURVEY.md §2.B quality family).
# --------------------------------------------------------------------------
DIVERSITY_ORACLE = """
WITH c AS (
  SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY source, lang
), t AS (
  SELECT source, sum(n) AS tot, CAST(count(*) AS BIGINT) AS n_langs FROM c GROUP BY source
)
SELECT c.source AS source, n_langs,
       round(-sum((n / tot) * ln(n / tot)), 6) AS shannon_entropy,
       round(exp(-sum((n / tot) * ln(n / tot))), 6) AS effective_langs,
       round(sum((n / tot) * (n / tot)), 6) AS simpson,
       round(1 - sum((n / tot) * (n / tot)), 6) AS gini_simpson
FROM c JOIN t ON c.source = t.source
GROUP BY c.source, n_langs
ORDER BY source
"""


@register("docs_language_diversity", oracle=DIVERSITY_ORACLE)
def docs_language_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("n") / F.col("tot")
    h = -F.sum(p * F.log(p))
    simpson = F.sum(p * p)
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source", "n_langs")
        .agg(
            F.round(h, 6).alias("shannon_entropy"),
            F.round(F.exp(h), 6).alias("effective_langs"),
            F.round(simpson, 6).alias("simpson"),
            F.round(1 - simpson, 6).alias("gini_simpson"),
        )
        .select(
            "source", "n_langs", "shannon_entropy", "effective_langs",
            "simpson", "gini_simpson",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Quantile normalization of quality scores across sources (round 4): each
# source's score distribution is mapped onto the POOLED distribution — doc
# at within-source rank fraction p receives the pooled value at position
# round(p·(N−1))+1. The cross-corpus calibration step before a single
# quality threshold is applied to heterogeneous sources (a 0.7 from a
# clean source and a 0.7 from a boilerplate farm mean different things;
# after rank-alignment they don't). Spark shape: the pooled order uses the
# distributed global_row_number operator (range partition → local rank →
# offset add — NO single-reducer global window); within-source ranks are
# ordinary partitioned windows; the value lookup is an index equi-join.
# (score, doc_id) gives both engines the same total order, and p·(N−1)
# is evaluated in the same IEEE order, so the oracle is exact.
# Beyond-reference [NS] (SURVEY.md §2.B curation family).
# --------------------------------------------------------------------------
from ..operators.text import EN_MARKERS as _ENM

_MARKERS = ", ".join(f"'{m}'" for m in _ENM)

QNORM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
         round(0.4 * (CAST(len(list_distinct({DTOKS})) AS DOUBLE)
                      / CAST(len({DTOKS}) AS DOUBLE))
             + 0.3 * least(CAST(len({DTOKS}) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (1 - CAST(len(list_filter({DTOKS},
                         t -> t IN ({_MARKERS}))) AS DOUBLE)
                          / CAST(len({DTOKS}) AS DOUBLE)), 6) AS score
  FROM documents
), gl AS (
  SELECT score, row_number() OVER (ORDER BY score, doc_id) AS gidx,
         count(*) OVER () AS n
  FROM scored
), src AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_s
  FROM scored
), target AS (
  SELECT doc_id, source, score,
         CAST(floor(
           (CASE WHEN n_s > 1
                 THEN CAST(r - 1 AS DOUBLE) / CAST(n_s - 1 AS DOUBLE)
                 ELSE 0.5 END)
           * CAST((SELECT any_value(n) FROM gl) - 1 AS DOUBLE) + 0.5
         ) AS BIGINT) + 1 AS tidx
  FROM src
)
SELECT target.doc_id AS doc_id, target.source AS source,
       target.score AS raw_score, gl.score AS norm_score
FROM target JOIN gl ON gl.gidx = target.tidx
ORDER BY doc_id
"""


@register("docs_quality_quantile_normalize", oracle=QNORM_ORACLE)
def docs_quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.ranking import global_row_number
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select(
        "doc_id", "source", F.col("quality_score").alias("score")
    )
    scored = materialize(scored)  # global + per-source branches
    gl = global_row_number(scored, ["score", "doc_id"], "gidx").select(
        F.col("score").alias("gscore"), "gidx"
    )
    n = scored.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ws = W.partitionBy("source").orderBy("score", "doc_id")
    src = scored.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n_s"),
    )
    p = F.when(
        F.col("n_s") > 1,
        (F.col("r") - 1).cast("double") / (F.col("n_s") - 1).cast("double"),
    ).otherwise(F.lit(0.5))
    target = src.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "score",
        (F.floor(p * (F.col("n") - 1) + 0.5).cast("long") + 1).alias("tidx"),
    )
    return (
        target.join(gl, target.tidx == gl.gidx)
        .select(
            "doc_id",
            "source",
            F.col("score").alias("raw_score"),
            F.col("gscore").alias("norm_score"),
        )
        .orderBy("doc_id")
    )
