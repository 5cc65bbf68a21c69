"""Text-analysis queries over ``documents`` (SURVEY.md §2.B "text analysis":
language-ID, quality scoring, token counting, fingerprinting, TF).

Implementations live in operators/text.py; the oracles mirror each
expression in DuckDB list/regex functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import text as T
from ..session import materialize
from . import register
from ._ducktwins import DSHINGLES, DTOKS

# DuckDB twin of functions.textfns.tokens
_DTOKS = DTOKS

TOKEN_STATS_ORACLE = f"""
SELECT doc_id, lang,
       CAST(len({_DTOKS}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_DTOKS})) AS BIGINT) AS n_distinct_tokens,
       round(list_sum(list_transform({_DTOKS}, t -> CAST(len(t) AS DOUBLE)))
             / CAST(len({_DTOKS}) AS DOUBLE), 6) AS avg_token_len
FROM documents
"""


@register("text_token_stats", oracle=TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return T.token_stats(docs).drop("text")


TF_ORACLE = f"""
SELECT token, count(*) AS tf
FROM (SELECT unnest({_DTOKS}) AS token FROM documents)
GROUP BY token
ORDER BY tf DESC, token
"""


@register("text_term_frequency", oracle=TF_ORACLE)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.term_frequency(docs).orderBy(F.col("tf").desc(), "token")


_MARKER_LIST = ", ".join(f"'{m}'" for m in T.EN_MARKERS)
LANGID_ORACLE = f"""
SELECT doc_id, lang,
       round(CAST(len(list_filter({_DTOKS}, t -> t IN ({_MARKER_LIST}))) AS DOUBLE)
             / CAST(len({_DTOKS}) AS DOUBLE), 6) AS en_marker_ratio,
       CASE WHEN CAST(len(list_filter({_DTOKS}, t -> t IN ({_MARKER_LIST}))) AS DOUBLE)
                 / CAST(len({_DTOKS}) AS DOUBLE) >= 0.05
            THEN 'en' ELSE 'unknown' END AS predicted_lang
FROM documents
"""


@register("text_language_id", oracle=LANGID_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = T.language_id(docs)
    # round-before-compare on both sides so the threshold test sees the same
    # value; recompute predicted from the rounded ratio
    return out.select(
        "doc_id",
        "lang",
        "en_marker_ratio",
        F.when(F.col("en_marker_ratio") >= 0.05, "en").otherwise("unknown").alias("predicted_lang"),
    )


QUALITY_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(len(list_distinct({_DTOKS})) AS DOUBLE) / CAST(len({_DTOKS}) AS DOUBLE) AS diversity,
         least(CAST(len({_DTOKS}) AS DOUBLE) / 100.0, 1.0) AS length_sat,
         1 - CAST(len(list_filter({_DTOKS}, t -> t IN ({_MARKER_LIST}))) AS DOUBLE)
             / CAST(len({_DTOKS}) AS DOUBLE) AS density
  FROM documents
)
SELECT doc_id, source,
       round(diversity, 6) AS diversity,
       round(length_sat, 6) AS length_sat,
       round(density, 6) AS density,
       round(0.4 * diversity + 0.3 * length_sat + 0.3 * density, 6) AS quality_score
FROM q
"""


@register("text_quality_score", oracle=QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return T.quality_score(docs).drop("text")


FP_ORACLE = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_DTOKS})), ' ')) AS fingerprint
FROM documents
"""


@register("text_fingerprint", oracle=FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.fingerprint(docs).drop("text")


TOKCOUNT_ORACLE = f"""
SELECT doc_id,
       CAST(len({_DTOKS}) AS BIGINT) AS ws_token_count,
       CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), t -> len(t) > 0)) AS BIGINT)
         AS regex_token_count,
       CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS bpe_token_estimate
FROM documents
"""


@register("text_token_counts", oracle=TOKCOUNT_ORACLE)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.token_count_estimates(docs).drop("text")


ROLLING_HASH_ORACLE = f"""
SELECT doc_id,
       list_reduce(
         list_transform({_DTOKS},
           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2147483647),
         (a, b) -> (a * 1000003 + b) % 2147483647) AS rolling_hash
FROM documents
"""


@register("text_rolling_hash_fingerprint", oracle=ROLLING_HASH_ORACLE)
def text_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint per document
    (operators/text.py:rolling_hash). Per-token hash is an md5 prefix, so the
    full fold has an exact DuckDB oracle (list_reduce of the same
    polynomial); equality and order-sensitivity properties are additionally
    pytest-verified."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.rolling_hash(docs).drop("text")


TFIDF_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_DTOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.token AS token, tf, df,
         round(tf * ln((1.0 + n_docs) / (1.0 + df)), 6) AS tf_idf
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf_idf DESC, token) AS rk
  FROM scored
)
SELECT doc_id, token, tf, df, tf_idf, rk FROM ranked WHERE rk <= 5
"""


@register("text_tf_idf_topk", oracle=TFIDF_ORACLE)
def text_tf_idf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic tokens per document by TF-IDF."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.tf_idf_topk(docs, "text", "doc_id", k=5)


CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DTOKS} AS toks FROM documents),
c AS (
  SELECT doc_id,
         CAST(i - 1 AS INTEGER) AS chunk_idx,
         array_to_string(toks[(i - 1) * 50 + 1 : (i - 1) * 50 + 50], ' ') AS chunk_text
  FROM t, unnest(generate_series(1, CAST(ceil(len(toks) / 50.0) AS BIGINT))) AS u(i)
)
SELECT doc_id, chunk_idx, chunk_text,
       CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT) AS n_chunk_tokens
FROM c
"""


@register("text_chunk_documents", oracle=CHUNK_ORACLE)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 50-token chunking — the packing step ahead of tokenization."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.chunk_documents(docs, "text", "doc_id", chunk_tokens=50)


QUANTILE_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE n_chars > (SELECT quantile_cont(n_chars, 0.75) FROM documents)
"""


@register("text_quantile_filter", oracle=QUANTILE_ORACLE)
def text_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs above the corpus p75 length — distribution-relative quality gate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return T.quantile_filter(docs, "n_chars", 0.75)


# approx_percentile returns a corpus ELEMENT at guaranteed rank error
# <= n/accuracy. With accuracy=10000 > corpus size at every test SF the
# picked element is rank-exact == DuckDB's quantile_disc, so the at-scale
# variant still gets a full value-level oracle here; at real corpus sizes
# the gate is approximate by design (that's the point — no global sort).
QUANTILE_APPROX_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE n_chars > (SELECT quantile_disc(n_chars, 0.75) FROM documents)
"""


@register("text_quantile_filter_approx", oracle=QUANTILE_APPROX_ORACLE)
def text_quantile_filter_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quality gate: one-pass mergeable quantile sketch instead
    of the exact sort-based percentile (operators/text.py:quantile_filter_approx)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return T.quantile_filter_approx(docs, "n_chars", 0.75)


# Line-level boilerplate dedup demo corpus: the fixture texts carry no
# newlines, so the query builds multi-line "pages" deterministically —
# 4 consecutive docs joined by \n between a shared header and footer line.
# The header/footer repeat once per page (the boilerplate); member texts
# repeat only if the underlying docs collide (they then get removed too,
# which IS the operator's semantics).
_PAGES_DUCK = """
  SELECT CAST(floor(doc_id / 4) AS BIGINT) AS page_id,
         'nav header menu' || chr(10)
         || string_agg(text, chr(10) ORDER BY doc_id)
         || chr(10) || 'footer copyright notice' AS text
  FROM documents GROUP BY 1
"""
LINE_DEDUP_ORACLE = f"""
WITH pages AS ({_PAGES_DUCK}),
split AS (
  SELECT page_id, string_split(text, chr(10)) AS ls FROM pages
), lines AS (
  SELECT page_id, i - 1 AS line_idx, ls[i] AS line
  FROM split, unnest(generate_series(1, len(ls))) AS u(i)
), counts AS (
  SELECT line, count(*) AS cnt FROM lines GROUP BY line
)
SELECT page_id,
       string_agg(CASE WHEN cnt <= 1 THEN line END, chr(10) ORDER BY line_idx)
         AS clean_text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM lines JOIN counts USING (line)
GROUP BY page_id
"""


@register("text_line_dedup_boilerplate", oracle=LINE_DEDUP_ORACLE)
def text_line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-line removal (CCNet/RefinedWeb boilerplate
    filter, operators/text.py:line_dedup) over deterministically
    constructed multi-line pages: every page shares a header and footer
    line; line_dedup strips exactly those (plus any lines from colliding
    member docs) and reassembles the rest in order."""
    docs = load_table(spark, sf_dir, "documents")
    pages = (
        docs.groupBy(F.floor(F.col("doc_id") / 4).cast("long").alias("page_id"))
        .agg(
            F.concat_ws(
                "\n",
                F.lit("nav header menu"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                        lambda s: s["text"],
                    ),
                    "\n",
                ),
                F.lit("footer copyright notice"),
            ).alias("text")
        )
    )
    return T.line_dedup(pages, "text", "page_id", max_count=1)


DUP_NGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS gram
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
), cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_duplicated,
       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6)
         AS dup_ngram_fraction
FROM cnt
GROUP BY doc_id
"""


@register("text_duplicate_ngram_fraction", oracle=DUP_NGRAM_ORACLE)
def text_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of each doc's bigram
    occurrences belonging to bigrams repeated within the doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.duplicate_ngram_fraction(docs, "text", "doc_id", n=2)


REDACT_ORACLE = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '\b[a-z]*[0-9][a-z0-9]*\b', '<NUM>', 'g'),
         '\b[a-z]{11,}\b', '<LONG>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '\b[a-z]*[0-9][a-z0-9]*\b'))
            + len(regexp_extract_all(text, '\b[a-z]{11,}\b')) AS BIGINT)
         AS n_redactions
FROM documents
"""


@register("text_redact_tokens", oracle=REDACT_ORACLE)
def text_redact_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: digit-bearing tokens -> <NUM>, overlong -> <LONG>."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.redact_tokens(docs).drop("text")


_DSHINGLES = DSHINGLES

CONTAMINATION_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5(unnest({_DSHINGLES})) AS h FROM documents
), bench AS (
  SELECT DISTINCT h FROM h WHERE doc_id < 20
), agg AS (
  SELECT corpus.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(count(bench.h) AS BIGINT) AS n_contaminated
  FROM (SELECT * FROM h WHERE doc_id >= 20) corpus
  LEFT JOIN bench ON corpus.h = bench.h
  GROUP BY corpus.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(agg.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(agg.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CASE WHEN coalesce(agg.n_shingles, 0) > 0
            THEN round(agg.n_contaminated / CAST(agg.n_shingles AS DOUBLE), 6)
       END AS contamination_ratio
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
WHERE d.doc_id >= 20
"""


@register("text_contamination_check", oracle=CONTAMINATION_ORACLE)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle overlap of each corpus doc (doc_id >= 20) against the
    'benchmark' set (doc_id < 20) — eval-decontamination."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.contamination_check(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20)
    )


REPETITION_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_DTOKS}) AS token FROM documents),
cnt AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token),
top AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, token AS top_token,
         CAST(cnt AS BIGINT) AS top_count,
         round(cnt / CAST(n_tokens AS DOUBLE), 6) AS repetition_ratio
  FROM (
    SELECT doc_id, token, cnt,
           sum(cnt) OVER (PARTITION BY doc_id) AS n_tokens,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rn
    FROM cnt)
  WHERE rn = 1
)
SELECT * FROM top
"""


@register("text_repetition_score", oracle=REPETITION_ORACLE)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-token share per doc — boilerplate/degenerate-text filter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.repetition_score(docs)


PACK_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_DTOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, lang,
         CAST(i - 1 AS INTEGER) AS chunk_idx,
         array_to_string(toks[(i - 1) * 50 + 1 : (i - 1) * 50 + 50], ' ') AS chunk_text
  FROM t, unnest(generate_series(1, CAST(ceil(len(toks) / 50.0) AS BIGINT))) AS u(i)
), n AS (
  SELECT doc_id, lang, chunk_idx,
         CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT) AS n_chunk_tokens
  FROM c
)
SELECT lang, doc_id, chunk_idx, n_chunk_tokens,
       CAST(coalesce(sum(n_chunk_tokens) OVER w, 0) AS BIGINT) AS token_offset,
       CAST(floor(coalesce(sum(n_chunk_tokens) OVER w, 0) / 512.0) AS BIGINT) AS pack_id
FROM n
WINDOW w AS (PARTITION BY lang ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


@register("text_pack_sequences", oracle=PACK_ORACLE)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50-token chunks packed into 512-token training context windows,
    one token stream per language shard."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    chunks = T.chunk_documents(docs, "text", "doc_id", 50, passthrough=("lang",))
    return T.pack_sequences(chunks).select(
        "lang", "doc_id", "chunk_idx", "n_chunk_tokens", "token_offset", "pack_id"
    )


MIX_ORACLE = f"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len({_DTOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_langs FROM per
)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS actual_share,
       round((1.0 / n_langs) / (n_tokens / CAST(total_tokens AS DOUBLE)), 6)
         AS sampling_weight
FROM per, tot
"""


@register("sample_language_mix_weights", oracle=MIX_ORACLE)
def sample_language_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token share and the resampling weight that flattens the
    mix to uniform — the data-mixing calculation before weighted sampling."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    from ..functions.textfns import tokens as _toks

    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_toks(F.col("text")))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("long").alias("_tt"),
        F.count(F.lit(1)).alias("_nl"),
    )
    share = F.col("n_tokens") / F.col("_tt").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("actual_share"),
        F.round((F.lit(1.0) / F.col("_nl")) / share, 6).alias("sampling_weight"),
    )


PROFILE_COLS = ("doc_id", "lang", "source", "n_chars")
PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM documents"""
    for c in PROFILE_COLS
)


@register("profile_documents_columns", oracle=PROFILE_ORACLE)
def profile_documents_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-profiling summary (nulls, cardinality, min/max) — the
    corpus health report. One aggregate pass computes every column's stats;
    at 100 TB the exact count_distinct becomes approx_count_distinct (the
    HLL variant is agg_approx_count_distinct).
    String-typed min/max on casts in BOTH engines so ordering is
    lexicographic on each side."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.count_distinct(F.col(c)).alias(f"{c}_nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}_min"),
            F.max(F.col(c).cast("string")).alias(f"{c}_max"),
        ]
    one = docs.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col("n_rows"),
                        (F.col("n_rows") - F.col(f"{c}_nn")).alias("n_nulls"),
                        F.col(f"{c}_nd").alias("n_distinct"),
                        F.col(f"{c}_min").alias("min_value"),
                        F.col(f"{c}_max").alias("max_value"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")


@register("sample_stratified_by_lang", oracle=None)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-stratum Bernoulli sampling (lang-balanced downsampling —
    the data-mixing step of corpus curation). Engine-specific RNG ->
    rows-only; per-stratum bounds asserted in tests."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    fractions = {"en": 0.5, "es": 0.25}
    return docs.sampleBy("lang", fractions, seed=42)


# --------------------------------------------------------------------------
# End-to-end pretraining-corpus pipeline: language gate -> quality gate ->
# exact dedup -> 50-token chunking -> 512-token sequence packing (per
# source shard) -> per-pack summary. Every stage is an already-oracled
# operator; the composition proves they chain without a driver-side seam.
# Scale shape: three exchanges (dedup groupBy on the text hash, pack window
# on the shard key, final ordered rollup); the keep-list comes back as a
# broadcast semi-join, and the gates + chunker fuse into the scan stage.
# --------------------------------------------------------------------------
PIPELINE_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, source, text FROM documents
  WHERE round(CAST(len(list_filter({_DTOKS}, t -> t IN ({_MARKER_LIST}))) AS DOUBLE)
              / CAST(len({_DTOKS}) AS DOUBLE), 6) >= 0.05
    AND round(0.4 * (CAST(len(list_distinct({_DTOKS})) AS DOUBLE)
                     / CAST(len({_DTOKS}) AS DOUBLE))
            + 0.3 * least(CAST(len({_DTOKS}) AS DOUBLE) / 100.0, 1.0)
            + 0.3 * (1 - CAST(len(list_filter({_DTOKS}, t -> t IN ({_MARKER_LIST}))) AS DOUBLE)
                         / CAST(len({_DTOKS}) AS DOUBLE)), 6) >= 0.6
), dedup AS (
  SELECT doc_id, source, text FROM gated
  WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY text)
), t AS (
  SELECT doc_id, source, {_DTOKS} AS toks FROM dedup
), c AS (
  SELECT doc_id, source, CAST(i - 1 AS INTEGER) AS chunk_idx,
         CAST(len(string_split_regex(
           array_to_string(toks[(i - 1) * 50 + 1 : (i - 1) * 50 + 50], ' '),
           '\\s+')) AS BIGINT) AS n_chunk_tokens
  FROM t, unnest(generate_series(1, CAST(ceil(len(toks) / 50.0) AS BIGINT))) AS u(i)
), p AS (
  SELECT source, doc_id, chunk_idx, n_chunk_tokens,
         CAST(floor(coalesce(sum(n_chunk_tokens) OVER w, 0) / 512.0) AS BIGINT) AS pack_id
  FROM c
  WINDOW w AS (PARTITION BY source ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT source, pack_id,
       count(*) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS pack_tokens,
       count(DISTINCT doc_id) AS n_docs
FROM p
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


@register("pipeline_pretrain_corpus", oracle=PIPELINE_ORACLE)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-data composition: every curation stage chained as one
    lazy plan (language gate -> quality gate -> exact dedup -> chunk -> pack
    -> per-pack rollup), Catalyst fusing the gates and chunker into the scan
    stage."""
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    gated = (
        T.quality_score(T.language_id(docs))
        .filter((F.col("en_marker_ratio") >= 0.05) & (F.col("quality_score") >= 0.6))
        .select("doc_id", "source", "text")
    )
    keep = D.exact_dedup(gated, "text", "doc_id").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    deduped = gated.join(keep, "doc_id", "left_semi")
    chunks = T.chunk_documents(deduped, "text", "doc_id", 50, passthrough=("source",))
    packed = T.pack_sequences(chunks, group_col="source")
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("pack_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("source", "pack_id")
    )


# --------------------------------------------------------------------------
# Unigram-LM fluency scoring (operators/text.py:unigram_logprob): the
# CCNet-style perplexity gate with a corpus-trained unigram model. The
# oracle repeats the train-then-score pipeline in SQL; nll/ppl are avg
# aggregates so they carry the standard rounding (6/4 dp).
# --------------------------------------------------------------------------
UNIGRAM_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
), cnt AS (
  SELECT token, count(*) AS cnt FROM tk GROUP BY token
), sc AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total, CAST(count(*) AS DOUBLE) AS vocab
  FROM cnt
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(-avg(ln((cnt + 1.0) / (n_total + vocab))), 6) AS nll,
       round(exp(-avg(ln((cnt + 1.0) / (n_total + vocab)))), 4) AS ppl
FROM tk JOIN cnt USING (token) CROSS JOIN sc
GROUP BY doc_id
ORDER BY doc_id
"""


@register("text_unigram_logprob", oracle=UNIGRAM_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram-LM negative-log-likelihood per document —
    the relational core of the CCNet perplexity quality filter."""
    docs = load_table(spark, sf_dir, "documents")
    return T.unigram_logprob(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Cross-document repeated spans (operators/text.py:cross_doc_span_stats):
# the exact-substring-dedup statistic — per document, the fraction of its
# 5-token spans that also occur in at least one OTHER document.
# --------------------------------------------------------------------------
CROSS_SPANS_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 5
                THEN list_transform(generate_series(1, len(t) - 4),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
                ELSE [NULL] END) AS gram
  FROM tk
), dfreq AS (
  SELECT gram, count(DISTINCT doc_id) AS df_docs
  FROM g WHERE gram IS NOT NULL GROUP BY gram
)
SELECT g.doc_id,
       count(g.gram) AS n_spans,
       count(CASE WHEN dfreq.df_docs > 1 THEN 1 END) AS n_repeated,
       CASE WHEN count(g.gram) > 0
            THEN round(count(CASE WHEN dfreq.df_docs > 1 THEN 1 END)
                       / CAST(count(g.gram) AS DOUBLE), 6) END AS repeated_fraction
FROM g LEFT JOIN dfreq USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@register("text_cross_doc_spans", oracle=CROSS_SPANS_ORACLE)
def text_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-span fraction vs the rest of the corpus
    (exact-substring dedup statistic, 5-token spans)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.cross_doc_span_stats(docs, n=5).orderBy("doc_id")


# --------------------------------------------------------------------------
# Inverted-index build: token → (document frequency, total term frequency,
# capped posting list). The search-index construction pass over a corpus —
# one shuffle on token after a map-side-combined (token, doc) count; the
# posting list is capped so hot tokens ("the") can't materialize a
# corpus-sized row (the same degenerate-bucket discipline as LSH banding —
# a real index shards hot postings instead of truncating, but the capped
# row is what bounds THIS query's output).
# --------------------------------------------------------------------------
INVERTED_ORACLE = f"""
WITH td AS (
  SELECT token, doc_id, count(*) AS cnt
  FROM (SELECT doc_id, unnest({_DTOKS}) AS token FROM documents)
  GROUP BY token, doc_id
)
SELECT token,
       count(*) AS df_docs,
       CAST(sum(cnt) AS BIGINT) AS tf_total,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 15), ',') AS posting_head
FROM td
GROUP BY token
ORDER BY token
"""


@register("text_inverted_index", oracle=INVERTED_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.textfns import tokens

    td = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        td.groupBy("token")
        .agg(
            F.count("*").alias("df_docs"),
            F.sum("cnt").alias("tf_total"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 15),
                ",",
            ).alias("posting_head"),
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# Temperature-scaled sampling weights (the T5/mT5 alpha-sampling rule):
# w_l ∝ p_l^alpha with alpha < 1 flattening the language distribution —
# between proportional (alpha=1) and uniform (alpha=0), the standard knob
# for multilingual pretraining mixes. Two-level aggregate: per-lang token
# shares, then the normalizing sum ships back as a broadcast scalar.
# --------------------------------------------------------------------------
_MIX_ALPHA = 0.3

TEMP_MIX_ORACLE = f"""
WITH per AS (
  SELECT lang, CAST(sum(len({_DTOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per
), raised AS (
  SELECT lang, n_tokens,
         pow(n_tokens / CAST(tot.total_tokens AS DOUBLE), {_MIX_ALPHA}) AS raw_w
  FROM per, tot
), z AS (
  SELECT sum(raw_w) AS norm FROM raised
)
SELECT lang, n_tokens,
       round(raw_w / z.norm, 6) AS mix_weight
FROM raised, z
ORDER BY lang
"""


@register("sample_temperature_mix_weights", oracle=TEMP_MIX_ORACLE)
def sample_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.textfns import tokens

    per = docs.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    raised = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("total_tokens"), F.lit(_MIX_ALPHA)).alias(
            "raw_w"
        ),
    )
    z = raised.agg(F.sum("raw_w").alias("norm"))
    return (
        raised.crossJoin(F.broadcast(z))
        .select("lang", "n_tokens", F.round(F.col("raw_w") / F.col("norm"), 6).alias("mix_weight"))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# BPE-style adjacent-pair statistics: the inner loop of byte-pair-encoding
# tokenizer training is "count every adjacent symbol pair across the
# corpus, weighted by word frequency" (Sennrich et al. 2016). At the
# character stage that is: collapse the corpus to its distinct-word
# frequency table first (the classic BPE trick — pair work scales with
# VOCABULARY size, not corpus size), then explode each distinct word into
# its len-1 adjacent character pairs and weight by the word count. Both
# stages are map-side-combinable groupBys; no Python in the loop.
# --------------------------------------------------------------------------
_BPE_TOPK = 50

BPE_ORACLE = f"""
WITH words AS (
  SELECT word, count(*) AS c FROM (
    SELECT unnest({DTOKS}) AS word FROM documents
  ) WHERE len(word) > 0 GROUP BY word
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(word) - 1),
                i -> substr(word, CAST(i AS INTEGER), 2))) AS pair, c
  FROM words WHERE len(word) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT {_BPE_TOPK}
"""


@register("text_bpe_pair_counts", oracle=BPE_ORACLE)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            "c",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            "word",
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "c")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(_BPE_TOPK)
    )


# --------------------------------------------------------------------------
# Vocabulary encode: map each document's leading tokens to integer ids from
# a corpus-derived top-K vocabulary (id = dense rank by count desc, token
# asc; out-of-vocabulary -> 0) — the "apply the tokenizer" step that turns
# curated text into model-ready id sequences. Scale shape: the vocabulary
# is a top-K aggregate (map-side combinable, K rows) that BROADCASTS to
# the encode join, positions explode only the first _ENC_LEN tokens per
# doc, and the id sequence reassembles with one per-doc groupBy — no
# Python, no global window (vocab ranking is over K+ rows via a window on
# a single small partition of the count table's top slice).
# --------------------------------------------------------------------------
_VOCAB_K = 1000
_ENC_LEN = 30

ENCODE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM (
    SELECT doc_id,
           unnest({DTOKS}) AS tok,
           unnest(generate_series(1, len({DTOKS}))) AS pos
    FROM documents
  ) t(doc_id, tok, pos)
  WHERE t.pos <= {_ENC_LEN}
), counts AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({DTOKS}) AS tok FROM documents
  ) GROUP BY tok
), vocab AS (
  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS id
  FROM counts ORDER BY c DESC, tok LIMIT {_VOCAB_K}
)
SELECT t.doc_id,
       string_agg(CAST(coalesce(v.id, 0) AS VARCHAR), ',' ORDER BY t.pos)
         AS token_ids
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@register("text_encode_token_ids", oracle=ENCODE_ORACLE)
def text_encode_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
    ).filter(F.col("pos0") < _ENC_LEN)
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # rank only the top-K slice: distributed top-K first (TakeOrdered),
    # then a window over the K survivors — never a global window over the
    # full vocabulary
    topk = counts.orderBy(F.desc("c"), "tok").limit(_VOCAB_K)
    vocab = topk.withColumn(
        "id",
        F.row_number().over(W.partitionBy(F.lit(1)).orderBy(F.desc("c"), "tok")),
    ).select("tok", "id")
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.coalesce("id", F.lit(0)).alias("id"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
                ",",
            ).alias("token_ids")
        )
        .orderBy("doc_id")
    )


PMI_COOC_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DTOKS} AS toks FROM documents),
pos AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
pr AS (SELECT a.tok AS tok_a, b.tok AS tok_b
       FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 3),
pc AS (SELECT tok_a, tok_b, count(*) AS pair_count FROM pr GROUP BY 1, 2),
m  AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM pos GROUP BY 1),
tot AS (SELECT CAST((SELECT count(*) FROM pr) AS DOUBLE) AS cp,
               CAST((SELECT count(*) FROM pos) AS DOUBLE) AS ct)
SELECT pc.tok_a, pc.tok_b, pair_count,
       round(ln((CAST(pair_count AS DOUBLE) / cp) / ((ma.c / ct) * (mb.c / ct))), 6) AS pmi
FROM pc JOIN m ma ON ma.tok = pc.tok_a JOIN m mb ON mb.tok = pc.tok_b CROSS JOIN tot
WHERE pair_count >= 3
ORDER BY pair_count DESC, tok_a, tok_b
LIMIT 300
"""


@register("text_pmi_cooccurrence", oracle=PMI_COOC_ORACLE)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (k=3) token co-occurrence counts + PMI scores — the
    word2vec / collocation-mining statistic. Pair generation is a map-side
    array lambda (no positional self-join; fan-out bounded by the window),
    then two wordcount groupBys and broadcast marginal join-backs. The
    oracle recomputes the identical pair space positionally in DuckDB.
    Beyond-reference [NS] (SURVEY.md §2.B text analysis)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.windowed_cooccurrence(docs, "text", window=3, min_count=3, top_n=300)


# --------------------------------------------------------------------------
# CCNet-style head/middle/tail split: bucket every document into perplexity
# tertiles of the corpus-trained unigram LM (CCNet keeps "head", optionally
# "middle", drops "tail"). The per-doc NLL is the already-oracled unigram
# pipeline; the two tertile cuts are ONE exact-percentile aggregate
# broadcast back (approx_percentile is the stated 100 TB swap, as in the
# quantile-gate family). Thresholds compare on the 6-dp-rounded NLL both
# engines share, so the cut is engine-stable. Beyond-reference [NS].
# --------------------------------------------------------------------------
CCNET_BUCKETS_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
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
  SELECT quantile_cont(nll, 1.0/3) AS t1, quantile_cont(nll, 2.0/3) AS t2 FROM pp
)
SELECT doc_id, nll,
       CASE WHEN nll <= t1 THEN 'head'
            WHEN nll <= t2 THEN 'middle'
            ELSE 'tail' END AS ccnet_bucket
FROM pp CROSS JOIN th
ORDER BY doc_id
"""


@register("text_ccnet_ppl_buckets", oracle=CCNET_BUCKETS_ORACLE)
def text_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the per-doc NLL table feeds the tertile aggregate AND the final
    # bucket projection; exchange reuse runs the unigram-LM pipeline once
    pp = T.unigram_logprob(docs).select("doc_id", "nll")
    th = pp.agg(
        F.percentile("nll", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("nll", F.lit(2.0 / 3)).alias("t2"),
    )
    return (
        pp.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            "nll",
            F.when(F.col("nll") <= F.col("t1"), "head")
            .when(F.col("nll") <= F.col("t2"), "middle")
            .otherwise("tail")
            .alias("ccnet_bucket"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PII scan + redaction (regex family): detect and mask email addresses and
# IPv4 literals, reporting per-row match counts and the redacted text's
# fingerprint. The fixture corpus contains no PII, so the scanned column is
# BUILT deterministically from customer fields in BOTH engines (same
# concat), making the scan/redact machinery testable with non-degenerate
# output — swap the synthetic column for a real text column in production.
# Pure projection + regexp (RE2-safe patterns that parse identically in
# Java regex and RE2); pushes entirely into one codegen stage over the
# scan. Beyond-reference [NS] (SURVEY.md §2.B text analysis).
# --------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9.]+@[a-z]+\\.com"
_PII_IPV4 = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

PII_REDACT_ORACLE = f"""
WITH synth AS (
  SELECT c_custkey,
         'contact ' || lower(replace(c_name, ' ', '.')) || '@example.com'
         || ' from 10.' || CAST(c_custkey % 256 AS VARCHAR)
         || '.0.' || CAST(c_custkey % 100 AS VARCHAR)
         || ' segment ' || c_mktsegment AS contact_text
  FROM customer
)
SELECT c_custkey,
       CAST(len(regexp_extract_all(contact_text, '{_PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(contact_text, '{_PII_IPV4}')) AS BIGINT)
         AS n_ips,
       md5(regexp_replace(regexp_replace(contact_text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_IPV4}', '<IP>', 'g')) AS redacted_md5
FROM synth
ORDER BY c_custkey
"""


@register("text_pii_redact_scan", oracle=PII_REDACT_ORACLE)
def text_pii_redact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.lit("contact "),
        F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
        F.lit("@example.com from 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0."),
        (F.col("c_custkey") % 100).cast("string"),
        F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(contact, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
    )
    return cust.select(
        "c_custkey",
        F.regexp_count(contact, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(contact, F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# Feature hashing (the "hashing trick"): map every token into a fixed
# d=64-bucket space via md5 and emit each document's sparse (bucket, count)
# vector — the stateless, vocabulary-free text vectorizer (no fitted vocab
# to ship; collisions are the accepted trade). One explode + one
# (doc, bucket) groupBy; output size ≤ 64 per doc. md5 bucketing is the
# repo's shared engine-stable hash discipline. Beyond-reference [NS].
# --------------------------------------------------------------------------
_FH_D = 64

FEATURE_HASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % {_FH_D} AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM tok
GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
"""


@register("text_feature_hashing", oracle=FEATURE_HASH_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text import tokens as _toks

    return (
        docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("token"))
        .select(
            "doc_id",
            F.pmod(
                F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long"),
                F.lit(_FH_D),
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency fit (round 4): per source, the least-squares slope of
# ln(freq) vs ln(rank) over the token frequency table — natural corpora sit
# near −1; a synthetic/templated source shows up as a flat or kinked
# curve, so the slope is a one-number generator-vs-natural screen. Shape:
# one wordcount shuffle per (source, token), a per-source rank window over
# the (small) distinct-token table, one regr_slope rollup. regr_slope is
# built-in in BOTH engines. Beyond-reference [NS] (text-analysis family).
# --------------------------------------------------------------------------
ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({DTOKS}) AS token FROM documents
), freq AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, token
), ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS r
  FROM freq
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens_distinct,
       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
         AS zipf_slope
FROM ranked GROUP BY source ORDER BY source
"""


@register("text_zipf_slope", oracle=ZIPF_ORACLE)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy("source").orderBy(F.col("c").desc(), "token")
    ranked = freq.withColumn("r", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_distinct"),
            F.round(
                F.regr_slope(
                    F.log(F.col("c").cast("double")),
                    F.log(F.col("r").cast("double")),
                ),
                6,
            ).alias("zipf_slope"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Overlapping chunk layout (round 4): RAG-style sliding chunks — window 64
# tokens, stride 32, so every token belongs to exactly two chunks (except
# the first 32). Membership is computed WITHOUT materializing chunk
# arrays: posexplode → a 2-row overlap explode → (doc, chunk) rollup; at
# 100 TB the stream is (doc, pos, token) rows and two map-side integer
# ops, never per-doc array building. Beyond-reference [NS] (chunking
# family; non-overlapping twin = text_chunk_documents).
# --------------------------------------------------------------------------
_OVL_STRIDE = 32

OVERLAP_CHUNK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos
  FROM (SELECT doc_id, {DTOKS} AS toks FROM documents)
), member AS (
  SELECT doc_id, pos,
         (pos // {_OVL_STRIDE}) - j.j AS chunk_id
  FROM tok, (SELECT unnest([0, 1]) AS j) j
  WHERE (pos // {_OVL_STRIDE}) - j.j >= 0
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_chunk_tokens,
       CAST(min(pos) AS BIGINT) AS start_pos,
       CAST(max(pos) AS BIGINT) AS end_pos
FROM member
GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
"""


@register("text_chunk_overlapping", oracle=OVERLAP_CHUNK_ORACLE)
def text_chunk_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    member = (
        tok.select(
            "doc_id",
            "pos",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("j"),
        )
        .select(
            "doc_id",
            "pos",
            (F.floor(F.col("pos") / _OVL_STRIDE) - F.col("j")).alias("chunk_id"),
        )
        .where(F.col("chunk_id") >= 0)
    )
    return (
        member.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunk_tokens"),
            F.min("pos").cast("long").alias("start_pos"),
            F.max("pos").cast("long").alias("end_pos"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "n_chunk_tokens",
            "start_pos",
            "end_pos",
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# N-gram novelty curve (round 4): per document (in doc_id ingestion
# order), the fraction of its distinct trigrams whose FIRST corpus
# occurrence is this document — the "how much new content does each doc
# contribute" curation signal (dedup catches copies; novelty ranks the
# long tail of partial overlap). Shape: codegen trigram stream → global
# (shingle → min doc) aggregate → join back per doc — two shuffles, both
# on bounded keys. Beyond-reference [NS] (curation family).
# --------------------------------------------------------------------------
NOVELTY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t,
         len(toks) AS n
  FROM (SELECT doc_id, {DTOKS} AS toks FROM documents)
), tri AS (
  SELECT DISTINCT a.doc_id,
         a.t || ' ' || b.t || ' ' || c.t AS sh
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
), first_seen AS (
  SELECT sh, min(doc_id) AS first_doc FROM tri GROUP BY sh
)
SELECT tri.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN first_seen.first_doc = tri.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN first_seen.first_doc = tri.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM tri JOIN first_seen ON first_seen.sh = tri.sh
GROUP BY tri.doc_id
ORDER BY tri.doc_id
"""


@register("text_ngram_novelty", oracle=NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    wd = W.partitionBy("doc_id").orderBy("_pos")
    l1, l2 = F.lead("_t", 1).over(wd), F.lead("_t", 2).over(wd)
    tri = materialize(
        docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("_pos", "_t"))
        .select(
            "doc_id",
            F.concat_ws(" ", "_t", l1, l2).alias("sh"),
            l2.alias("_g"),
        )
        .where(F.col("_g").isNotNull())
        .drop("_g")
        .distinct()
    )  # first-seen + join-back branches
    first_seen = tri.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        tri.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)).cast("double"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# BM25 retrieval (round 4): the standard sparse-retrieval scorer — for a
# fixed query-term set, score(d) = Σ_t idf(t) · tf·(k1+1) /
# (tf + k1·(1−b+b·len/avgdl)) with k1=1.2, b=0.75 and the Robertson
# idf ln(1 + (N−df+0.5)/(df+0.5)). All inputs are exact integers (tf, df,
# doclen, N) plus one broadcast avgdl scalar, so both engines compute the
# identical formula; ranking breaks ties on (rounded score, doc_id).
# Pairs with sim_rrf_hybrid_fusion (which fuses dense + keyword-count
# retrievers — this is the principled sparse side). Beyond-reference [NS].
# --------------------------------------------------------------------------
_BM25_TERMS = ("data", "query", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({DTOKS}) AS t FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         (SELECT avg(dlen) FROM dl) AS avgdl
), tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE t IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, t
), df AS (
  SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t
), scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                + {_BM25_B} * dl.dlen / stats.avgdl))) AS s
  FROM tf
  JOIN df ON df.t = tf.t
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS bm25
FROM scored
ORDER BY round(s, 6) DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@register("text_bm25_topk", oracle=BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dlen"))
    dl = materialize(dl)  # avgdl + join-back
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    avgdl = dl.agg(F.avg("dlen").alias("avgdl"))
    stats = F.broadcast(n_docs.crossJoin(avgdl))
    tf = (
        tok.where(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    tf = materialize(tf)  # df + scoring branches
    df = tf.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (_BM25_K1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(df), "t")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(_BM25_TOPK)


# --------------------------------------------------------------------------
# Positional phrase search (round 4): exact-phrase retrieval ("data query")
# from a POSITIONAL inverted index — postings carry token positions, and a
# phrase hit is a position-adjacency join (pos+1 = pos) between the two
# terms' postings, never a string rescan. The IR-native companion of
# text_inverted_index (doc-level postings). At 100 TB the join touches
# only the two terms' postings — term-selective, not corpus-sized.
# --------------------------------------------------------------------------
_PHRASE = ("data", "query")

PHRASE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
  FROM (SELECT doc_id, {DTOKS} AS toks FROM documents)
), a AS (SELECT doc_id, pos FROM tok WHERE t = '{_PHRASE[0]}'),
b AS (SELECT doc_id, pos FROM tok WHERE t = '{_PHRASE[1]}')
SELECT a.doc_id,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(a.pos) AS BIGINT) AS first_pos
FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id
ORDER BY a.doc_id
"""


@register("text_phrase_search", oracle=PHRASE_ORACLE)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "t")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")
    tok = materialize(tok)  # both term postings
    a = tok.where(F.col("t") == _PHRASE[0]).select("doc_id", "pos")
    b = tok.where(F.col("t") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Character-trigram language ID (round 4, TextCat-style): build per-lang
# char-trigram frequency profiles from the even-id training half, classify
# the odd-id half by cosine between each doc's trigram counts and the
# profiles, report the per-lang confusion summary. The char-trigram stream
# is codegen (explode of an index sequence + substring — no per-char HOF);
# scoring is one trigram-keyed join + per-doc argmax over a handful of
# langs (broadcast profiles). The marker-word heuristic
# (text_language_id) is the cheap cousin; this is the real classical
# method. (On this synthetic fixture all langs share one vocabulary, so
# the measured self-rate ~ chance — the pipeline, not the fixture, is
# what the row attests.) Beyond-reference [NS].
# --------------------------------------------------------------------------
TRIGRAM_LANGID_ORACLE = """
WITH tri AS (
  SELECT doc_id, lang, substr(lower(text), i, 3) AS g
  FROM documents, unnest(range(1, length(text) - 1)) AS u(i)
  WHERE length(text) >= 3
), train AS (
  SELECT lang, g, CAST(count(*) AS DOUBLE) AS c
  FROM tri WHERE doc_id % 2 = 0 GROUP BY lang, g
), tnorm AS (
  SELECT lang, sqrt(sum(c * c)) AS nrm FROM train GROUP BY lang
), doc AS (
  SELECT doc_id, lang AS true_lang, g, CAST(count(*) AS DOUBLE) AS c
  FROM tri WHERE doc_id % 2 = 1 GROUP BY doc_id, lang, g
), dnorm AS (
  SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM doc GROUP BY doc_id
), scored AS (
  SELECT doc.doc_id, doc.true_lang, train.lang AS pred_lang,
         round(sum(doc.c * train.c) / (max(dnorm.nrm) * max(tnorm.nrm)), 6)
           AS cos_sim
  FROM doc
  JOIN train ON train.g = doc.g
  JOIN dnorm ON dnorm.doc_id = doc.doc_id
  JOIN tnorm ON tnorm.lang = train.lang
  GROUP BY doc.doc_id, doc.true_lang, train.lang
), best AS (
  SELECT doc_id, true_lang, pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY cos_sim DESC, pred_lang) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT true_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS self_rate
FROM best GROUP BY true_lang ORDER BY true_lang
"""


@register("text_trigram_langid", oracle=TRIGRAM_LANGID_ORACLE)
def text_trigram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tri = (
        # r10 opt §1a: the per-char explode + substr runs ~len(text) rows
        # per doc inside the scan stage — a single split at bench SFs — and
        # the checkpoint then freezes that 1-partition layout for every
        # branch. Spread the doc rows first; every downstream aggregate is
        # a count or a sum of integer-valued doubles (exact), so
        # partitioning cannot move a value.
        docs.repartition(spark.sparkContext.defaultParallelism)
        .where(F.length("text") >= 3)
        .select(
            "doc_id",
            "lang",
            F.lower("text").alias("lt"),
            F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
        )
        .select("doc_id", "lang", F.expr("substr(lt, i, 3)").alias("g"))
    )
    tri = materialize(tri)  # train + test branches
    train = (
        tri.where(F.col("doc_id") % 2 == 0)
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).cast("double").alias("tc"))
    )
    tnorm = train.groupBy("lang").agg(F.sqrt(F.sum(F.col("tc") * F.col("tc"))).alias("tn"))
    doc = (
        tri.where(F.col("doc_id") % 2 == 1)
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "g")
        .agg(F.count(F.lit(1)).cast("double").alias("dc"))
    )
    doc = materialize(doc)
    dnorm = doc.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("dc") * F.col("dc"))).alias("dn"))
    # profiles are (langs × distinct trigrams) — bounded by alphabet³, not
    # corpus size — so broadcast them: the doc-trigram frame (the big side)
    # then never shuffles on g
    scored = (
        doc.join(F.broadcast(train.withColumnRenamed("lang", "pred_lang")), "g")
        .join(F.broadcast(dnorm), "doc_id")
        .join(F.broadcast(tnorm.withColumnRenamed("lang", "pred_lang")), "pred_lang")
        .groupBy("doc_id", "true_lang", "pred_lang")
        .agg(
            F.round(
                F.sum(F.col("dc") * F.col("tc")) / (F.max("dn") * F.max("tn")), 6
            ).alias("cos_sim")
        )
    )
    wq = W.partitionBy("doc_id").orderBy(F.col("cos_sim").desc(), "pred_lang")
    best = scored.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") == 1)
    hit = F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
    return (
        best.groupBy("true_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hit).alias("n_correct"),
            F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6).alias(
                "self_rate"
            ),
        )
        .orderBy("true_lang")
    )


# --------------------------------------------------------------------------
# Heaps' law fit (round 4): cumulative vocabulary V(n) vs cumulative token
# count n across the corpus in doc_id order, with the exponent β from
# regr_slope(log V, log n) — natural corpora sit near β≈0.5; a flat or
# unit exponent flags templated or open-vocabulary-pathological data (the
# corpus-level cousin of the per-source Zipf slope). Running totals come
# from the distributed prefix sum, never a corpus-wide window.
# --------------------------------------------------------------------------
HEAPS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({DTOKS}) AS t FROM documents
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
), first_seen AS (
  SELECT t, min(doc_id) AS d0 FROM tok GROUP BY t
), new_vocab AS (
  SELECT d0 AS doc_id, CAST(count(*) AS BIGINT) AS n_new FROM first_seen GROUP BY d0
), cum AS (
  SELECT p.doc_id,
         sum(p.n_tok) OVER w AS cum_tokens,
         sum(coalesce(v.n_new, 0)) OVER w AS cum_vocab
  FROM per_doc p LEFT JOIN new_vocab v ON v.doc_id = p.doc_id
  WINDOW w AS (ORDER BY p.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(cum_tokens) AS BIGINT) AS total_tokens,
       CAST(max(cum_vocab) AS BIGINT) AS total_vocab,
       round(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                        ln(CAST(cum_tokens AS DOUBLE))), 6) AS heaps_beta
FROM cum
"""


@register("text_heaps_law_fit", oracle=HEAPS_ORACLE)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens
    from ..operators.ranking import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    new_vocab = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    j = per_doc.join(new_vocab, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    cum = global_running_sum(j, "n_tok", [F.col("doc_id")], out_col="cum_tokens")
    cum = global_running_sum(cum, "n_new", [F.col("doc_id")], out_col="cum_vocab")
    return cum.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cum_tokens").cast("long").alias("total_tokens"),
        F.max("cum_vocab").cast("long").alias("total_vocab"),
        F.round(
            F.regr_slope(
                F.log(F.col("cum_vocab").cast("double")),
                F.log(F.col("cum_tokens").cast("double")),
            ),
            6,
        ).alias("heaps_beta"),
    )


# --------------------------------------------------------------------------
# Cross-source TF-IDF centroid cosine matrix (round 4). Complements the
# shingle-Jaccard corpus-overlap matrix (surface overlap) and the JS
# divergence matrix (distributional distance) with the retrieval-style
# view: each source becomes one TF-IDF vector (term frequency × corpus
# idf), and source pairs are scored by cosine. At 100 TB the shape is the
# cheap one — vectors are (source, token) partial aggregates (O(vocab)
# rows, map-side combined), the dot product is a token-keyed join of those
# aggregates, norms join back broadcast; nothing touches doc×doc space.
# Beyond-reference [NS] (SURVEY.md §2.B text family).
# --------------------------------------------------------------------------
TFIDF_CENTROID_ORACLE = f"""
WITH tok AS (
  SELECT source, doc_id, unnest({_DTOKS}) AS tok FROM documents
), df AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok GROUP BY tok
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
), tf AS (
  SELECT source, tok, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY source, tok
), w AS (
  SELECT source, tf.tok AS tok, tf * ln((1.0 + n_docs) / (1.0 + df)) AS w
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
), norms AS (
  SELECT source, sqrt(sum(w * w)) AS nrm FROM w GROUP BY source
), dots AS (
  SELECT a.source AS source_a, b.source AS source_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b,
       round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON na.source = dots.source_a
JOIN norms nb ON nb.source = dots.source_b
ORDER BY source_a, source_b
"""


@register("text_tfidf_centroid_cosine", oracle=TFIDF_CENTROID_ORACLE)
def text_tfidf_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", "doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")
    )
    n_docs = float(docs.count())
    df_ = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    w = tf.join(df_, "tok").select(
        "source",
        "tok",
        (F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df")))).alias("w"),
    )
    norms = w.groupBy("source").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("source").alias("source_a"), "tok", F.col("w").alias("wa"))
    b = w.select(F.col("source").alias("source_b"), "tok", F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("source").alias("source_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# BPE merge TRAINING (round 4): the actual iterative Sennrich et al. '16
# algorithm, not just pair statistics (text_bpe_pair_counts is the
# one-round profile) — N rounds of: count adjacent symbol pairs over the
# word vocabulary (weighted by word frequency) → take the argmax
# (count desc, pair lexicographic on ties) → merge every leftmost-
# non-overlapping occurrence. Words are space-delimited symbol strings;
# the merge is a plain string replace, whose left-to-right non-overlap
# semantics are IDENTICAL in Spark and DuckDB (probed: ' a a a ' →
# ' aa a '), so the whole training loop has an exact oracle with the N
# rounds unrolled as CTE stages. The per-round argmax is a 1-row collect
# (bounded, the CC-convergence-probe exemption); everything else is
# exploded pair streams + grouped sums — per-round linear in total
# symbol count, the textbook distributed-BPE shape.
# --------------------------------------------------------------------------
_BPE_ROUNDS = 4

def _bpe_oracle() -> str:
    toks_stage = lambda n: f"""
p{n} AS (
  SELECT l, r, sum(cnt) AS pc FROM (
    SELECT cnt, t AS l, lead(t) OVER (PARTITION BY word ORDER BY i) AS r
    FROM (SELECT word, cnt, unnest(string_split(trim(s), ' ')) AS t,
                 generate_subscripts(string_split(trim(s), ' '), 1) AS i
          FROM seq{n - 1})
  ) WHERE r IS NOT NULL GROUP BY l, r
), m{n} AS (
  SELECT l, r, pc FROM p{n} ORDER BY pc DESC, l, r LIMIT 1
), seq{n} AS (
  SELECT word, cnt,
         replace(s, ' ' || m{n}.l || ' ' || m{n}.r || ' ',
                 ' ' || m{n}.l || m{n}.r || ' ') AS s
  FROM seq{n - 1} CROSS JOIN m{n}
)"""
    stages = ",".join(toks_stage(n) for n in range(1, _BPE_ROUNDS + 1))
    unions = "\nUNION ALL ".join(
        f"SELECT {n} AS round, l AS lhs, r AS rhs, CAST(pc AS BIGINT) AS pair_count FROM m{n}"
        for n in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
WITH words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_DTOKS}) AS w FROM documents) GROUP BY w
), seq0 AS (
  SELECT word, cnt,
         ' ' || array_to_string(
           list_transform(generate_series(1, len(word)), i -> substr(word, i, 1)),
           ' ') || ' ' AS s
  FROM words
),{stages}
SELECT * FROM ({unions}) ORDER BY round
"""


BPE_TRAIN_ORACLE = _bpe_oracle()


@register("text_bpe_train_merges", oracle=BPE_TRAIN_ORACLE)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w").alias("word"), "cnt")
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    seqs = words.select(
        "word", "cnt",
        F.concat(F.lit(" "), F.concat_ws(" ", chars), F.lit(" ")).alias("s"),
    )
    wd = W.partitionBy("word").orderBy("i")
    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        seqs = materialize(seqs)  # pair count + merge reuse
        toks = seqs.select(
            "word", "cnt", F.posexplode(F.split(F.trim("s"), " ")).alias("i", "t")
        )
        pairs = toks.select(
            "cnt", F.col("t").alias("l"), F.lead("t").over(wd).alias("r")
        ).where(F.col("r").isNotNull())
        # bounded 1-row collect per round (the CC convergence-probe
        # exemption): the argmax merge decision is inherently scalar
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "l", "r")
            .first()
        )
        merges.append((rnd, best.l, best.r, int(best.pc)))
        seqs = seqs.select(
            "word", "cnt",
            F.replace(
                F.col("s"),
                F.lit(f" {best.l} {best.r} "),
                F.lit(f" {best.l}{best.r} "),
            ).alias("s"),
        )
    return spark.createDataFrame(
        merges, "round INT, lhs STRING, rhs STRING, pair_count BIGINT"
    ).orderBy("round")


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram model (round 4): the smoothing that made
# n-gram LMs work (Kneser & Ney '95; the KenLM default) and the serious
# sibling of text_bigram_logprob's add-k —
#   P_KN(w2|w1) = max(c12 − D, 0)/c1 + λ(w1)·P_cont(w2),
#   λ(w1) = D·N1+(w1·)/c1,  P_cont(w2) = N1+(·w2)/N1+(··)
# with discount D = 0.75. The continuation counts (DISTINCT left/right
# neighbors, not raw frequencies) are exactly the "Francisco problem"
# fix: frequent-but-predictable words get small continuation mass. All
# quantities are exact integer counts over the bigram stream (posexplode
# → lead per doc, the codegen shape) + two grouped DISTINCT aggregates;
# every join is on bigram endpoints. Probability-mass unity per context
# is pytest-pinned (Σ_w2 P_KN(w2|w1) = 1 over the observed vocabulary).
# --------------------------------------------------------------------------
_KN_D = 0.75

KNESER_NEY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DTOKS}) AS t, generate_subscripts({_DTOKS}, 1) AS i
  FROM documents
), bg AS (
  SELECT doc_id, t AS w1, lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM tok
), bigrams AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n_cont
  FROM bigrams GROUP BY w1
), hist AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n_hist FROM bigrams GROUP BY w2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types FROM bigrams
)
SELECT bigrams.w1 AS w1, bigrams.w2 AS w2, c12, c1.c1 AS c1,
       n_cont, n_hist,
       round(
         greatest(CAST(c12 AS DOUBLE) - {_KN_D}, 0) / c1.c1
         + ({_KN_D} * n_cont / c1.c1) * (CAST(n_hist AS DOUBLE) / n_types),
         6) AS p_kn
FROM bigrams
JOIN c1 ON c1.w1 = bigrams.w1
JOIN hist ON hist.w2 = bigrams.w2
CROSS JOIN tot
ORDER BY w1, w2
"""


@register("text_kneser_ney_bigram", oracle=KNESER_NEY_ORACLE)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("i", "t")
    )
    wd = W.partitionBy("doc_id").orderBy("i")
    bg = tok.select(
        F.col("t").alias("w1"), F.lead("t").over(wd).alias("w2")
    ).where(F.col("w2").isNotNull())
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bigrams = materialize(bigrams)  # c1/hist/tot/output
    c1 = bigrams.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_cont")
    )
    hist = bigrams.groupBy("w2").agg(F.count(F.lit(1)).alias("n_hist"))
    tot = bigrams.agg(F.count(F.lit(1)).alias("n_types"))
    p = (
        F.greatest(F.col("c12").cast("double") - _KN_D, F.lit(0.0)) / F.col("c1")
        + (_KN_D * F.col("n_cont") / F.col("c1"))
        * (F.col("n_hist").cast("double") / F.col("n_types"))
    )
    return (
        bigrams.join(F.broadcast(c1), "w1")
        .join(F.broadcast(hist), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c12", "c1", "n_cont", "n_hist",
            F.round(p, 6).alias("p_kn"),
        )
        .orderBy("w1", "w2")
    )


# --------------------------------------------------------------------------
# Flesch readability metrics (round 4): Reading Ease and Flesch-Kincaid
# grade from the classic word / sentence / syllable counts — the oldest
# documents-quality gate there is, and a standard pretraining-corpus
# stratification feature. Syllables = vowel groups [aeiouy]+ (whitespace
# breaks a group, so the whole-text count equals the per-word sum), with
# the "every word has >= 1 syllable" floor added as a count of
# vowel-less words; sentences = [.!?]+ runs floored at 1. Pure per-row
# regex expressions, no explode at all.
# --------------------------------------------------------------------------
READABILITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_DTOKS}) AS BIGINT) AS n_words,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           + CAST(len(list_filter({_DTOKS},
               t -> NOT regexp_matches(t, '[aeiouy]'))) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
         AS flesch_reading_ease,
       round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4)
         AS fk_grade
FROM base
ORDER BY doc_id
"""


@register("text_readability_scores", oracle=READABILITY_ORACLE)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
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
    wps = n_words.cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_sent.alias("n_sentences"),
            n_syll.alias("n_syllables"),
        )
        .select(
            "doc_id", "n_words", "n_sentences", "n_syllables",
            F.round(
                206.835
                - 1.015 * (F.col("n_words").cast("double") / F.col("n_sentences"))
                - 84.6 * (F.col("n_syllables").cast("double") / F.col("n_words")),
                4,
            ).alias("flesch_reading_ease"),
            F.round(
                0.39 * (F.col("n_words").cast("double") / F.col("n_sentences"))
                + 11.8 * (F.col("n_syllables").cast("double") / F.col("n_words"))
                - 15.59,
                4,
            ).alias("fk_grade"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval (round 4): the language-
# modeling side of the sparse-retrieval family (BM25 = probabilistic-IR
# side, RRF fuses). score(d) = Σ_t ln((tf(t,d) + µ·P(t|C)) / (|d| + µ)),
# µ = 50; P(t|C) = corpus term frequency / corpus token count. Unlike
# BM25, every document scores (absent terms still draw collection mass),
# so the per-(doc, term) grid is docs × |query| — linear, built by a
# broadcast cross join with the 3-term panel and a left join of exact tf
# counts. Same deterministic (rounded score, doc_id) ranking discipline.
# --------------------------------------------------------------------------
_QLM_MU = 50.0

QLM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DTOKS}) AS t FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM tok GROUP BY doc_id
), ctot AS (
  SELECT CAST(count(*) AS DOUBLE) AS ctoks FROM tok
), qterms AS (
  SELECT unnest([{_BM25_TERMS_SQL}]) AS t
), cf AS (
  SELECT q.t, CAST(count(tok.t) AS DOUBLE) AS cf
  FROM qterms q LEFT JOIN tok ON tok.t = q.t GROUP BY q.t
), tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE t IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, t
), grid AS (
  SELECT dl.doc_id, q.t, dl.dlen, COALESCE(tf.tf, 0.0) AS tf, cf.cf
  FROM dl CROSS JOIN qterms q
  JOIN cf ON cf.t = q.t
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.t = q.t
), scored AS (
  SELECT doc_id,
         sum(ln((tf + {_QLM_MU} * (cf / ctot.ctoks)) / (dlen + {_QLM_MU})))
           AS s
  FROM grid CROSS JOIN ctot
  GROUP BY doc_id
)
SELECT doc_id, round(s, 6) AS qlm_score
FROM scored
ORDER BY round(s, 6) DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@register("text_qlm_dirichlet_topk", oracle=QLM_ORACLE)
def text_qlm_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tok = materialize(tok)  # dl + cf + tf branches
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dlen"))
    ctot = tok.agg(F.count(F.lit(1)).cast("double").alias("ctoks"))
    qterms = spark.createDataFrame([(t,) for t in _BM25_TERMS], "t string")
    cf = (
        qterms.join(tok, "t", "left")
        .groupBy("t")
        .agg(F.count(F.col("doc_id")).cast("double").alias("cf"))
    )
    tf = (
        tok.where(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    grid = (
        dl.crossJoin(F.broadcast(qterms))
        .join(F.broadcast(cf), "t")
        .join(tf, ["doc_id", "t"], "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "doc_id",
            "dlen",
            F.coalesce(F.col("tf"), F.lit(0.0)).alias("tf"),
            "cf",
            "ctoks",
        )
    )
    scored = grid.groupBy("doc_id").agg(
        F.round(
            F.sum(
                F.log(
                    (F.col("tf") + _QLM_MU * (F.col("cf") / F.col("ctoks")))
                    / (F.col("dlen") + _QLM_MU)
                )
            ),
            6,
        ).alias("qlm_score")
    )
    return scored.orderBy(F.col("qlm_score").desc(), "doc_id").limit(_BM25_TOPK)


# --------------------------------------------------------------------------
# Stupid-backoff bigram scoring (Brants et al., EMNLP'07 — the LM
# smoothing DESIGNED for distributed corpora: no normalization pass, no
# held-out tuning, just counts and one backoff constant, which is why the
# original "Large Language Models in Machine Translation" system could
# train on 2T tokens in MapReduce).
#   S(w2|w1) = c(w1 w2)/c(w1)            if the train bigram exists,
#            = 0.4 · (c(w2)+1)/(N+V)     otherwise (Laplace floor inside
#                                         the unigram backoff covers OOV).
# Train/eval split is the md5 house split (doc_id % 10 = 0 evaluates);
# everything is exact integer counts + two left joins of the eval bigram
# stream against broadcast-sized train count tables. Sibling of the add-k
# (text_bigram_logprob) and Kneser-Ney rows — three smoothing regimes,
# one count infrastructure.
# --------------------------------------------------------------------------

STUPID_BACKOFF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DTOKS}) AS t, generate_subscripts({_DTOKS}, 1) AS i
  FROM documents
), bg AS (
  SELECT doc_id, t AS w1, lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM tok
), train_bg AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM bg WHERE w2 IS NOT NULL AND doc_id % 10 <> 0 GROUP BY w1, w2
), train_c1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM train_bg GROUP BY w1
), train_uni AS (
  SELECT t AS w, CAST(count(*) AS BIGINT) AS cu
  FROM tok WHERE doc_id % 10 <> 0 GROUP BY t
), stats AS (
  SELECT CAST(sum(cu) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
  FROM train_uni
), eval_bg AS (
  SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL AND doc_id % 10 = 0
), scored AS (
  SELECT e.doc_id,
         CASE WHEN tb.c12 IS NOT NULL
              THEN ln(CAST(tb.c12 AS DOUBLE) / tc.c1)
              ELSE ln(0.4 * (COALESCE(tu.cu, 0) + 1.0) / (stats.n + stats.v))
         END AS lp
  FROM eval_bg e
  LEFT JOIN train_bg tb ON tb.w1 = e.w1 AND tb.w2 = e.w2
  LEFT JOIN train_c1 tc ON tc.w1 = e.w1
  LEFT JOIN train_uni tu ON tu.w = e.w2
  CROSS JOIN stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS avg_logscore
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


@register("text_stupid_backoff_logprob", oracle=STUPID_BACKOFF_ORACLE)
def text_stupid_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("i", "t"),
    )
    bg = tok.select(
        "doc_id",
        F.col("t").alias("w1"),
        F.lead("t").over(W.partitionBy("doc_id").orderBy("i")).alias("w2"),
    ).where(F.col("w2").isNotNull())
    bg = materialize(bg)  # train + eval branches
    train_bg = (
        bg.where(F.col("doc_id") % 10 != 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    train_c1 = train_bg.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    train_uni = (
        tok.where(F.col("doc_id") % 10 != 0)
        .groupBy(F.col("t").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    stats = train_uni.agg(
        F.sum("cu").cast("double").alias("n"), F.count(F.lit(1)).cast("double").alias("v")
    )
    ev = bg.where(F.col("doc_id") % 10 == 0)
    lp = F.when(
        F.col("c12").isNotNull(), F.log(F.col("c12").cast("double") / F.col("c1"))
    ).otherwise(
        F.log(
            0.4 * (F.coalesce(F.col("cu"), F.lit(0)) + 1.0) / (F.col("n") + F.col("v"))
        )
    )
    return (
        ev.join(train_bg, ["w1", "w2"], "left")
        .join(train_c1, "w1", "left")
        .join(train_uni, ev["w2"] == F.col("w"), "left")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logscore"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Retrieval evaluation: nDCG@10 / MRR / P@10 for the two rankers this
# engine ships (BM25, Dirichlet QL), scored against graded relevance =
# number of distinct query terms the document contains (0-3; binary
# rel >= 1 for MRR/P@10). The eval harness every retrieval change needs
# before shipping: both rankers' top-10 lists join the relevance labels
# (a broadcast of 10 rows each), and the ideal-DCG normalizer is a top-10
# over the label table — all bounded by k and the doc count, never by
# pairs. Rankings and ideal ordering use the house deterministic
# tie-break (rounded score / grade DESC, doc_id).
# --------------------------------------------------------------------------

_REL_GRADE_SQL = f"""
  SELECT doc_id,
         CAST(len(list_intersect(list_distinct({_DTOKS}),
                                 [{_BM25_TERMS_SQL}])) AS BIGINT) AS rel
  FROM documents
"""

RETRIEVAL_EVAL_ORACLE = f"""
WITH rel AS ({_REL_GRADE_SQL}),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
  FROM ({BM25_ORACLE.strip().rstrip()}) b
),
ql AS (
  SELECT doc_id, row_number() OVER (ORDER BY qlm_score DESC, doc_id) AS rnk
  FROM ({QLM_ORACLE.strip().rstrip()}) q
),
runs AS (
  SELECT 'bm25' AS ranker, doc_id, rnk FROM bm
  UNION ALL
  SELECT 'qlm' AS ranker, doc_id, rnk FROM ql
),
ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
  FROM rel QUALIFY rnk <= 10
),
idcg AS (
  SELECT sum((power(2.0, rel) - 1.0) / (ln(rnk + 1.0) / ln(2.0))) AS idcg
  FROM ideal
),
scored AS (
  SELECT runs.ranker, runs.rnk, rel.rel
  FROM runs JOIN rel ON rel.doc_id = runs.doc_id
)
SELECT ranker,
       round(sum((power(2.0, rel) - 1.0) / (ln(rnk + 1.0) / ln(2.0)))
             / (SELECT idcg FROM idcg), 6) AS ndcg_at_10,
       round(max(CASE WHEN rel >= 1 THEN 1.0 / rnk ELSE 0.0 END), 6) AS mrr,
       round(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) / 10.0, 6) AS p_at_10
FROM scored
GROUP BY ranker
ORDER BY ranker
"""


@register("text_retrieval_eval_ndcg", oracle=RETRIEVAL_EVAL_ORACLE)
def text_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    rel = docs.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(tokens(F.col("text"))),
                F.array(*[F.lit(t) for t in _BM25_TERMS]),
            )
        ).cast("long").alias("rel"),
    )
    rel = materialize(rel)  # ideal + two run joins
    wb = W.partitionBy(F.lit(1)).orderBy(F.col("bm25").desc(), "doc_id")
    bm = (
        text_bm25_topk(spark, sf_dir)
        .select("doc_id", F.row_number().over(wb).alias("rnk"))
        .withColumn("ranker", F.lit("bm25"))
    )
    wq = W.partitionBy(F.lit(1)).orderBy(F.col("qlm_score").desc(), "doc_id")
    ql = (
        text_qlm_dirichlet_topk(spark, sf_dir)
        .select("doc_id", F.row_number().over(wq).alias("rnk"))
        .withColumn("ranker", F.lit("qlm"))
    )
    runs = bm.unionByName(ql)
    wi = W.partitionBy(F.lit(1)).orderBy(F.col("rel").desc(), "doc_id")
    ideal = (
        rel.withColumn("rnk", F.row_number().over(wi)).filter(F.col("rnk") <= 10)
    )
    dcg_term = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / (
        F.log(F.col("rnk") + 1.0) / F.lit(float(__import__("math").log(2.0)))
    )
    idcg = ideal.agg(F.sum(dcg_term).alias("idcg"))
    scored = runs.join(rel, "doc_id")
    return (
        scored.crossJoin(F.broadcast(idcg))
        .groupBy("ranker")
        .agg(
            F.round(F.sum(dcg_term) / F.first("idcg"), 6).alias("ndcg_at_10"),
            F.round(
                F.max(
                    F.when(F.col("rel") >= 1, 1.0 / F.col("rnk")).otherwise(0.0)
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.sum(F.when(F.col("rel") >= 1, 1).otherwise(0)) / 10.0, 6
            ).alias("p_at_10"),
        )
        .orderBy("ranker")
    )


# --------------------------------------------------------------------------
# RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are the
# maximal stopword-free token runs (gaps-and-islands over the token
# stream — the same islands primitive as sessionization, applied to
# text); word score = degree/frequency where degree(w) sums the lengths
# of every phrase containing an occurrence of w; phrase score = Σ word
# scores, ranked corpus-wide. Determinism: scores are SCALED-INTEGER
# divisions (⌊deg·10⁶/freq⌋ — float summation never appears, so engines
# can't disagree at a rounding boundary). Every stage is a bounded
# groupBy over (doc, island) or (word); top-15 by (score, phrase).
# --------------------------------------------------------------------------
_RAKE_TOPK = 15
_RAKE_STOPS_SQL = ", ".join(f"'{m}'" for m in T.EN_MARKERS)

RAKE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, generate_subscripts({_DTOKS}, 1) AS pos, unnest({_DTOKS}) AS t
  FROM documents
), isl AS (
  SELECT doc_id, pos, t,
         CASE WHEN t IN ({_RAKE_STOPS_SQL}) THEN 1 ELSE 0 END AS is_stop,
         SUM(CASE WHEN t IN ({_RAKE_STOPS_SQL}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM tok
), members AS (
  SELECT doc_id, island, pos, t FROM isl WHERE is_stop = 0
), phrases AS (
  SELECT doc_id, island,
         string_agg(t, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM members GROUP BY doc_id, island
), wordstats AS (
  SELECT m.t,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(SUM(p.plen) AS BIGINT) AS deg
  FROM members m
  JOIN phrases p ON p.doc_id = m.doc_id AND p.island = m.island
  GROUP BY m.t
), scored AS (
  SELECT p.phrase, p.plen,
         SUM((w.deg * 1000000) // w.freq) AS score_scaled
  FROM phrases p
  JOIN members m ON m.doc_id = p.doc_id AND m.island = p.island
  JOIN wordstats w ON w.t = m.t
  GROUP BY p.doc_id, p.island, p.phrase, p.plen
), ranked AS (
  SELECT phrase, CAST(max(plen) AS BIGINT) AS phrase_len,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(max(score_scaled) AS BIGINT) AS score_scaled
  FROM scored GROUP BY phrase
)
SELECT phrase, phrase_len, n_occurrences,
       round(score_scaled / 1000000.0, 6) AS rake_score
FROM ranked
ORDER BY score_scaled DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@register("text_rake_keyphrases", oracle=RAKE_ORACLE)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    is_stop = F.when(F.col("t").isin(*T.EN_MARKERS), 1).otherwise(0)
    wisl = _W.partitionBy("doc_id").orderBy("pos")
    members = (
        tok.withColumn("is_stop", is_stop)
        .withColumn("island", F.sum("is_stop").over(wisl))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "island", "pos", "t")
    )
    members = materialize(members)  # phrases + wordstats + score
    phrases = members.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))),
                lambda s: s.t,
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    wordstats = (
        members.join(phrases.select("doc_id", "island", "plen"), ["doc_id", "island"])
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
    )
    scored = (
        phrases.join(members, ["doc_id", "island"])
        .join(F.broadcast(wordstats), "t")
        .groupBy("doc_id", "island", "phrase", "plen")
        .agg(
            F.sum(F.expr("(deg * 1000000) div freq")).alias("score_scaled")
        )
    )
    ranked = scored.groupBy("phrase").agg(
        F.max("plen").cast("long").alias("phrase_len"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_scaled").cast("long").alias("score_scaled"),
    )
    return (
        ranked.select(
            "phrase",
            "phrase_len",
            "n_occurrences",
            F.round(F.col("score_scaled") / 1000000.0, 6).alias("rake_score"),
        )
        .orderBy(F.col("score_scaled").desc(), "phrase")
        .limit(_RAKE_TOPK)
        .drop("score_scaled")
    )


# --------------------------------------------------------------------------
# Burrows' Delta stylometry (Burrows 2002): the standard authorship /
# style distance — z-score each of the top-50 corpus words' relative
# frequencies across sources, then Δ(s₁, s₂) = mean |z₁ − z₂|. The
# provenance-forensics companion of the shingle overlap matrix
# (dedup_source_overlap_matrix finds shared CONTENT; Delta finds shared
# STYLE — same wordcount shuffles, different signal). Aggregation grain:
# (source × top-word) = 20·50 rows; the pair matrix is sources² = 190
# rows. Rank selection, frequencies, means and stds follow the house
# deterministic tie-breaks; the final Δ rounds at 5 dp, far above the
# ~1e-12 cross-engine summation noise of 50-term sums.
# --------------------------------------------------------------------------
_DELTA_TOPW = 50

BURROWS_DELTA_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_DTOKS}) AS t FROM documents
), stot AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n FROM tok GROUP BY source
), wc AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, t
), topw AS (
  SELECT t FROM (
    SELECT t, SUM(c) AS tot,
           row_number() OVER (ORDER BY SUM(c) DESC, t) AS rn
    FROM wc GROUP BY t
  ) WHERE rn <= {_DELTA_TOPW}
), f AS (
  SELECT s.source, w.t, COALESCE(wc.c, 0) / s.n AS f
  FROM stot s CROSS JOIN topw w
  LEFT JOIN wc ON wc.source = s.source AND wc.t = w.t
), z AS (
  SELECT source, t,
         (f - avg(f) OVER (PARTITION BY t))
           / stddev_samp(f) OVER (PARTITION BY t) AS z
  FROM f
)
SELECT a.source AS source_a, b.source AS source_b,
       round(avg(abs(a.z - b.z)), 5) AS delta
FROM z a
JOIN z b ON b.t = a.t AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
"""


@register("text_burrows_delta_stylometry", oracle=BURROWS_DELTA_ORACLE)
def text_burrows_delta_stylometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    from ..functions.textfns import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    stot = tok.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    wc = tok.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = materialize(wc)  # top-word rank + freq join
    topw = (
        wc.groupBy("t")
        .agg(F.sum("c").alias("tot"))
        .withColumn("rn", F.row_number().over(_W.partitionBy(F.lit(1)).orderBy(F.col("tot").desc(), "t")))
        .filter(F.col("rn") <= _DELTA_TOPW)
        .select("t")
    )
    f = (
        stot.crossJoin(F.broadcast(topw))
        .join(wc, ["source", "t"], "left")
        .select(
            "source",
            "t",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("n")).alias("f"),
        )
    )
    wt = _W.partitionBy("t")
    z = f.select(
        "source",
        "t",
        ((F.col("f") - F.avg("f").over(wt)) / F.stddev_samp("f").over(wt)).alias("z"),
    )
    a = z.select(F.col("source").alias("source_a"), "t", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "t", F.col("z").alias("zb"))
    return (
        a.join(b, "t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 5).alias("delta"))
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language (the tokenizer-evaluation metric LLM
# teams track per locale): fertility = subword tokens per word — high
# fertility means the tokenizer fragments that language and its docs pay
# more sequence length per unit of content. Rolls the per-doc counters
# (token_count_estimates: whitespace, punctuation-regex, chars/4 BPE
# proxy) up to (lang, source-count) grain with DECIMAL-exact ratios:
# fertility_bpe = Σ bpe_est / Σ ws_tokens, chars_per_token, plus the
# regex/ws agreement rate. One aggregation over the existing projection.
# --------------------------------------------------------------------------

FERTILITY_ORACLE = f"""
WITH per_doc AS (
  SELECT lang,
         CAST(len({_DTOKS}) AS BIGINT) AS ws,
         CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                              t -> len(t) > 0)) AS BIGINT) AS rx,
         CAST(ceil(len(text) / 4.0) AS BIGINT) AS bpe,
         CAST(len(text) AS BIGINT) AS chars
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 6) AS fertility_bpe,
       round(CAST(SUM(chars) AS DOUBLE) / SUM(ws), 6) AS chars_per_word,
       round(CAST(SUM(rx) AS DOUBLE) / SUM(ws), 6) AS regex_ws_ratio
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register("docs_tokenizer_fertility", oracle=FERTILITY_ORACLE)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    per_doc = T.token_count_estimates(docs).withColumn(
        "chars", F.length("text").cast("long")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws_token_count").cast("long").alias("ws_tokens"),
            F.sum("bpe_token_estimate").cast("long").alias("bpe_tokens"),
            F.round(
                F.sum("bpe_token_estimate").cast("double") / F.sum("ws_token_count"),
                6,
            ).alias("fertility_bpe"),
            F.round(
                F.sum("chars").cast("double") / F.sum("ws_token_count"), 6
            ).alias("chars_per_word"),
            F.round(
                F.sum("regex_token_count").cast("double") / F.sum("ws_token_count"),
                6,
            ).alias("regex_ws_ratio"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of corpus token MASS does a
# top-k vocabulary cover, for k ∈ {100, 1000, 10000} — the tokenizer-
# design planning curve (pick vocab size by coverage target; the fertility
# query asks how a FIXED tokenizer behaves, this asks how big one must
# be). Ranks and cumulative mass come from the fused distributed prefix
# scan (global_prefix_scan: running token-mass + rank in ONE range
# exchange over the wordcount table); each k then probes a single rank.
# --------------------------------------------------------------------------
_COVERAGE_KS = (100, 1000, 10000)

COVERAGE_ORACLE = f"""
WITH wc AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({_DTOKS}) AS t FROM documents) GROUP BY t
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rn,
         SUM(c) OVER (ORDER BY c DESC, t) AS cum
  FROM wc
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_vocab
  FROM wc
), ks AS ( SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k )
SELECT ks.k AS vocab_k,
       tot.n_vocab,
       CAST(r.cum AS BIGINT) AS covered_tokens,
       round(CAST(r.cum AS DOUBLE) / tot.total, 6) AS coverage
FROM ks CROSS JOIN tot
JOIN ranked r ON r.rn = least(ks.k, tot.n_vocab)
ORDER BY vocab_k
"""


@register("text_vocab_coverage_curve", oracle=COVERAGE_ORACLE)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import tokens
    from ..operators.ranking import global_prefix_scan

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wc = materialize(wc)  # totals + scan branches
    tot = wc.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    ranked = global_prefix_scan(
        wc.withColumn("_negc", -F.col("c")), ["c"], ["_negc", "t"], rn_col="rn"
    )
    ks = spark.createDataFrame([(k,) for k in _COVERAGE_KS], "k long")
    return (
        ks.crossJoin(F.broadcast(tot))
        .withColumn("kk", F.least(F.col("k"), F.col("n_vocab")))
        .join(ranked.select("rn", "c_cum"), F.col("kk") == F.col("rn"))
        .select(
            F.col("k").alias("vocab_k"),
            "n_vocab",
            F.col("c_cum").cast("long").alias("covered_tokens"),
            F.round(F.col("c_cum").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("vocab_k")
    )


# --------------------------------------------------------------------------
# HTML → text extraction (round 7 continuation): the FIRST step of web
# curation, run by a REAL parser (stdlib html.parser via
# operators/htmltext.py), not regex stripping. Each doc's text is wrapped
# in a synthesized page that plants every hazard class: a <script> and a
# <style> whose contents must NOT leak, an HTML comment, character
# references (&amp; &lt; &quot; &#65;) that must decode, inline tags
# (<span>) that must NOT break lines, and block tags that must. The
# oracle recomputes the EXPECTED extraction directly from the source
# columns — a leak, a dropped block, a mis-decoded entity or a broken
# line split changes length/md5/line-count. Scales with the table (no
# fixed panel): at 100 TB this is one Arrow-batched mapInPandas pass.
# Beyond-reference [NS] (text family).
# --------------------------------------------------------------------------

HTML_EXTRACTION_ORACLE = """
WITH exp AS (
  SELECT doc_id,
         'Doc ' || doc_id || chr(10) ||
         'Doc ' || doc_id || chr(10) ||
         'AT&T <' || doc_id || '> "q" A' || chr(10) ||
         trim(regexp_replace(text, ' +', ' ', 'g')) || chr(10) ||
         'tail ' || doc_id || ' end' AS expected
  FROM documents
)
SELECT doc_id,
       length(expected) AS n_chars,
       5 AS n_lines,
       md5(expected) AS text_md5
FROM exp
ORDER BY doc_id
"""


@register("text_html_extraction", oracle=HTML_EXTRACTION_ORACLE)
def text_html_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator
    from html import escape

    import pandas as pd

    from ..operators import htmltext as H

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                did = int(r["doc_id"])
                html = (
                    f"<html><head><title>Doc {did}</title>\n"
                    f"<style>p {{color: red}}</style>\n"
                    f'<script>var leak = "LEAK {did}";</script>\n'
                    f"</head><body>\n"
                    f"<h1>Doc {did}</h1>\n"
                    f"<p>AT&amp;T &lt;{did}&gt; &quot;q&quot; &#65;</p>\n"
                    f"<p>{escape(str(r['text']))}</p>\n"
                    f"<!-- LEAK comment {did} -->\n"
                    f"<div>tail <span>{did}</span> end</div>\n"
                    f"</body></html>"
                )
                rows.append((did, html))
            yield pd.DataFrame(rows, columns=["doc_id", "html"])

    # r10 opt §1a: spread the doc rows so the synthesize+html.parser chain
    # runs at full width instead of inside the 1-task scan (per-row md5
    # output — partitioning inert)
    pages = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(gen, "doc_id long, html string")
    extracted = H.html_text_extract(pages)
    return extracted.select(
        "doc_id",
        "n_chars",
        F.size(F.split("extracted", "\n")).alias("n_lines"),
        F.md5(F.encode("extracted", "utf-8")).alias("text_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# PDF → text extraction (round 9, VERDICT r8 #4): the eighth media kind.
# Round 8's WARC source made real crawl archives ingestible, and PDF is
# the largest crawl payload type the curation head still dropped. Each
# doc becomes a synthesized, structurally complete PDF (operators/pdf.py:
# real xref offsets, FlateDecode on even doc_ids, filter-less streams on
# odd ones) whose FOUR text lines exercise every text-showing operator
# class: Tj with literal-string escapes \( \) \\, the ' next-line-show,
# a TJ array with intra-word kerning nudges that must NOT become spaces,
# and a whitespace-embedded hex string. The oracle recomputes the
# EXPECTED extraction straight from the source columns (the
# text_html_extraction recipe) — a missed escape, a kerning-as-space
# slip, a hex-digit misparse, a dropped line advance, or a broken
# FlateDecode changes length/md5. At 100 TB: two Arrow-batched
# mapInPandas passes, embarrassingly parallel, no shuffle.
# Beyond-reference [NS] (multimodal family).
# --------------------------------------------------------------------------

# the text column as one PDF text line — the SQL twin of
# operators/pdf.normalize_corpus_line (ADVICE r9: a corpus doc with \r
# or empty text must change BOTH sides of the differential, not diverge)
PDF_LINE_SQL = (
    "CASE WHEN text IS NULL OR text = '' THEN '(empty)' "
    "ELSE replace(replace(text, chr(13) || chr(10), chr(10)), "
    "chr(13), chr(10)) END"
)

PDF_EXTRACTION_ORACLE = rf"""
WITH exp AS (
  SELECT doc_id,
         'Doc ' || doc_id || ' (A) \ B' || chr(10) ||
         'Token ' || doc_id || chr(10) ||
         {PDF_LINE_SQL} || chr(10) ||
         'tail ' || doc_id || ' end' AS expected
  FROM documents
)
SELECT doc_id,
       length(expected) AS n_chars,
       md5(expected) AS text_md5
FROM exp
ORDER BY doc_id
"""


@register("multimodal_pdf_extract", oracle=PDF_EXTRACTION_ORACLE)
def multimodal_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators import pdf as P

    # the single sf0.1 parquet file arrives as ONE input split, which
    # would serialize both Arrow passes — spread the tiny (doc_id, text)
    # projection across the cluster first so the guard measures the
    # codec, not the file count (VERDICT r9 "what's wrong" #2)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                did = int(r["doc_id"])
                lines = [
                    f"Doc {did} (A) \\ B",  # style 0: Tj with escapes
                    f"Token {did}",  # style 1: ' next-line-show
                    P.normalize_corpus_line(r["text"]),  # style 2: TJ kerning splits
                    f"tail {did} end",  # style 3: hex string
                ]
                # doc_id picks the writer generation: %5==0 the
                # Type0/CID form (2-byte codes, text recoverable only
                # through the embedded ToUnicode CMap), else %3==0 the
                # 1.5 ObjStm/xref-stream form, else the 1.4 table-xref
                # form — the oracle is structure-blind, so the
                # differential proves all three framings extract
                # identically
                if did % 5 == 0:
                    blob = P.encode_pdf_cid(lines, compress=did % 2 == 0)
                else:
                    enc = P.encode_pdf_objstm if did % 3 == 0 else P.encode_pdf
                    blob = enc(P.encode_text_ops(lines), compress=did % 2 == 0)
                rows.append((did, bytearray(blob)))
            yield pd.DataFrame(rows, columns=["doc_id", "pdf_bytes"])

    pdfs = docs.mapInPandas(gen, "doc_id long, pdf_bytes binary")
    extracted = P.pdf_text_extract(pdfs)
    return extracted.select(
        "doc_id",
        "n_chars",
        F.md5(F.encode("extracted", "utf-8")).alias("text_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# PDF quarantine audit (round 10, VERDICT r9 #3 made ORACLE-attested):
# the R24 error channel on pdf_text_extract, proven the way
# events_dead_letter_audit proves the ingest dead-letter route. One doc
# in seven arrives corrupted — evens with a non-PDF magic, odds as an
# /Encrypt-bearing document (mojibake-if-decoded, so the walker must
# refuse loudly) — and the audit rollup must show exactly the right
# docs quarantined with exactly the right error strings while every
# healthy doc's extraction length still sums correctly. A swallowed
# error, a killed task, or a misrouted healthy doc all break the hash.
# At 100 TB: the channel is what keeps one bad crawl blob from failing
# a whole batch; same Arrow pass as the extraction row, zero extra
# shuffles beyond the 3-group rollup.
# --------------------------------------------------------------------------

PDF_ERROR_AUDIT_ORACLE = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 6 THEN
           CASE WHEN doc_id % 2 = 0
                THEN 'ValueError: not a PDF: missing %PDF- header'
                ELSE 'ValueError: encrypted PDF: cannot extract text' END
         END AS err,
         CASE WHEN doc_id % 7 = 6 THEN NULL
              ELSE length('Doc ' || doc_id || ' (A) \ B' || chr(10) ||
                   'Token ' || doc_id || chr(10) ||
                   {{PDF_LINE}} || chr(10) ||
                   'tail ' || doc_id || ' end') END AS n_chars
  FROM documents
)
SELECT coalesce(err, 'ok') AS status,
       count(*) AS n_docs,
       CAST(coalesce(SUM(n_chars), 0) AS BIGINT) AS total_chars
FROM base
GROUP BY status
ORDER BY status
""".replace("{PDF_LINE}", PDF_LINE_SQL)


@register("multimodal_pdf_error_audit", oracle=PDF_ERROR_AUDIT_ORACLE)
def multimodal_pdf_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators import pdf as P

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                did = int(r["doc_id"])
                blob = P.encode_pdf(
                    P.encode_text_ops(
                        [
                            f"Doc {did} (A) \\ B",
                            f"Token {did}",
                            P.normalize_corpus_line(r["text"]),
                            f"tail {did} end",
                        ]
                    ),
                    compress=did % 2 == 0,
                )
                if did % 7 == 6:
                    if did % 2 == 0:  # wrong container entirely
                        blob = b"GIF89a" + blob[6:]
                    else:  # encrypted: strings are ciphertext
                        blob = blob.replace(
                            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R"
                        )
                rows.append((did, bytearray(blob)))
            yield pd.DataFrame(rows, columns=["doc_id", "pdf_bytes"])

    pdfs = docs.mapInPandas(gen, "doc_id long, pdf_bytes binary")
    extracted = P.pdf_text_extract(pdfs)
    return (
        extracted.groupBy(F.coalesce("err", F.lit("ok")).alias("status"))
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias(
                "total_chars"
            ),
        )
        .orderBy("status")
    )
