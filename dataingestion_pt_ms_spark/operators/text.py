"""Text-analysis operators (SURVEY.md §2.B "text analysis"): token stats,
heuristic language ID, quality scoring, content fingerprinting, term
frequency. All pure expressions — the per-document work is a handful of
array ops inside one projection, so the operators pipeline with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import distinct_tokens, shingles, token_fingerprint, tokens
from ..session import materialize

# Marker token sets for the n-gram/stopword language heuristic. With real
# corpora these would be per-language character-n-gram profiles; the fixture
# vocabulary is English-ish so the demo profile keys off EN function words.
EN_MARKERS = ("the", "a", "of", "and", "to")


def _tok(text_col: str) -> Column:
    return tokens(F.col(text_col))


def avg_token_len_expr(text_col: str) -> Column:
    """Unrounded mean token length — shared by token_stats and the logistic
    quality gate so the feature definition can't drift between them."""
    toks = _tok(text_col)
    return F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    ) / F.size(toks).cast("double")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = _tok(text_col)
    n_tok = F.size(toks)
    return df.withColumns(
        {
            "n_tokens": n_tok.cast("long"),
            "n_distinct_tokens": F.size(distinct_tokens(F.col(text_col))).cast("long"),
            "avg_token_len": F.round(avg_token_len_expr(text_col), 6),
        }
    )


def stopword_ratio(text_col: str, markers=EN_MARKERS) -> Column:
    toks = _tok(text_col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
    return hits.cast("double") / F.size(toks).cast("double")


def language_id(df: DataFrame, text_col: str = "text", threshold: float = 0.05) -> DataFrame:
    """Heuristic language ID: EN-marker token ratio ≥ threshold → 'en'."""
    ratio = F.round(stopword_ratio(text_col), 6)
    return df.withColumns(
        {
            "en_marker_ratio": ratio,
            "predicted_lang": F.when(ratio >= threshold, "en").otherwise("unknown"),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite doc-quality score in [0,1]: vocabulary diversity, length
    saturation, non-stopword density — the standard pretraining-filter trio
    (cf. C4/Gopher-style heuristics, arXiv:2112.11446 §A1.1)."""
    toks = _tok(text_col)
    n_tok = F.size(toks).cast("double")
    diversity = F.size(distinct_tokens(F.col(text_col))).cast("double") / n_tok
    length_sat = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    density = 1 - stopword_ratio(text_col)
    return df.withColumns(
        {
            "diversity": F.round(diversity, 6),
            "length_sat": F.round(length_sat, 6),
            "density": F.round(density, 6),
            "quality_score": F.round(
                0.4 * diversity + 0.3 * length_sat + 0.3 * density, 6
            ),
        }
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", token_fingerprint(F.col(text_col)))


def term_frequency(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level term frequency (explode → count); at scale this is the
    canonical map-side-combined wordcount. The tokenize+explode is CPU-bound,
    so spread the input to cluster parallelism first — a single-file local
    scan is otherwise one task doing all the splitting."""
    return (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.explode(_tok(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def rolling_hash(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Polynomial rolling-hash document fingerprint (order-sensitive, unlike
    the sorted-token md5 fingerprint): h = Σ h·B + hash(tok) (mod M).

    Per-token hash = first 8 hex chars of md5 as an integer — engine-agnostic
    (md5 is bit-identical everywhere), so the whole fold is fully
    oracle-checkable. Modular space is 31-bit so every product stays < 2^62
    (ANSI-safe); one interpreted fold pass per doc — acceptable off the hot
    path.
    """
    M = 2_147_483_647
    B = 1_000_003
    toks = _tok(text_col)
    h = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * B
            + F.pmod(F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"), F.lit(M)),
            F.lit(M),
        ),
    )
    return df.withColumn("rolling_hash", h)


def token_count_estimates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish estimate (chars/4 is the standard
    subword-tokenizer rule of thumb) + punctuation-aware regex count."""
    ws = F.size(_tok(text_col))
    chars = F.length(F.col(text_col))
    regex_toks = F.size(
        F.filter(
            F.split(F.col(text_col), r"[^A-Za-z0-9]+"), lambda t: F.length(t) > 0
        )
    )
    return df.withColumns(
        {
            "ws_token_count": ws.cast("long"),
            "regex_token_count": regex_toks.cast("long"),
            "bpe_token_estimate": F.ceil(chars.cast("double") / 4.0).cast("long"),
        }
    )


def tf_idf_topk(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Top-k tokens per document by TF-IDF (tf * ln((1+N)/(1+df))).

    Three shuffles at scale: (doc, token) count, token document-frequency,
    and the per-doc top-k window — all map-side combined; the corpus size N
    ships as a one-row broadcast. Scores are rounded before ranking so the
    k-boundary is deterministic across engines.
    """
    from pyspark.sql import Window as W

    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    tok = spread.select(F.col(key_col), F.explode(_tok(text_col)).alias("token"))
    # r11 opt (guide §1.2 #1): tf feeds both the document-frequency rollup
    # and the score join — materialize so the corpus tokenize + count
    # shuffle runs once, not twice
    tf = materialize(
        tok.groupBy(key_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tf_idf",
            F.round(
                F.col("tf")
                * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))),
                6,
            ),
        )
    )
    w = W.partitionBy(key_col).orderBy(F.col("tf_idf").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(key_col, "token", "tf", "df", "tf_idf", "rk")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    chunk_tokens: int = 50,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Split each document into fixed-size token chunks (the packing step
    ahead of tokenization in a training pipeline): one output row per chunk
    with (key, chunk_idx, chunk_text, n_chunk_tokens).

    The lambda work is per *chunk*, not per token (slice+concat over an
    already-split array), so the interpreted-HOF cost stays negligible; the
    explode fans out inside the scan stage — no shuffle at all.

    ``passthrough`` columns (e.g. the lang/source shard key) replicate onto
    every chunk row inside the same projection — downstream groupings never
    need a corpus-sized join back to the document table.
    """
    toks = _tok(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    # sequence(0, -1) would DESCEND (two phantom chunks) — guard the empty
    # case explicitly. Unreachable via split() today (always ≥1 element),
    # but a null-text or custom tokenizer change must yield zero chunks,
    # like the DuckDB twin's generate_series(1, 0) -> [].
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)),
    )
    out = df.select(
        F.col(key_col),
        *[F.col(c) for c in passthrough],
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    return out.withColumn(
        "n_chunk_tokens", F.size(F.split(F.col("chunk_text"), r"\s+")).cast("long")
    )


def quantile_filter(
    df: DataFrame, value_col: str, q: float = 0.75
) -> DataFrame:
    """Keep rows whose ``value_col`` exceeds the corpus-wide q-quantile
    (exact, interpolated) — quality-gating against the corpus distribution.
    The quantile is a one-row aggregate broadcast to every task.

    ``percentile`` is an exact sort-based aggregate — right for oracle
    twins at test SF; at 100 TB use ``quantile_filter_approx`` (mergeable
    bounded-memory sketch, same gate semantics modulo rank error)."""
    cut = df.agg(
        F.expr(f"percentile({value_col}, {q})").alias("_cut")
    )
    return (
        df.crossJoin(F.broadcast(cut))
        .filter(F.col(value_col) > F.col("_cut"))
        .drop("_cut")
    )


def quantile_filter_approx(
    df: DataFrame, value_col: str, q: float = 0.75, accuracy: int = 10_000
) -> DataFrame:
    """The at-scale sibling of ``quantile_filter``: ``approx_percentile``
    (Greenwald-Khanna style sketch) computes the cut in one pass with
    bounded memory and map-side-mergeable partials — no global sort at any
    corpus size. Guaranteed rank error ≤ n/``accuracy``, so for corpora
    smaller than ``accuracy`` the cut element is rank-exact (the engine
    test pins gate-for-gate agreement with the exact variant there);
    returns a corpus element, not an interpolation."""
    cut = df.agg(
        F.expr(f"approx_percentile({value_col}, {q}, {accuracy})").alias("_cut")
    )
    return (
        df.crossJoin(F.broadcast(cut))
        .filter(F.col(value_col) > F.col("_cut"))
        .drop("_cut")
    )


def redact_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII-style scrubbing pass: digit-bearing tokens -> <NUM>, overlong
    tokens (>10 chars) -> <LONG>. Real deployments swap in email/phone/ID
    patterns; the mechanics (regexp count + replace inside one projection,
    no shuffle) are identical. Patterns stay in the RE2-compatible subset
    so the DuckDB oracle matches Java regex semantics."""
    num_pat = r"[a-z]*[0-9][a-z0-9]*"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(text_col), r"\b" + num_pat + r"\b", "<NUM>"),
        r"\b[a-z]{11,}\b",
        "<LONG>",
    )
    n_num = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\b" + num_pat + r"\b"), 0))
    n_long = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\b[a-z]{11,}\b"), 0))
    return df.withColumns(
        {
            "redacted": redacted,
            "n_redactions": (n_num + n_long).cast("long"),
        }
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Benchmark-contamination detection: per corpus document, the fraction
    of its distinct k-shingles that also occur anywhere in the benchmark
    set — the decontamination gate run before training on scraped data.

    Scale shape: the benchmark shingle set is tiny relative to the corpus
    (eval suites are KBs, corpora are TBs), so it broadcasts — the corpus
    side never shuffles; shingling, the hash, the broadcast probe and the
    per-doc count all pipeline inside the scan stage. Shingles join on a
    fixed-width md5 key, not the raw n-gram string (16-byte probe keys,
    engine-independent so the DuckDB oracle mirrors it exactly).

    EVERY corpus document appears in the output (explode_outer): documents
    too short to shingle (< shingle_k tokens) report n_shingles=0 and a
    NULL contamination_ratio — "uncheckable", distinct from 0.0 ("checked,
    clean") — so a gate joining this report back cannot silently pass
    short docs through unexamined.
    """

    from pyspark.sql import Window as W

    def _sh(df: DataFrame) -> DataFrame:
        # codegen shingle stream (round 4 — the array-building HOF is
        # interpreted per element, see minhash_signature): posexplode →
        # k−1 leads → concat_ws → md5, then per-doc distinct (the HOF
        # path's array_distinct semantic)
        wd = W.partitionBy(key_col).orderBy("_pos")
        leads = [F.lead("_t", j).over(wd) for j in range(1, shingle_k)]
        tokd = df.select(
            F.col(key_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t")
        )
        return (
            tokd.select(
                F.col(key_col),
                F.md5(F.concat_ws(" ", F.col("_t"), *leads)).alias("_h"),
                (leads[-1] if leads else F.col("_t")).alias("_g"),
            )
            .where(F.col("_g").isNotNull())
            .drop("_g")
            .distinct()
        )

    bench = _sh(benchmark).select("_h").distinct().withColumn("_hit", F.lit(1))
    counted = (
        _sh(corpus)
        .join(F.broadcast(bench), "_h", "left")
        .groupBy(key_col)
        .agg(
            F.count("_h").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    # every corpus doc must appear: docs too short to shingle (< shingle_k
    # tokens) dropped out of the lead stream — re-attach with n_shingles=0
    # and a NULL ratio ("uncheckable", distinct from 0.0 "checked, clean")
    return (
        corpus.select(key_col)
        .join(counted, key_col, "left")
        .select(
            key_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ratio",
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
            ),
        )
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signal: the most frequent token's share of
    the document (boilerplate / spam / degenerate-generation filter).

    (key, token) counts partial-aggregate map-side; the window that picks
    the arg-max re-partitions on key only. Ties break to the lexicographically
    smallest token so the winner is engine-independent.
    """
    from pyspark.sql import Window as W

    tok = df.select(
        F.col(key_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = tok.groupBy(key_col, "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy(key_col).orderBy(F.col("cnt").desc(), "token")
    return (
        counts.withColumns(
            {
                "n_tokens": F.sum("cnt").over(W.partitionBy(key_col)),
                "_rn": F.row_number().over(w),
            }
        )
        .filter(F.col("_rn") == 1)
        .select(
            key_col,
            F.col("n_tokens").cast("long"),
            F.col("token").alias("top_token"),
            F.col("cnt").cast("long").alias("top_count"),
            F.round(F.col("cnt") / F.col("n_tokens"), 6).alias("repetition_ratio"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_count: int = 1,
) -> DataFrame:
    """Corpus-level duplicated-line removal (the CCNet/RefinedWeb
    boilerplate filter): drop every line occurring more than ``max_count``
    times across the whole corpus (nav bars, cookie banners, license
    headers), reassemble the remaining lines in order.

    Returns (key, clean_text, n_lines, n_removed); ``clean_text`` is NULL
    when every line was boilerplate.

    Scale shape: lines explode inside the scan stage; the global line count
    is a map-side-combined groupBy on a fixed-width md5 key; the count join
    shuffles on that hash where AQE's skew split handles the boilerplate
    hot keys (a window over the line hash would buffer the 10⁷-row hot
    partition instead); reassembly is one groupBy(key) with an
    in-expression sort — 3 shuffles total, each on a bounded-width key.
    """
    lines = df.select(
        F.col(key_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    ).withColumn("_h", F.md5("line"))
    counts = lines.groupBy("_h").agg(F.count(F.lit(1)).alias("_cnt"))
    tagged = lines.join(counts, "_h").withColumn(
        "_keep", F.col("_cnt") <= max_count
    )
    kept_struct = F.array_sort(
        F.collect_list(
            F.when(F.col("_keep"), F.struct("line_idx", "line"))
        )
    )
    return (
        tagged.groupBy(key_col)
        .agg(
            kept_struct.alias("_kept"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("n_removed"),
        )
        .select(
            key_col,
            F.when(
                F.size("_kept") > 0,
                F.array_join(F.transform("_kept", lambda s: s["line"]), "\n"),
            ).alias("clean_text"),
            F.col("n_lines").cast("long"),
            F.col("n_removed").cast("long"),
        )
    )


def duplicate_ngram_fraction(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Intra-document repetition via duplicated n-grams (the Gopher
    repetition-rule family, arXiv:2112.11446 §A1.1): the fraction of a
    document's n-gram occurrences that belong to n-grams appearing more
    than once in that document. High values flag degenerate generations,
    spam and boilerplate loops that unigram measures miss.

    Per-doc (key, gram) counts partial-aggregate map-side; the fraction is
    a second map-side-combined aggregate on key — two shuffles, both on
    keys, nothing corpus-global.
    """
    from pyspark.sql import Window as W

    # codegen n-gram stream (posexplode + leads — occurrence counts need
    # the duplicates, so no distinct; see minhash_signature for the trade)
    wd = W.partitionBy(key_col).orderBy("_pos")
    leads = [F.lead("_t", j).over(wd) for j in range(1, n)]
    tokd = df.select(
        F.col(key_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t")
    )
    gram_stream = (
        tokd.select(
            F.col(key_col),
            F.concat_ws(" ", F.col("_t"), *leads).alias("gram"),
            (leads[-1] if leads else F.col("_t")).alias("_g"),
        )
        .where(F.col("_g").isNotNull())
        .drop("_g")
    )
    per_gram = gram_stream.groupBy(key_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_gram.groupBy(key_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_ngrams"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_duplicated"),
        )
        .withColumn(
            "dup_ngram_fraction",
            F.round(F.col("n_duplicated") / F.col("n_ngrams"), 6),
        )
    )


def pack_sequences(
    chunks: DataFrame,
    group_col: str = "lang",
    key_col: str = "doc_id",
    tokens_col: str = "n_chunk_tokens",
    pack_tokens: int = 512,
) -> DataFrame:
    """Sequence packing: lay each group's chunks out as one contiguous token
    stream (ordered by (key, chunk_idx)) and assign every chunk the training
    pack (context window) its first token lands in — GPT-style
    concatenate-and-slice packing, computed as indices without materializing
    the streams.

    One window per group gives each chunk its running token offset;
    ``pack_id = floor(offset / pack_tokens)``. At scale the group column is
    the unit of parallelism (language/source shard), so streams build
    independently per shard with a single shuffle on the group key.
    """
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(group_col)
        .orderBy(key_col, "chunk_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return chunks.withColumns(
        {
            "token_offset": off.cast("long"),
            "pack_id": F.floor(off / F.lit(float(pack_tokens))).cast("long"),
        }
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM fluency scoring (the CCNet/RefinedWeb perplexity-filter
    step with the KenLM 5-gram model replaced by a corpus-trained unigram
    model — the largest n-gram order whose training and scoring are both
    pure relational algebra).

    Train: token counts over the whole corpus (one map-side-combined
    shuffle on token). Score: join each document's token stream back to
    the count table and average ``-ln p(token)`` with add-one smoothing,
    ``p = (cnt + 1) / (N + |V|)``. Documents of boilerplate/common tokens
    score low (fluent under the corpus model), rare-token noise scores
    high — threshold on ``nll`` (or ``ppl = exp(nll)``) to gate.

    Scale shape: the count table is vocabulary-sized (millions of rows for
    a natural-language corpus, ~tens of MB) — far below the exploded token
    stream — so AQE picks a broadcast join for the score step and the
    corpus never shuffles on token twice. The two corpus scalars (N, |V|)
    ship as a broadcast single-row cross join, same pattern as the scalar
    subqueries in queries/relational2.py.

    Returns (key, n_tokens, nll, ppl); nll rounded 6 dp, ppl 4 dp
    (aggregate rounding policy — see queries/__init__.py docstring).
    """
    toks = df.select(key_col, F.explode(tokens(F.col(text_col))).alias("token"))
    # r11 opt (guide §1.2 #1): the vocabulary-sized count table feeds the
    # corpus scalars AND the score join — materialize it (tiny) so the
    # corpus tokenize + count shuffle runs once, not twice
    counts = materialize(
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    scalars = counts.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("vocab")
    )
    neg_log_p = -F.log(
        (F.col("cnt") + F.lit(1.0)) / (F.col("n_total") + F.col("vocab"))
    )
    return (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(scalars))
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(neg_log_p), 6).alias("nll"),
            F.round(F.exp(F.avg(neg_log_p)), 4).alias("ppl"),
        )
    )


def cross_doc_span_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Cross-document repeated-span statistics — the relational core of
    exact-substring train-set dedup (the suffix-array approach of
    "Deduplicating Training Data" re-expressed as fixed-width token
    n-grams): for each document, how much of it consists of n-token spans
    that also occur in OTHER documents.

    Shape tuned for the corpus-sized gram stream — NEVER builds gram
    strings. Building n-token concat strings through an array ``transform``
    lambda is interpreted per element (measured 39 s at sf0.1); instead the
    token stream posexplodes (codegen), each token hashes once, and every
    span's identity is a chained modular polynomial over the window of its
    n token hashes (4 ``lead``s + codegen arithmetic, one shuffle on the
    doc key — measured 0.8 s, 24×). Two INDEPENDENT 31-bit polynomials
    (different xxhash64 seed and multiplier) pack into one 62-bit key:
    one polynomial would birthday-collide for certain at corpus scale
    (10M grams ⇒ ~20k merges at 2³¹), two make both token- and gram-level
    collisions ~2⁻⁶² per pair. The string-exact DuckDB oracle holds at
    test SF, proving no collisions occur there. The document-frequency
    table is filtered to REPEATED grams before the join-back — the
    repeated set is the small minority of the vocabulary, so it
    broadcasts and the stream is never re-shuffled on gram. Documents
    shorter than n tokens survive with n_spans=0 and NULL fraction (every
    doc has ≥1 token row; its gram is NULL when no full span fits).

    Returns (key, n_spans, n_repeated, repeated_fraction).
    """
    from pyspark.sql import Window as W

    M = 2147483647  # Mersenne31, products stay < 2^62 in long arithmetic
    A1, A2 = 1315423911 % M, 2654435761 % M
    stream = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select(
        key_col, F.posexplode(tokens(F.col(text_col))).alias("pos", "_tok")
    ).select(
        key_col,
        "pos",
        F.pmod(F.xxhash64("_tok"), F.lit(M)).alias("th1"),
        F.pmod(F.xxhash64("_tok", F.lit(7)), F.lit(M)).alias("th2"),
    )
    w = W.partitionBy(key_col).orderBy("pos")
    leads = {}
    for j in range(1, n):
        leads[f"_l1{j}"] = F.lead("th1", j).over(w)
        leads[f"_l2{j}"] = F.lead("th2", j).over(w)
    st = stream.withColumns(leads)
    p1, p2 = F.col("th1"), F.col("th2")
    for j in range(1, n):
        p1 = F.pmod(p1 * F.lit(A1) + F.col(f"_l1{j}"), F.lit(M))
        p2 = F.pmod(p2 * F.lit(A2) + F.col(f"_l2{j}"), F.lit(M))
    grams = st.select(
        key_col,
        F.when(
            F.col(f"_l1{n - 1}").isNotNull(),
            F.shiftleft(p1, 31) + p2,
        ).alias("gh"),
    )
    repeated = (
        grams.filter(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.countDistinct(key_col).alias("df_docs"))
        .filter(F.col("df_docs") > 1)
        .select("gh", F.lit(1).alias("_rep"))
    )
    n_rep = F.count("_rep")
    n_spans = F.count("gh")
    return (
        grams.join(repeated, "gh", "left")
        .groupBy(key_col)
        .agg(
            n_spans.alias("n_spans"),
            n_rep.alias("n_repeated"),
            F.when(
                n_spans > 0, F.round(n_rep / n_spans.cast("double"), 6)
            ).alias("repeated_fraction"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM fluency scoring — one n-gram order above ``unigram_logprob``
    (same CCNet-perplexity-gate shape; see that docstring for the scale
    argument, which carries over: both count tables are vocabulary-bounded,
    AQE broadcasts them at the score join, the corpus shuffles on token
    once per count table).

    Train: bigram counts c2(w1,w2) and context counts c1(w1) over the
    corpus bigram stream. Score: per document, average ``-ln p(w2|w1)``
    with add-one smoothing, ``p = (c2 + 1) / (c1 + |V|)``, |V| = distinct
    unigram vocabulary. Bigrams are built in-expression (``zip_with`` of
    the two shifted slices — zero extra shuffle, stays in codegen), so
    only documents with >= 2 tokens appear in the output; the DuckDB twin
    mirrors that via zipped parallel ``unnest`` s.

    Returns (key, n_bigrams, nll, ppl); nll rounded 6 dp, ppl 4 dp
    (aggregate rounding policy — see queries/__init__.py docstring).
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # r11 opt (guide §1.2 #1): the bigram stream feeds three consumers
    # (both count tables + the score join) — materialize it once instead
    # of re-tokenizing the corpus per branch (8 parquet scans in the
    # before-plan). Checkpointing preserves the RDD's partitioning, so
    # the downstream shuffles — and the per-doc float-sum order behind
    # the 6-dp rounds — are unchanged.
    bg = materialize(
        df.filter(n >= 2)
        .select(key_col, F.explode(bigrams).alias("bg"))
        .select(key_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("cnt1"))
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    neg_log_p = -F.log(
        (F.col("cnt2") + F.lit(1.0)) / (F.col("cnt1") + F.col("vocab"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(neg_log_p), 6).alias("nll"),
            F.round(F.exp(F.avg(neg_log_p)), 4).alias("ppl"),
        )
    )


def windowed_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    min_count: int = 3,
    top_n: int = 300,
) -> DataFrame:
    """Windowed token co-occurrence with PMI scoring (word2vec / phrase-mining
    prep): for every token, pair it with its next ``window`` successors, count
    pairs corpus-wide, and score each surviving pair with pointwise mutual
    information ln(P(a,b) / (P(a)·P(b))).

    Scale shape: pair generation is a pure map-side array expression
    (``transform`` with the index lambda + ``slice`` — no positional
    self-join, so there is no doc_id-keyed shuffle and no skew on long
    documents; pair fan-out per token is bounded by ``window``). The only
    wide stages are the two wordcount-style groupBys (pairs and marginals),
    both map-side combined. Marginal counts and the two scalar totals are
    broadcast back — vocabulary ≪ corpus at any scale. Beyond-reference [NS];
    the reference has no text analytics (SURVEY.md §2.B).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(par).select(_tok(text_col).alias("toks"))
    # (t, i) -> pairs (t, toks[i+1 .. i+window]); slice is 1-based and
    # clamps at the array end, so short/1-token docs yield no pairs.
    pair_expr = (
        "flatten(transform(toks, (t, i) -> "
        f"transform(slice(toks, i + 2, {window}), "
        "u -> named_struct('tok_a', t, 'tok_b', u))))"
    )
    pairs = base.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.tok_a", "p.tok_b"
    )
    # r11 note: checkpointing pc and/or marg (each feeds 2-3 consumers)
    # was measured and REJECTED — the pair table is large relative to the
    # recompute and both variants read ~0.1 s slower at sf0.1 (min-of-5
    # interleaved A/B); the duplication here is two map-side-combined
    # wordcount aggregates, not a multiplicative subtree.
    pc = pairs.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("pair_count"))
    marg = (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    totals = pc.agg(F.sum("pair_count").cast("double").alias("cp")).crossJoin(
        marg.agg(F.sum("c").alias("ct"))
    )
    ma = marg.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    mb = marg.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("pair_count").cast("double") / F.col("cp"))
            / ((F.col("ca") / F.col("ct")) * (F.col("cb") / F.col("ct")))
        ),
        6,
    ).alias("pmi")
    return (
        pc.where(F.col("pair_count") >= min_count)
        .join(F.broadcast(ma), "tok_a")
        .join(F.broadcast(mb), "tok_b")
        .crossJoin(F.broadcast(totals))
        .select("tok_a", "tok_b", "pair_count", pmi)
        .orderBy(F.col("pair_count").desc(), "tok_a", "tok_b")
        .limit(top_n)
    )
