"""Deduplication operator family (SURVEY.md §2.B "LLM-data-pipeline"):

- exact dedup (hash-groupBy, keep-min-key) — the distributed version of the
  reference's keyed upsert dedup (R16, ``app/alpaca_service.py:194,207``);
- MinHash + LSH banding near-dup (shingle → minhash signature → banded
  bucket join → exact-jaccard verify);
- SimHash (63-bit, sign-of-weighted-bit-sums);
- n-gram Jaccard scoring for candidate pairs.

All compositions are pure DataFrame expressions — no Python UDFs — so they
scale: the LSH band join shuffles on (band_idx, band_hash) only; candidate
verification touches candidate pairs, never the O(n²) cross product.

ANSI-mode note (Spark 4 default): arithmetic overflow throws, so minhash
permutations work in a 31-bit modular space (h mod M, a*h+b mod M with
M = 2^31-1) — products stay < 2^62.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import distinct_tokens, shingles, tokens
from ..session import materialize

_MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime


def exact_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Group identical texts, keep the smallest key (deterministic winner).

    Returns (content_hash, keep_key, n_dupes) per distinct text.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(key_col).alias("keep_" + key_col),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def collapse_exact(
    df: DataFrame, text_col: str, key_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse identical texts to their min-key representative.

    Returns ``(reps, members)``: ``reps`` = the input rows whose key is the
    group representative (one per distinct text); ``members`` =
    ``(rep, member)`` mapping every input key to its representative
    (including ``(rep, rep)``).

    This is the scale guard for MinHash-LSH on real corpora: boilerplate
    text repeating 10⁵–10⁷× would otherwise put every copy in every band
    bucket (identical signatures) and blow the bucket pair-expansion up
    quadratically. Collapsing first makes the signature/banding cost
    O(distinct texts) and also skips re-hashing duplicate shingle sets —
    on dup-heavy corpora that's most of the MinHash work.
    """
    groups = df.groupBy(F.md5(F.col(text_col)).alias("_ch")).agg(
        F.min(key_col).alias("_rep")
    )
    # One join produces both outputs: the doc side shuffles once on the
    # content hash (partial-agg makes the groups side light; AQE skew-join
    # splits a hot hash). A separate semi-join for reps would shuffle the
    # full text payload a second time.
    annotated = df.withColumn("_ch", F.md5(F.col(text_col))).join(groups, "_ch")
    members = annotated.select(
        F.col("_rep").alias("rep"), F.col(key_col).alias("member")
    )
    reps = annotated.filter(F.col(key_col) == F.col("_rep")).drop("_ch", "_rep")
    return reps, members


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the universal-hash permutations
    (a odd, both bounded by M so a*h stays < 2^62 under ANSI arithmetic)."""
    half = (_MERSENNE31 - 1) // 2
    return [
        (
            2 * ((p * 1_103_515_245 + 12_345) % half) + 1,
            (p * 69_069 + 1) % _MERSENNE31,
        )
        for p in range(num_perm)
    ]


def minhash_signature(
    df: DataFrame,
    text_col: str,
    key_col: str,
    num_perm: int = 64,
    shingle_k: int = 3,
    base_hash: str = "md5",
) -> DataFrame:
    """(key, signature: array<long>) MinHash signatures.

    Shape chosen for codegen, not elegance: higher-order-function lambdas
    (transform/aggregate) are *interpreted* per array element in Spark, so
    folding 64 permutations inside array expressions costs ~1µs/element
    (measured). Instead: explode shingles → one base hash per shingle → 64
    codegen'd scalar permutations as ``min`` aggregates. Map-side partial
    aggregation collapses each partition to one 64-column row per doc before
    the shuffle, so the exchange is O(docs), not O(shingles).

    ``base_hash`` picks the per-shingle hash:

    - ``"md5"`` (default): first 8 hex chars of md5 as an integer (mod M) —
      engine-agnostic, so signatures (and therefore the whole LSH pipeline)
      are exactly reproducible by the DuckDB oracle. Costs hex formatting +
      string base conversion per shingle.
    - ``"xxhash64"``: Spark's native 64-bit hash (mod M) — the production
      fast path, ~2× on the signature stage (pure JVM long arithmetic, no
      string round-trip). Not reproducible outside Spark, so queries using
      it are checked against the md5 twin's verified output instead of a
      SQL oracle (candidate *recall* is the only hash-dependent part; the
      exact-Jaccard verify step is hash-independent).
    """
    if base_hash == "xxhash64":
        hash_expr = F.pmod(F.xxhash64("_s"), F.lit(_MERSENNE31))
    elif base_hash == "md5":
        hash_expr = F.pmod(
            F.conv(F.substring(F.md5("_s"), 1, 8), 16, 10).cast("long"),
            F.lit(_MERSENNE31),
        )
    else:
        raise ValueError(f"base_hash must be 'md5' or 'xxhash64', got {base_hash!r}")
    # Codegen shingle stream (round 4; BENCH §4 lesson): posexplode tokens →
    # k−1 window leads → concat_ws, whole-stage codegen end-to-end — the
    # array-building `shingles` HOF is interpreted per element and measured
    # 7+ s/5k docs alone at sf0.1. The lead stream emits duplicate shingles
    # where the HOF emitted array_distinct ones; the 64 min-aggregates are
    # duplicate-insensitive, so signatures are bit-identical. The window's
    # (key) exchange doubles as the groupBy distribution — one shuffle,
    # and short docs (< k tokens) drop out exactly as before.
    from pyspark.sql import Window as _W

    # Pin the doc-keyed exchange BEFORE the explode (r10 opt §1a): the
    # window's ENSURE_REQUIREMENTS exchange would otherwise carry the
    # exploded token stream — a few MB that AQE's byte-based coalescing
    # collapses to 1-2 post-shuffle tasks, serializing the per-shingle
    # hash + 64-permutation stage exactly where the CPU is. An explicit
    # hash repartition on the key (a) shuffles O(docs) text rows instead
    # of O(tokens) token rows, (b) satisfies the window AND the final
    # groupBy distribution (one exchange total), and (c) is never
    # coalesced. Signatures are per-doc MIN aggregates over longs, so
    # partitioning cannot change them.
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, key_col
    )
    wd = _W.partitionBy(key_col).orderBy("_pos")
    leads = [F.lead("_t", j).over(wd) for j in range(1, shingle_k)]
    tokd = df.select(
        F.col(key_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t")
    )
    sh_stream = tokd.select(
        F.col(key_col), F.concat_ws(" ", F.col("_t"), *leads).alias("_s"),
        (leads[-1] if leads else F.col("_t")).alias("_guard"),
    ).where(F.col("_guard").isNotNull()).drop("_guard")
    exploded = sh_stream.select(key_col, hash_expr.alias("_h"))
    # r11 opt (guide §1.2 #2, §5 "the driver"): the previous shape — 64
    # scalar `min(pmod(a_p*_h+b_p, M))` aggregates — made whole-stage
    # codegen emit and compile 64 expression trees' worth of Java source
    # PER INVOCATION (~1.8-2.4 s of driver wall in `toRdd`, the dominant
    # cost of every minhash query at bench scale). Same math, one loop:
    # explode the permutation INDEX (64 rows per shingle, entirely
    # post-exchange and pipelined — the doc-keyed repartition above still
    # carries only O(docs) rows), look the (a, b) constants up in two
    # foldable literal arrays, and aggregate ONE `min` keyed (doc, p).
    # hash(key) satisfies clustering on (key, p) and on (key), so both
    # aggregates and the window reuse the single pinned exchange — the
    # shuffle count and bytes are unchanged. min over longs is
    # duplicate/order-insensitive and the reassembly sorts by the unique
    # permutation index, so signatures are bit-identical.
    params = _perm_params(num_perm)
    a_arr = ", ".join(str(a) for a, _ in params)
    b_arr = ", ".join(str(b) for _, b in params)
    perm_rows = exploded.select(
        key_col,
        "_h",
        F.expr(f"explode(sequence(0, {num_perm - 1})) AS _p"),
    )
    sig_df = perm_rows.groupBy(key_col, "_p").agg(
        F.expr(
            f"min(pmod(element_at(array({a_arr}), _p + 1) * _h"
            f" + element_at(array({b_arr}), _p + 1), {_MERSENNE31})) AS _m"
        )
    )
    return sig_df.groupBy(key_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(_p, _m))), s -> s._m)"
            " AS signature"
        )
    )


def _banded(
    sig_df: DataFrame, key_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(k, band_idx, band_hash): one row per (doc, band); the band hash is
    xxhash64 over the band's signature slice (a grouping key only — pair
    correctness is guarded by the exact-Jaccard verify step)."""
    # Single expr string for the whole banding array (r10 opt: the Column
    # form was ~bands*rows_per_band*4 py4j round-trips per build);
    # named_struct/cast/element_at parse to the identical expression tree.
    structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(element_at(signature, {b * rows_per_band + r + 1}) as string)"
            for r in range(rows_per_band)
        )
        + ")))"
        for b in range(bands)
    )
    return sig_df.select(
        F.col(key_col).alias("k"),
        F.expr(f"explode(array({structs}))").alias("band"),
    ).select("k", "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    key_col: str,
    bands: int = 8,
    rows_per_band: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band-hash become a candidate pair.

    Explodes each signature into ``bands`` (band_idx, band_hash) rows, then
    self-joins on the band key — the shuffle key is the band hash, so skew is
    bounded by actual near-duplicate cluster sizes.
    Returns distinct (key_a, key_b) with key_a < key_b.

    Feed signatures of exact-dedup *representatives* (``collapse_exact``),
    never raw dup-heavy corpora: identical texts share every band, so each
    band bucket would hold the whole duplicate group and the in-bucket pair
    expansion is O(|bucket|²). ``bucket_cap`` is the additional safety valve
    for near-identical template families that survive exact collapse: each
    oversized bucket contributes pairs only among its ``bucket_cap`` smallest
    keys (deterministic truncation; recall for the dropped members is
    recovered by the other ``bands-1`` bands or by the clustering step).
    ``lsh_bucket_stats`` makes the truncation observable.
    """
    banded = _banded(sig_df, key_col, bands, rows_per_band)
    # One aggregation instead of a self-join: the self-join would evaluate
    # the whole signature lineage twice, and bucket sizes are bounded by
    # real near-dup cluster sizes, so in-expression pair expansion is cheap.
    grouped = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("k")).alias("ks"))
        .filter(F.size("ks") > 1)
    )
    if bucket_cap is not None:
        grouped = grouped.withColumn("ks", F.slice("ks", 1, bucket_cap))
    pair_arrays = F.transform(
        F.col("ks"),
        lambda x, i: F.transform(
            F.slice(F.col("ks"), i + 2, F.size(F.col("ks"))),
            lambda y: F.struct(x.alias("key_a"), y.alias("key_b")),
        ),
    )
    return (
        grouped.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.key_a", "p.key_b")
        .distinct()
    )


def lsh_bucket_stats(
    sig_df: DataFrame,
    key_col: str,
    bands: int = 8,
    rows_per_band: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Observability for the LSH bucket distribution: one row
    (n_buckets, max_bucket, n_over_cap, truncated_keys) — run it alongside a
    capped ``lsh_candidate_pairs`` so silent truncation is visible in job
    telemetry instead of discovered via missing pairs."""
    banded = _banded(sig_df, key_col, bands, rows_per_band)
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("sz")
    )
    cap = bucket_cap if bucket_cap is not None else 2**31 - 1
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > cap, 1).otherwise(0)).alias("n_over_cap"),
        F.sum(
            F.when(F.col("sz") > cap, F.col("sz") - cap).otherwise(0)
        ).alias("truncated_keys"),
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    key_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify step).

    Shingles are computed only for docs appearing in a candidate pair (semi
    join first) — the candidate set is tiny relative to the corpus, so the
    verify cost tracks near-dup density, not corpus size.
    """
    keys = (
        pairs.select(F.col("key_a").alias("k"))
        .unionByName(pairs.select(F.col("key_b").alias("k")))
        .distinct()
    )
    needed = docs.join(
        F.broadcast(keys), docs[key_col] == keys["k"], "left_semi"
    )
    sh = needed.repartition(docs.sparkSession.sparkContext.defaultParallelism).select(
        F.col(key_col).alias("k"),
        shingles(tokens(F.col(text_col)), shingle_k).alias("sh"),
    )
    a = sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.join(a, "key_a")
        .join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            F.round(F.when(union != 0, inter / union).otherwise(0.0), 6).alias("jaccard"),
        )
    )


def minhash_lsh_rep_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 3,
    bucket_cap: int | None = None,
    base_hash: str = "md5",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Scale core of MinHash-LSH dedup: ``(rep_pairs, members, reps)``.

    Collapses exact duplicates first (``collapse_exact``), then runs
    signature → banding → exact-Jaccard verify over *representatives only* —
    signature and bucket cost track distinct texts, and the degenerate
    all-identical bucket can't occur. ``rep_pairs`` are verified near-dup
    pairs among representatives; ``members`` maps every original key to its
    representative. Cluster consumers feed both straight into connected
    components (rep_pairs as edges + members as rep→member star edges) —
    O(docs) edges, never a quadratic pair materialization.
    """
    # Only (key, text) participates from here on — project before the
    # collapse so the content-hash shuffle never carries the other columns.
    df = df.select(key_col, text_col)
    reps, members = collapse_exact(df, text_col, key_col)
    # Both frames feed 3+ plan branches (signature, verify, expansion);
    # without materialization every branch re-runs the collapse shuffle
    # (measured 1.8× at sf0.1). materialize stores the blocks AND
    # truncates the lineage so downstream plans start from the blocks;
    # plain persist() keeps the full plan in every branch and measured
    # slower than no caching at all.
    reps = materialize(reps)
    members = materialize(members)
    rows = num_perm // bands
    sig = minhash_signature(reps, text_col, key_col, num_perm, shingle_k, base_hash)
    cands = lsh_candidate_pairs(sig, key_col, bands, rows, bucket_cap)
    verified = jaccard_pairs(reps, cands, text_col, key_col, shingle_k)
    return verified.filter(F.col("jaccard") >= threshold), members, reps


def minhash_lsh_near_dups(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 3,
    bucket_cap: int | None = None,
    base_hash: str = "md5",
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs with exact verification.

    Built on ``minhash_lsh_rep_pairs`` (exact-collapse first), then expands
    representative pairs back to member pairs so the output is identical to
    running LSH over the raw corpus: identical texts have identical shingle
    sets, so every member of a rep's group pairs exactly like its rep
    (cross-group, jaccard unchanged) and with its co-members (jaccard 1.0).
    The expansion is proportional to the *output* pair count — inherent to a
    pair-list result; pipelines that only need clusters use
    ``minhash_lsh_rep_pairs`` and skip it.
    """
    rep_pairs, members, reps = minhash_lsh_rep_pairs(
        df, text_col, key_col, threshold, num_perm, bands, shingle_k, bucket_cap,
        base_hash,
    )
    # rep_pairs is near-dup-density-sized (tiny); materialize it so the
    # expansion joins and the final orderBy's range-partitioning sample pass
    # don't each re-run the whole signature/verify subtree.
    rep_pairs = materialize(rep_pairs)
    ma = members.select(F.col("rep").alias("key_a"), F.col("member").alias("ma"))
    mb = members.select(F.col("rep").alias("key_b"), F.col("member").alias("mb"))
    cross = (
        rep_pairs.join(ma, "key_a")
        .join(mb, "key_b")
        .select(
            F.least("ma", "mb").alias("key_a"),
            F.greatest("ma", "mb").alias("key_b"),
            "jaccard",
        )
    )
    # Within-group pairs (identical texts, jaccard exactly 1.0). Docs whose
    # text yields an EMPTY shingle set (< shingle_k tokens) never enter the
    # raw pipeline (no shingles → no signature → no bands), so their dup
    # groups must not pair here either — keep only groups whose rep
    # shingles. "Shingle set non-empty" ⟺ token count ≥ k (textfns.shingles
    # guards exactly on that), and the token-count form is pure codegen —
    # building shingle arrays here measured 9s/5k docs on the coalesced
    # post-join partitioning. Pair expansion reuses the in-expression trick
    # (one groupBy, quadratic only in true dup-group size = the output).
    ok_reps = reps.filter(
        F.size(tokens(F.col(text_col))) >= shingle_k
    ).select(F.col(key_col).alias("rep"))
    dup_groups = (
        members.join(ok_reps, "rep", "left_semi")
        .groupBy("rep")
        .agg(F.array_sort(F.collect_list("member")).alias("ks"))
        .filter(F.size("ks") > 1)
    )
    within_arrays = F.transform(
        F.col("ks"),
        lambda x, i: F.transform(
            F.slice(F.col("ks"), i + 2, F.size(F.col("ks"))),
            lambda y: F.struct(x.alias("key_a"), y.alias("key_b")),
        ),
    )
    within = (
        dup_groups.select(F.explode(F.flatten(within_arrays)).alias("p"))
        .select("p.key_a", "p.key_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within).orderBy("key_a", "key_b")


def cross_corpus_near_dups(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 3,
    base_hash: str = "md5",
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Doc-level cross-corpus near-dup detection: which ``corpus`` documents
    near-duplicate any ``probe`` document (train-vs-eval decontamination at
    document granularity — the shingle-level gate is
    operators/text.py:contamination_check).

    Same LSH shape as self-dedup but the band join is corpus×probe instead
    of a self-join: signatures for both sides, inner join on (band_idx,
    band_hash), exact-Jaccard verify on the candidates. The probe side
    (eval suites) is tiny, so its banded form broadcasts and the corpus
    side never shuffles on anything wider than its band keys.

    Two scale guards mirror the self-dedup path (VERDICT r3 #4):

    - **collapse-first**: identical corpus texts collapse to one
      representative before signing/banding (``collapse_exact``), so a
      dup-heavy corpus signs each distinct text once and a boilerplate
      text colliding with a probe costs ONE candidate pair, not one per
      copy; matches expand back to every member afterwards.
    - **signature reuse**: pass ``corpus_sigs`` (a persisted
      minhash_signature store with identical params — the table
      ``streaming_incremental_dedup`` / ``incremental_minhash_dedup``
      maintain) and the corpus is never re-signed: only candidate docs'
      raw text is read back for the exact-Jaccard verify, via a semi-join
      that prunes the corpus scan to the candidate keys. Decontaminating
      N eval suites then costs N band joins over one persisted store
      instead of N full-corpus MinHash passes. (Collapse-first is skipped
      on this path: the store is keyed per doc.)

    Returns (corpus_key, probe_key, jaccard) with jaccard ≥ threshold.
    """
    rows = num_perm // bands
    if corpus_sigs is None:
        reps, members = collapse_exact(corpus, text_col, key_col)
        sig_c = minhash_signature(reps, text_col, key_col, num_perm, shingle_k, base_hash)
    else:
        members = None
        sig_c = corpus_sigs
    # verify always reads the RAW corpus (rep keys are corpus keys), pruned
    # by the candidate semi-join — avoids materializing rep text twice
    verify_docs = corpus
    sig_p = minhash_signature(probe, text_col, key_col, num_perm, shingle_k, base_hash)
    b_c = _banded(sig_c, key_col, bands, rows)
    b_p = _banded(sig_p, key_col, bands, rows)
    cands = materialize(
        b_c.select(
            F.col("k").alias("corpus_key"), "band_idx", "band_hash"
        )
        .join(
            F.broadcast(
                b_p.select(F.col("k").alias("probe_key"), "band_idx", "band_hash")
            ),
            ["band_idx", "band_hash"],
        )
        .select("corpus_key", "probe_key")
        .distinct()
    )  # feeds both the semi-join and verify
    # verify with exact Jaccard — shingle ONLY candidate docs (semi-join
    # prunes the corpus scan; candidate count tracks contamination density,
    # not corpus size)
    sh_c = (
        verify_docs.join(
            cands.select(F.col("corpus_key").alias(key_col)).distinct(),
            key_col,
            "left_semi",
        )
        .select(
            F.col(key_col).alias("corpus_key"),
            shingles(tokens(F.col(text_col)), shingle_k).alias("sh_c"),
        )
    )
    sh_p = probe.select(
        F.col(key_col).alias("probe_key"),
        shingles(tokens(F.col(text_col)), shingle_k).alias("sh_p"),
    )
    inter = F.size(F.array_intersect("sh_c", "sh_p")).cast("double")
    union = (F.size("sh_c") + F.size("sh_p")).cast("double") - inter
    hits = (
        cands.join(sh_c, "corpus_key")
        .join(F.broadcast(sh_p), "probe_key")
        .select(
            "corpus_key",
            "probe_key",
            F.round(F.when(union != 0, inter / union).otherwise(0.0), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if members is not None:
        # expand rep-level hits to every identical-text member (identical
        # text ⇒ identical Jaccard, so the score carries over verbatim)
        hits = (
            hits.withColumnRenamed("corpus_key", "rep")
            .join(members, "rep")
            .select(
                F.col("member").alias("corpus_key"), "probe_key", "jaccard"
            )
        )
    return hits.orderBy("corpus_key", "probe_key")


def simhash63(
    df: DataFrame, text_col: str, key_col: str, base_hash: str = "md5"
) -> DataFrame:
    """63-bit SimHash per document (bit 63 unused: keeps the value a
    non-negative long under ANSI arithmetic).

    Scalable shape: explode tokens → one 63-bit per-token hash → 63
    conditional sums in a single grouped aggregation → reassemble bits.

    ``base_hash`` picks the per-token hash (same trade as
    ``minhash_signature``):

    - ``"md5"`` (default): hi 32 bits × 2^31 + lo 31 bits of the md5 hex —
      engine-agnostic, so the whole pipeline is oracle-checkable.
    - ``"xxhash64"``: Spark's native 64-bit hash shifted to 63 nonnegative
      bits — the production fast path (pure JVM long arithmetic, no
      hex-string round-trip per token). Not reproducible outside Spark;
      checked structurally against the md5 twin (hamming-0 pairs — i.e.
      identical distinct-token sets — are hash-independent and must agree).
    """
    # Doc-keyed spread before the explode (r10 opt §1a, same reasoning as
    # minhash_signature): the per-token md5/xxhash + 21 packed partial sums
    # otherwise run inside the single-split scan stage (1 task at bench
    # SFs). Hash repartition on the key also satisfies the groupBy below,
    # so the token stream never crosses an exchange; the packed-lane SUMs
    # are integer aggregates, partition-order-exact.
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, key_col)
    if base_hash == "xxhash64":
        tok = df.select(
            F.col(key_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok")
        ).withColumn("h", F.shiftrightunsigned(F.xxhash64("tok"), 1))
    elif base_hash == "md5":
        md = F.md5("tok")
        hi = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
        tok = df.select(
            F.col(key_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok")
        ).withColumn("h", hi * F.lit(2_147_483_648) + F.pmod(lo, F.lit(2_147_483_648)))
    else:
        raise ValueError(f"base_hash must be 'md5' or 'xxhash64', got {base_hash!r}")
    # Packed bit-count folding (round-3 perf, VERDICT r2 "Next round" #4):
    # instead of 63 conditional ±1 sums (63-wide agg buffer, a branch per
    # bit per token), spread each token hash's bits into 21 packed longs —
    # pack p holds bits 3p..3p+2 in three 21-bit lanes — and take 21
    # branch-free SUMs. Lane l of pack p then holds count(tokens with bit
    # 3p+l set); the sign test sum_j > 0 ⟺ 2·cnt_j > n_tokens recovers the
    # EXACT same simhash (oracle-identical). Lane capacity 2^21-1 distinct
    # tokens per doc — beyond any real document (a doc would need >2M
    # distinct tokens ≈ tens of MB of unique words to overflow).
    lane = 21
    lane_mask = (1 << lane) - 1
    # One expr string per packed lane / per reassembly term (r10 opt: the
    # Column-algebra form was ~1000 py4j round-trips per build). cast(7 as
    # bigint) etc. mirror the original F.lit(7).cast("long") literals
    # exactly, so the parsed trees — and therefore results — are identical.
    spread_cols = [
        F.expr(
            f"((shiftright(h, {3 * p}) & cast(7 as bigint)) & cast(1 as bigint))"
            f" + shiftleft((shiftright(shiftright(h, {3 * p}) & cast(7 as bigint), 1))"
            f" & cast(1 as bigint), {lane})"
            f" + shiftleft((shiftright(shiftright(h, {3 * p}) & cast(7 as bigint), 2))"
            f" & cast(1 as bigint), {2 * lane}) AS _p{p}"
        )
        for p in range(21)
    ]
    packed = tok.select(key_col, *spread_cols)
    sums = packed.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.expr(f"sum(_p{p}) AS _s{p}") for p in range(21)],
    )
    terms = " + ".join(
        f"(CASE WHEN 2 * (shiftright(_s{j // 3}, {(j % 3) * lane})"
        f" & cast({lane_mask} as bigint)) > _n"
        f" THEN shiftleft(cast(1 as bigint), {j}) ELSE cast(0 as bigint) END)"
        for j in range(63)
    )
    return sums.select(key_col, F.expr(f"{terms} AS simhash"))


def simhash_banded_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    base_hash: str = "md5",
) -> DataFrame:
    """SimHash LSH: band the 63-bit simhash into ``bands`` contiguous bit
    chunks; docs sharing any chunk *exactly* become candidates; verify with
    the exact hamming distance. Pigeonhole gives guaranteed recall for
    pairs with hamming < ``bands`` (≤ bands-1 differing bits can spoil at
    most bands-1 chunks), probabilistic above.

    Same scale shape as MinHash banding: the shuffle key is (band_idx,
    chunk value), bucket sizes track real near-dup density plus 16-bit
    birthday collisions, and pair expansion is in-expression per bucket.
    Band keys are exact value tuples, so the whole pipeline is
    DuckDB-checkable (no engine-specific hash in the grouping key).

    Returns (key_a, key_b, hamming), key_a < key_b, hamming ≤ max_hamming.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    sim = materialize(simhash63(df, text_col, key_col, base_hash))
    # Exact-collapse first (round-3 perf; same hazard fix as the MinHash
    # family): a near-dup-dense corpus puts hundreds of IDENTICAL simhash
    # values in one (band_idx, chunk) bucket, and banding raw doc keys then
    # pays quadratic candidate expansion for pairs the hash already proves
    # are hamming-0. Band the DISTINCT sim values only (bucket cost tracks
    # distinct sims), verify rep pairs, then re-expand: identical sims band
    # identically, so the expanded pair set is bit-for-bit the same as
    # doc-level banding — the DuckDB oracle keeps the naive formulation.
    groups = materialize(sim.groupBy("simhash").agg(F.min(key_col).alias("rep")))
    banded = groups.select(
        F.col("rep").alias("k"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("k", "band.band_idx", "band.band_hash")
    grouped = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("k")).alias("ks"))
        .filter(F.size("ks") > 1)
    )
    pair_arrays = F.transform(
        F.col("ks"),
        lambda x, i: F.transform(
            F.slice(F.col("ks"), i + 2, F.size(F.col("ks"))),
            lambda y: F.struct(x.alias("rep_a"), y.alias("rep_b")),
        ),
    )
    rep_cands = (
        grouped.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.rep_a", "p.rep_b")
        .distinct()
    )
    ga = groups.select(F.col("rep").alias("rep_a"), F.col("simhash").alias("sim_a"))
    gb = groups.select(F.col("rep").alias("rep_b"), F.col("simhash").alias("sim_b"))
    rep_pairs = (
        rep_cands.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(
            "rep_a",
            "rep_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    members = sim.join(groups, "simhash").select(
        F.col(key_col).alias("member"), "rep"
    )
    cross = (
        rep_pairs.join(
            members.withColumnsRenamed({"member": "m_a", "rep": "rep_a"}), "rep_a"
        )
        .join(members.withColumnsRenamed({"member": "m_b", "rep": "rep_b"}), "rep_b")
        .select(
            F.least("m_a", "m_b").alias("key_a"),
            F.greatest("m_a", "m_b").alias("key_b"),
            "hamming",
        )
    )
    # hamming-0 pairs never reach rep_pairs (identical sims share one rep):
    # emit them directly as the within-group self-join
    intra = (
        members.alias("x")
        .join(members.alias("y"), "rep")
        .filter(F.col("x.member") < F.col("y.member"))
        .select(
            F.col("x.member").alias("key_a"),
            F.col("y.member").alias("key_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(intra).orderBy("key_a", "key_b")


def simhash_near_dups(
    df: DataFrame, text_col: str, key_col: str, max_hamming: int = 16
) -> DataFrame:
    """SimHash near-dup pairs among consecutive-key candidates — a bounded
    demo that oracle-checks the hash itself; ``simhash_banded_pairs`` is
    the real at-scale candidate generator.
    """
    s = simhash63(df, text_col, key_col)
    a = s.select(F.col(key_col).alias("key_a"), F.col("simhash").alias("sim_a"))
    b = s.select(F.col(key_col).alias("key_b"), F.col("simhash").alias("sim_b"))
    return (
        a.join(b, F.col("key_b") == F.col("key_a") + 1)
        .select(
            "key_a",
            "key_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("key_a")
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    stored_sigs: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 3,
    base_hash: str = "md5",
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: a NEW batch of documents against a
    persisted signature store — the production steady-state of corpus
    dedup, where the existing corpus is never re-read. ``base_hash`` must
    match whatever hashed the store (signatures from different base hashes
    never collide meaningfully). ``stored_sigs``
    needs only (key, signature) (the minhash_signature output, typically
    a parquet table partitioned by band-friendly key ranges); raw stored
    text is not touched, so the verify step uses the signature-estimated
    Jaccard (fraction of equal components — the standard MinHash
    estimator) instead of exact shingle overlap.

    Shape: signatures for the new batch only, band join new×store (the
    new side broadcasts — a batch is tiny next to the store), estimator
    over the candidate pairs. Store-side cost is one scan of the
    signature table; nothing re-hashes.

    Returns (new_key, stored_key, est_jaccard) with est ≥ threshold.
    """
    rows = num_perm // bands
    # ``new_sigs`` lets callers that already signed the batch (e.g. the
    # streaming sink, which both checks and persists signatures) skip the
    # re-hash; it must come from minhash_signature with identical params.
    # r11 opt (guide §1.2 #1): the batch signatures feed both the banding
    # and the estimator join — materialize the (batch-sized) table so the
    # signature pipeline runs once; caller-provided sigs are left alone
    sig_new = (
        new_sigs
        if new_sigs is not None
        else materialize(
            minhash_signature(
                new_docs, text_col, key_col, num_perm, shingle_k, base_hash
            )
        )
    )
    b_new = _banded(sig_new, key_col, bands, rows).select(
        F.col("k").alias("new_key"), "band_idx", "band_hash"
    )
    b_old = _banded(stored_sigs, key_col, bands, rows).select(
        F.col("k").alias("stored_key"), "band_idx", "band_hash"
    )
    cands = (
        b_old.join(F.broadcast(b_new), ["band_idx", "band_hash"])
        .select("new_key", "stored_key")
        .distinct()
    )
    sa = sig_new.select(F.col(key_col).alias("new_key"), F.col("signature").alias("sig_a"))
    sb = stored_sigs.select(
        F.col(key_col).alias("stored_key"), F.col("signature").alias("sig_b")
    )
    # 64 comparisons per CANDIDATE pair — interpreted HOF is fine here
    # (candidate count tracks near-dup density, not corpus size)
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(F.broadcast(sa), "new_key")
        .join(sb, "stored_key")
        .select(
            "new_key",
            "stored_key",
            F.round(matches / F.lit(float(num_perm)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .orderBy("new_key", "stored_key")
    )


def lsh_band_cost_profile(
    sig_df: DataFrame, key_col: str, bands: int = 8, rows_per_band: int = 8
) -> DataFrame:
    """Per-band LSH cost audit — the sizing tool you run BEFORE a full-corpus
    dedup: for each band, the bucket count, total keys, largest bucket, and
    the candidate-pair bill Σ sz·(sz−1)/2 — exact per band, and an UPPER
    BOUND on the deduped candidate set ``lsh_candidate_pairs`` emits (that
    operator dedups pairs that collide in several bands and may apply
    ``bucket_cap``). At 100 TB this one cheap aggregation (signatures →
    band-group sizes → 8-row rollup) tells you whether the (bands × rows)
    choice explodes quadratically on a skewed corpus — before you pay for it.

    Bucket membership is hash-independent (two keys share a bucket iff their
    signature slices are equal), so the profile has a full SQL oracle even
    over xxhash64-grouped bands."""
    banded = _banded(sig_df, key_col, bands, rows_per_band)
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("sz").alias("n_keys"),
            F.max("sz").alias("max_bucket"),
            F.sum(
                (F.col("sz") * (F.col("sz") - F.lit(1)) / F.lit(2)).cast("long")
            ).alias("candidate_pairs"),
        )
        .orderBy("band_idx")
    )


def containment_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    key_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Asymmetric shingle-set containment for candidate pairs:
    c_a_in_b = |A∩B| / |A| (how much of doc A's shingle set doc B covers)
    and the mirror c_b_in_a — the quote / boilerplate / subset-dup
    semantics Jaccard misses (a short doc fully quoted inside a long one
    has high containment but low Jaccard). Same verify-step scale shape as
    ``jaccard_pairs``: shingles only for docs in a candidate pair."""
    keys = (
        pairs.select(F.col("key_a").alias("k"))
        .unionByName(pairs.select(F.col("key_b").alias("k")))
        .distinct()
    )
    needed = docs.join(F.broadcast(keys), docs[key_col] == keys["k"], "left_semi")
    sh = needed.repartition(docs.sparkSession.sparkContext.defaultParallelism).select(
        F.col(key_col).alias("k"),
        shingles(tokens(F.col(text_col)), shingle_k).alias("sh"),
    )
    a = sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "key_a")
        .join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            F.round(
                F.when(F.size("sh_a") != 0, inter / F.size("sh_a")).otherwise(0.0), 6
            ).alias("c_a_in_b"),
            F.round(
                F.when(F.size("sh_b") != 0, inter / F.size("sh_b")).otherwise(0.0), 6
            ).alias("c_b_in_a"),
        )
    )


def containment_near_dups(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 3,
    bucket_cap: int | None = None,
    base_hash: str = "md5",
) -> DataFrame:
    """End-to-end asymmetric-containment near-dups with the same
    collapse-first scale shape as ``minhash_lsh_near_dups``: exact-collapse →
    signature/banding over representatives → containment verify → re-expand.
    Identical texts have identical shingle sets, so rep-level containment
    values carry to every member pair verbatim; the one asymmetric wrinkle
    is orientation — when least/greatest reorders an expanded pair, the two
    containment columns swap with it. Keeps pairs with containment ≥
    ``threshold`` in EITHER direction (orientation-independent gate)."""
    df = df.select(key_col, text_col)
    reps, members = collapse_exact(df, text_col, key_col)
    reps = materialize(reps)
    members = materialize(members)
    rows = num_perm // bands
    sig = minhash_signature(reps, text_col, key_col, num_perm, shingle_k, base_hash)
    cands = lsh_candidate_pairs(sig, key_col, bands, rows, bucket_cap)
    cont = containment_pairs(reps, cands, text_col, key_col, shingle_k)
    rep_pairs = materialize(
        cont.filter(
            (F.col("c_a_in_b") >= threshold) | (F.col("c_b_in_a") >= threshold)
        )
    )
    ma = members.select(F.col("rep").alias("key_a"), F.col("member").alias("ma"))
    mb = members.select(F.col("rep").alias("key_b"), F.col("member").alias("mb"))
    swapped = F.col("ma") > F.col("mb")
    cross = (
        rep_pairs.join(ma, "key_a")
        .join(mb, "key_b")
        .select(
            F.least("ma", "mb").alias("key_a"),
            F.greatest("ma", "mb").alias("key_b"),
            F.when(swapped, F.col("c_b_in_a"))
            .otherwise(F.col("c_a_in_b"))
            .alias("c_a_in_b"),
            F.when(swapped, F.col("c_a_in_b"))
            .otherwise(F.col("c_b_in_a"))
            .alias("c_b_in_a"),
        )
    )
    ok_reps = reps.filter(F.size(tokens(F.col(text_col))) >= shingle_k).select(
        F.col(key_col).alias("rep")
    )
    dup_groups = (
        members.join(ok_reps, "rep", "left_semi")
        .groupBy("rep")
        .agg(F.array_sort(F.collect_list("member")).alias("ks"))
        .filter(F.size("ks") > 1)
    )
    within_arrays = F.transform(
        F.col("ks"),
        lambda x, i: F.transform(
            F.slice(F.col("ks"), i + 2, F.size(F.col("ks"))),
            lambda y: F.struct(x.alias("key_a"), y.alias("key_b")),
        ),
    )
    within = dup_groups.select(
        F.explode(F.flatten(within_arrays)).alias("p")
    ).select(
        "p.key_a",
        "p.key_b",
        F.lit(1.0).alias("c_a_in_b"),
        F.lit(1.0).alias("c_b_in_a"),
    )
    return cross.unionByName(within).orderBy("key_a", "key_b")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.9,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set-Jaccard self-join via prefix filtering
    (AllPairs / PPJoin candidate scheme, Bayardo et al. WWW'07 /
    Xiao et al. WWW'08) — the LOSSLESS alternative to MinHash-LSH.

    Set elements are k-token shingles (k=3 default), NOT raw tokens: the
    prefix principle is element-agnostic, but its COST is not. Posting
    lists are bounded by element document-frequency, and over a natural-
    language vocabulary even a document's rarest raw tokens appear in
    hundreds of documents (Σ df² blowup — measured 178 s at sf0.1 on the
    token variant); shingle space is combinatorially larger, so df ≈ 1
    except for genuinely shared passages and the candidate join touches
    near-dup pairs only (2.9 s same data, same answer class as the
    MinHash rows it cross-checks).

    Each representative's DISTINCT shingles are ordered by global
    document frequency (rarest first, shingle string as tiebreak); only
    the first ``m − ⌈t·m⌉ + 1`` are indexed. Two sets with Jaccard ≥ t
    must overlap in ≥ ⌈t·m⌉ elements, so skipping fewer than that many
    from either side cannot miss a qualifying pair — candidate generation
    is provably complete (engine-tested against naive all-pairs), and the
    size filter ⌈t·m_a⌉ ≤ m_b adds the standard length-based prune for
    free. Verification counts shared shingles with a candidate-pruned
    gram join (no arrays, pure grouped aggregation), then
    J = |∩| / (m_a + m_b − |∩|).

    Scale shape: frequency rank is a per-doc window (bounded by doc gram
    count, never global); the candidate join runs over prefix postings
    only; the verify join is semi-join-pruned to candidate docs.
    Exact-collapse first keeps all of it O(distinct texts).
    """
    from pyspark.sql import Window as W

    from ..functions.textfns import tokens

    reps, _ = collapse_exact(df, text_col, key_col)
    reps = reps.select(F.col(key_col).alias("k"), F.col(text_col).alias("_txt"))
    # Doc-keyed spread before the explode (r10 opt §1a): pins the shingle
    # build + per-gram md5 at full width instead of the 1-2 AQE-coalesced
    # tasks the window's byte-sized exchange would get; counts/row_numbers
    # downstream are partition-order-exact.
    reps = reps.repartition(df.sparkSession.sparkContext.defaultParallelism, "k")
    # codegen shingle stream (posexplode → leads → concat_ws), then distinct
    # for set semantics
    wd = W.partitionBy("k").orderBy("_pos")
    tokd = reps.select(
        "k", F.posexplode(tokens(F.col("_txt"))).alias("_pos", "_t")
    )
    leads = [F.lead("_t", j).over(wd) for j in range(1, shingle_k)]
    gram = (
        tokd.select(
            "k",
            F.concat_ws(" ", F.col("_t"), *leads).alias("g"),
            leads[-1].alias("_guard"),
        )
        .where(F.col("_guard").isNotNull())
        .select("k", "g")
        .distinct()
    )
    gram = materialize(gram)  # m / freq / prefix / verify
    m = gram.groupBy("k").agg(F.count(F.lit(1)).alias("m"))
    freq = gram.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    rk = (
        gram.join(freq, "g")
        .join(m, "k")
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("k").orderBy("c", "g"))
        )
    )
    pre = rk.filter(
        F.col("rn")
        <= F.col("m") - F.ceil(F.lit(threshold) * F.col("m")) + F.lit(1)
    ).select("k", "g", "m")
    cand = (
        pre.select(F.col("k").alias("key_a"), "g", F.col("m").alias("m_a"))
        .join(
            pre.select(F.col("k").alias("key_b"), "g", F.col("m").alias("m_b")),
            "g",
        )
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.ceil(F.lit(threshold) * F.col("m_a")) <= F.col("m_b"))
            & (F.ceil(F.lit(threshold) * F.col("m_b")) <= F.col("m_a"))
        )
        .select("key_a", "key_b", "m_a", "m_b")
        .distinct()
    )
    cand = materialize(cand)  # keys + final join branches
    keys = (
        cand.select(F.col("key_a").alias("k"))
        .unionByName(cand.select(F.col("key_b").alias("k")))
        .distinct()
    )
    cgram = gram.join(F.broadcast(keys), "k", "left_semi")
    inter = (
        cgram.select(F.col("k").alias("key_a"), "g")
        .join(cgram.select(F.col("k").alias("key_b"), "g"), "g")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter").cast("double") / (
        F.col("m_a").cast("double")
        + F.col("m_b").cast("double")
        - F.col("inter").cast("double")
    )
    return (
        cand.join(inter, ["key_a", "key_b"])
        .select("key_a", "key_b", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )



_WINNOW_POSCAP = 1 << 21  # per-doc position tiebreak space (2M-token docs)


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    key_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    window of ``w`` consecutive gram hashes, and select the minimum of
    each window (rightmost occurrence on ties). Guarantee: any shared
    token run of length ≥ w + k − 1 between two documents yields at
    least one shared fingerprint — a LOCAL sampling scheme, unlike
    MinHash's global-min (document-level) sampling, so it detects
    *partial* overlap (shared paragraphs), not just whole-doc
    similarity.

    Spark shape: the gram stream is the codegen posexplode → window
    leads → concat_ws pipeline (BENCH §4 lesson); the per-window min is
    one more frame over the SAME (key, pos) sort — rightmost-min is
    encoded order-free as ``min(h·2^21 + (POSCAP−1−pos))`` so both
    engines pick identical fingerprints without an argmin. One
    exchange total (the per-doc window sort); output is the distinct
    (doc, fingerprint) postings, O(n_grams / w · 2) expected rows.

    Per-gram hash is the md5-prefix integer (mod 2^31−1), so the whole
    scheme has an exact DuckDB oracle. Docs shorter than w + k − 1
    tokens select nothing (no complete window) — the documented noise
    threshold.
    """
    from pyspark.sql import Window as _W

    from ..functions.textfns import tokens

    reps, _ = collapse_exact(df, text_col, key_col)
    # Doc-keyed spread before the explode (r10 opt §1a): the gram build +
    # per-gram md5 + two window frames otherwise run in the 1-2 tasks AQE
    # coalesces the byte-cheap window exchange to. min-over-window and
    # distinct are partition-order-exact.
    reps = reps.repartition(
        df.sparkSession.sparkContext.defaultParallelism, key_col
    )
    wd = _W.partitionBy("k").orderBy("_pos")
    tokd = reps.select(
        F.col(key_col).alias("k"),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t"),
    )
    leads = [F.lead("_t", j).over(wd) for j in range(1, k)]
    grams = (
        tokd.select(
            "k",
            "_pos",
            F.concat_ws(" ", F.col("_t"), *leads).alias("_g"),
            leads[-1].alias("_guard"),
        )
        .where(F.col("_guard").isNotNull())
        .drop("_guard")
    )
    h = F.pmod(
        F.conv(F.substring(F.md5("_g"), 1, 8), 16, 10).cast("long"),
        F.lit(_MERSENNE31),
    )
    grams = grams.select("k", "_pos", h.alias("_h"))
    # rightmost-min winnow: smallest hash wins, largest position breaks ties
    enc = (
        F.col("_h") * F.lit(_WINNOW_POSCAP)
        + (F.lit(_WINNOW_POSCAP - 1) - F.col("_pos"))
    )
    wsel = _W.partitionBy("k").orderBy("_pos").rowsBetween(0, w - 1)
    wd2 = _W.partitionBy("k").orderBy("_pos")
    sel = (
        grams.select(
            "k",
            F.min(enc).over(wsel).alias("_sel"),
            F.lead("_pos", w - 1).over(wd2).alias("_full"),
        )
        .where(F.col("_full").isNotNull())
        .select("k", F.shiftright(F.col("_sel"), 21).alias("fp"))
        .distinct()
    )
    return sel


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int = 50,
) -> DataFrame:
    """Partial-overlap pairs via shared winnowing fingerprints — the MOSS
    comparison step. Fingerprints appearing in more than ``max_postings``
    representatives are dropped BEFORE the pair join (MOSS's boilerplate
    guard: legal headers / license blocks shared by everything carry no
    plagiarism signal and would otherwise explode the posting-list
    self-join quadratically). Overlap score = shared fingerprints /
    min(|fpA|, |fpB|) over the SAME filtered posting space, so the
    score's numerator and denominator are consistent.

    Scale: the pair space is Σ postings² per fingerprint, capped at
    max_postings² per list — never corpus²; sizes join back broadcast.
    """
    # r11 opt (guide §1.2 #1): the posting list feeds four consumers (the
    # cap filter, the per-doc sizes, and both sides of the pair join) —
    # materialize it once instead of re-running the whole collapse + gram
    # + winnow pipeline per branch (32 parquet scans in the before-plan
    # of dedup_winnowing_overlap)
    fps = materialize(winnowing_fingerprints(df, text_col, key_col, k=k, w=w))
    kept = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= max_postings)
        .select("fp")
    )
    fps = fps.join(kept, "fp")
    sizes = fps.groupBy("k").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fps.select(F.col("k").alias("key_a"), "fp")
    b = fps.select(F.col("k").alias("key_b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .where(F.col("shared_fp") >= min_shared)
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("k").alias("key_a"), F.col("n_fp").alias("n_a"))),
            "key_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("k").alias("key_b"), F.col("n_fp").alias("n_b"))),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            "shared_fp",
            "n_a",
            "n_b",
            F.round(
                F.col("shared_fp").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap"),
        )
    )


def winnowing_match_spans(
    df: DataFrame,
    text_col: str,
    key_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int = 50,
) -> DataFrame:
    """MOSS's second half: not just WHICH documents overlap but WHERE —
    per overlapping pair, the positional extent of the shared
    fingerprints in each document (token-position lo/hi per side). This
    is the reviewer-facing artifact: "docs 17 and 243 share a region
    spanning tokens 120-180 of one and 4-61 of the other" turns a dedup
    score into an inspectable claim. Positions ride along from the
    winnow selection (decoded from the same rightmost-min encoding), so
    the cost over winnowing_overlap_pairs is carrying one extra int —
    the pair join and caps are identical.
    """
    from pyspark.sql import Window as _W

    from ..functions.textfns import tokens

    reps, _ = collapse_exact(df, text_col, key_col)
    # Doc-keyed spread before the explode — same §1a fix as
    # winnowing_fingerprints (this variant carries positions through the
    # identical gram/winnow pipeline).
    reps = reps.repartition(
        df.sparkSession.sparkContext.defaultParallelism, key_col
    )
    wd = _W.partitionBy("k").orderBy("_pos")
    tokd = reps.select(
        F.col(key_col).alias("k"),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t"),
    )
    leads = [F.lead("_t", j).over(wd) for j in range(1, k)]
    grams = (
        tokd.select(
            "k", "_pos",
            F.concat_ws(" ", F.col("_t"), *leads).alias("_g"),
            leads[-1].alias("_guard"),
        )
        .where(F.col("_guard").isNotNull())
        .drop("_guard")
    )
    h = F.pmod(
        F.conv(F.substring(F.md5("_g"), 1, 8), 16, 10).cast("long"),
        F.lit(_MERSENNE31),
    )
    grams = grams.select("k", "_pos", h.alias("_h"))
    enc = (
        F.col("_h") * F.lit(_WINNOW_POSCAP)
        + (F.lit(_WINNOW_POSCAP - 1) - F.col("_pos"))
    )
    wsel = _W.partitionBy("k").orderBy("_pos").rowsBetween(0, w - 1)
    wd2 = _W.partitionBy("k").orderBy("_pos")
    sel = (
        grams.select(
            "k",
            F.min(enc).over(wsel).alias("_sel"),
            F.lead("_pos", w - 1).over(wd2).alias("_full"),
        )
        .where(F.col("_full").isNotNull())
        .select(
            "k",
            F.shiftright(F.col("_sel"), 21).alias("fp"),
            (F.lit(_WINNOW_POSCAP - 1) - F.pmod(F.col("_sel"), F.lit(_WINNOW_POSCAP))).alias("pos"),
        )
        .distinct()
    )
    sel = materialize(sel)  # cap + pair branches
    kept = (
        sel.select("k", "fp").distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= max_postings)
        .select("fp")
    )
    sel = sel.join(kept, "fp")
    a = sel.select(F.col("k").alias("key_a"), "fp", F.col("pos").alias("pos_a"))
    b = sel.select(F.col("k").alias("key_b"), "fp", F.col("pos").alias("pos_b"))
    return (
        a.join(b, "fp")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.countDistinct("fp").alias("shared_fp"),
            F.min("pos_a").alias("a_span_lo"),
            F.max("pos_a").alias("a_span_hi"),
            F.min("pos_b").alias("b_span_lo"),
            F.max("pos_b").alias("b_span_hi"),
        )
        .where(F.col("shared_fp") >= min_shared)
    )
