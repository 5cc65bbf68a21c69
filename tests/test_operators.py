"""Engine-side operator tests: properties the DuckDB oracle can't express
(SURVEY.md §5 strategy): dedup determinism, LSH recall vs exhaustive truth,
multimodal stub plumbing, vector-function correctness vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataingestion_pt_ms_spark.catalog import load_table
from dataingestion_pt_ms_spark.functions.vectors import cosine_similarity, dot, l2_norm
from dataingestion_pt_ms_spark.operators import dedup as D
from dataingestion_pt_ms_spark.operators import multimodal as M
from dataingestion_pt_ms_spark.operators import similarity as S


def test_vector_functions_match_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    pdf = emb.select(
        "vec_id",
        dot(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("self_dot"),
        l2_norm(F.col("embedding").cast("array<double>")).alias("norm"),
    ).toPandas()
    raw = emb.select("vec_id", "embedding").toPandas()
    for _, row in pdf.merge(raw, on="vec_id").iterrows():
        v = np.array(row["embedding"], dtype="float64")
        assert row["self_dot"] == pytest.approx(float(v @ v), rel=1e-12)
        assert row["norm"] == pytest.approx(float(np.linalg.norm(v)), rel=1e-12)


def test_quantile_gate_approx_vs_exact(spark, sf_dir):
    """The sketch-based gate must agree with the exact gate up to the rank
    guarantee: approx_percentile picks an element <= the interpolated exact
    percentile, so the approx-kept set is a superset, and in the rank-exact
    regime (corpus < accuracy) the overshoot is at most the docs tied at
    the boundary value."""
    from dataingestion_pt_ms_spark.operators.text import (
        quantile_filter,
        quantile_filter_approx,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    exact = {r.doc_id for r in quantile_filter(docs, "n_chars", 0.75).collect()}
    approx = {r.doc_id for r in quantile_filter_approx(docs, "n_chars", 0.75).collect()}
    assert exact <= approx
    n = docs.count()
    assert len(approx) - len(exact) <= max(1, n // 100)


def test_chunk_documents_empty_tokens_yield_no_chunks(spark):
    """sequence(0, -1) descends in Spark — the n_chunks=0 guard must emit
    zero chunk rows for empty/whitespace text, not two phantom chunks
    (ADVICE r01)."""
    from dataingestion_pt_ms_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.chunk_idx)
    assert by_doc[1] == [0, 1]  # 3 tokens / 2-token chunks -> 2 chunks
    # doc 2: split('') -> [''] -> 1 token -> 1 chunk of '' (documented
    # split semantics); the guard matters for genuinely empty arrays:
    arr_df = spark.createDataFrame([(3,)], "doc_id long").withColumn(
        "toks", F.array().cast("array<string>")
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(2)).cast("int")
    guarded = arr_df.select(
        F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1))
        .otherwise(F.array().cast("array<int>"))
        .alias("idx")
    ).first()
    assert guarded["idx"] == []


def test_contamination_check_short_docs_reported(spark):
    """Corpus docs too short to shingle must still appear in the report
    (n_shingles=0, NULL ratio) instead of vanishing (ADVICE r01)."""
    from dataingestion_pt_ms_spark.operators.text import contamination_check

    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "too short")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in contamination_check(corpus, bench).collect()}
    assert set(rows) == {10, 11}
    assert rows[10].n_shingles == 2 and rows[10].n_contaminated == 1
    assert rows[11].n_shingles == 0 and rows[11].n_contaminated == 0
    assert rows[11].contamination_ratio is None


def test_connected_components_raises_on_no_convergence(spark, monkeypatch):
    """max_iter exhaustion must raise, not return partial labels (ADVICE r01).

    Forces the distributed loop (the r10 small-graph fast path would
    otherwise solve this driver-side and never consult max_iter)."""
    import pytest as _pytest

    from dataingestion_pt_ms_spark.operators import graph as G

    monkeypatch.setattr(G, "_CC_DRIVER_MAX_SYM_ROWS", -1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(chain, max_iter=1)
    # and enough rounds converge fine on the same graph
    comp = G.connected_components(chain, max_iter=8)
    assert comp.select("component").distinct().count() == 1


def test_cc_driver_fast_path_matches_distributed(spark, monkeypatch):
    """r10 opt: the size-adaptive driver union-find must return exactly the
    distributed loop's assignment — min node id per weakly connected
    component, isolated nodes as singletons — on chains, a cycle, a
    cross-component bridge, string keys, and an empty edge set."""
    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 50, 2)]
        + [(100 + i, 100 + (i + 1) % 40) for i in range(40)]
        + [(200, 201), (201, 202), (202, 203), (203, 200), (500, 200)],
        "src long, dst long",
    )
    nodes = spark.range(0, 600).select(F.col("id").alias("node"))
    fast = G.connected_components(edges, nodes=nodes).orderBy("node").collect()
    monkeypatch.setattr(G, "_CC_DRIVER_MAX_SYM_ROWS", -1)
    slow = G.connected_components(edges, nodes=nodes).orderBy("node").collect()
    assert fast == slow
    monkeypatch.undo()

    # string keys exercise the object-dtype factorize/groupby-min path
    sedges = spark.createDataFrame(
        [("d3", "d1"), ("d1", "d9"), ("x2", "x4")], "src string, dst string"
    )
    got = {
        r.node: r.component
        for r in G.connected_components(sedges).collect()
    }
    assert got == {"d1": "d1", "d3": "d1", "d9": "d1", "x2": "x2", "x4": "x2"}

    # empty edges: every node is its own singleton
    empty = spark.createDataFrame([], "src long, dst long")
    singles = G.connected_components(empty, nodes=spark.range(3).select(
        F.col("id").alias("node"))).collect()
    assert sorted((r.node, r.component) for r in singles) == [(0, 0), (1, 1), (2, 2)]


def test_graph_iterative_driver_fast_paths_match_distributed(spark, monkeypatch):
    """r10 opt: bfs_hops / bellman_ford_rounds / k_core_peel /
    label_propagation each gained the CC-style size-adaptive driver mirror.
    All four are integer-exact (min-hop, min-plus over longs, degree
    counts, count-max with min-label tie-break), so fast and distributed
    paths must agree row-for-row — including bounded-round semantics
    (bellman stops after `rounds`, NOT at the shortest-path fixpoint) and
    seeds that do not appear in the edge set."""
    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.operators import graph as G

    edges = spark.createDataFrame(
        # chain 0-1-2-3-4-5 (costs force round-bounded distances), a
        # triangle 10-11-12, a 4-clique 20..23, isolated-from-seeds 30-31
        [(0, 1, 5), (1, 2, 1), (2, 3, 7), (3, 4, 2), (4, 5, 2),
         (10, 11, 1), (11, 12, 1), (10, 12, 9),
         (20, 21, 1), (20, 22, 1), (20, 23, 1), (21, 22, 1), (21, 23, 1),
         (22, 23, 1), (30, 31, 4)],
        "src long, dst long, cost long",
    )
    seeds = spark.createDataFrame([(0,), (10,), (99,)], "node long")  # 99 isolated

    def both(fn):
        fast = sorted(map(tuple, fn().collect()))
        monkeypatch.setattr(G, "_CC_DRIVER_MAX_SYM_ROWS", -1)
        slow = sorted(map(tuple, fn().collect()))
        monkeypatch.undo()
        return fast, slow

    f, s = both(lambda: G.bfs_hops(edges, seeds, max_hops=2))
    assert f == s and (99, 0) in f and (2, 2) in f and (3, 2) not in f

    f, s = both(lambda: G.bellman_ford_rounds(edges, seeds, rounds=2))
    assert f == s
    d = dict(f)
    assert d[2] == 6 and d[99] == 0 and 4 not in d  # bounded rounds, isolated seed

    f, s = both(lambda: G.k_core_peel(edges, k=3))
    assert f == s and sorted(dict(f)) == [20, 21, 22, 23]

    f, s = both(lambda: G.label_propagation(edges, rounds=2))
    assert f == s and dict(f)[23] == 20  # clique converges to min id


def test_graph_driver_mirror_guards(spark, monkeypatch):
    """r11 (ADVICE r10): the driver mirrors must refuse inputs they cannot
    reproduce bit-exactly — fractional costs (the int64 mirror would
    truncate), null edge endpoints (pd.factorize codes null as -1, which
    would negative-index node state) — and the row-count gate derates for
    wide (string) key types."""
    from pyspark.sql import types as T

    from dataingestion_pt_ms_spark.operators import graph as G

    # fractional costs: fast path must NOT run; dist keeps the cost type
    fedges = spark.createDataFrame(
        [(0, 1, 1.5), (1, 2, 2.25)], "src long, dst long, cost double"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = G.bellman_ford_rounds(fedges, seeds, rounds=2)
    assert isinstance(out.schema["dist"].dataType, T.DoubleType)
    got = {r.node: r.dist for r in out.collect()}
    assert got == {0: 0.0, 1: 1.5, 2: 3.75}

    # null endpoints: fast path falls back; result == distributed loop
    nedges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 7), (5, 6)], "src long, dst long"
    )
    from collections import Counter

    fast = Counter(
        (r.node, r.component) for r in G.connected_components(nedges).collect()
    )
    monkeypatch.setattr(G, "_CC_DRIVER_MAX_SYM_ROWS", -1)
    slow = Counter(
        (r.node, r.component) for r in G.connected_components(nedges).collect()
    )
    monkeypatch.undo()
    assert fast == slow and (1, 1) in fast and (5, 5) in fast

    # wide-key derating: string node type gets 1/8 of the configured cap
    assert G._driver_sym_rows_cap(T.LongType()) == G._CC_DRIVER_MAX_SYM_ROWS
    assert G._driver_sym_rows_cap(T.StringType()) == G._CC_DRIVER_MAX_SYM_ROWS // 8


def test_kmeans_validates_params(spark, sf_dir):
    import pytest as _pytest

    from dataingestion_pt_ms_spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="iters"):
        kmeans_lloyd(emb, iters=0)
    with _pytest.raises(ValueError, match="k must"):
        kmeans_lloyd(emb, k=0)


def test_minhash_lsh_recall_vs_exhaustive(spark, sf_dir):
    """LSH candidates must recover (almost) all true near-dup pairs: with
    64 perms / 8 bands the s-curve at jaccard 0.8 gives P(miss) ≈ 1e-4."""
    docs = load_table(spark, sf_dir, "documents")
    found = {
        (r.key_a, r.key_b)
        for r in D.minhash_lsh_near_dups(docs, "text", "doc_id", 0.8).collect()
    }
    # exhaustive ground truth (only feasible at sf0.001: 500 docs)
    all_pairs = docs.select(F.col("doc_id").alias("key_a")).crossJoin(
        docs.select(F.col("doc_id").alias("key_b"))
    ).filter(F.col("key_a") < F.col("key_b"))
    truth = {
        (r.key_a, r.key_b)
        for r in D.jaccard_pairs(docs, all_pairs, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert found <= truth  # verification step kills false positives
    recall = len(found) / max(len(truth), 1)
    assert recall >= 0.9, f"LSH recall {recall:.2f} ({len(found)}/{len(truth)})"


def test_minhash_fast_path_matches_md5_variant(spark, sf_dir):
    """xxhash64 base hash (production fast path) must produce the same
    *verified* near-dup pairs as the md5 oracle twin: the exact-Jaccard
    verify step is hash-independent, so any divergence would be an LSH
    recall difference — and both variants sit far up the s-curve for the
    sf0.001 corpus's true pairs (P(miss) ≈ 1e-4 per pair at j≥0.8)."""
    docs = load_table(spark, sf_dir, "documents")
    fast = {
        (r.key_a, r.key_b, r.jaccard)
        for r in D.minhash_lsh_near_dups(
            docs, "text", "doc_id", 0.8, base_hash="xxhash64"
        ).collect()
    }
    slow = {
        (r.key_a, r.key_b, r.jaccard)
        for r in D.minhash_lsh_near_dups(docs, "text", "doc_id", 0.8).collect()
    }
    assert fast == slow


def test_cross_corpus_fast_path_matches_md5(spark, sf_dir):
    """Cross-corpus decontamination: the xxhash64 production path (the
    benched ``dedup_cross_corpus_minhash``) must return the same verified
    hits as the md5 oracle twin — same argument as the self-dedup fast-path
    test (exact-Jaccard verify is hash-independent; recall at j≥0.8 is far
    up the s-curve for both hashes)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 50)
    probe = docs.filter(F.col("doc_id") < 50)
    fast = {
        (r.corpus_key, r.probe_key, r.jaccard)
        for r in D.cross_corpus_near_dups(
            corpus, probe, "text", "doc_id", threshold=0.8, base_hash="xxhash64"
        ).collect()
    }
    slow = {
        (r.corpus_key, r.probe_key, r.jaccard)
        for r in D.cross_corpus_near_dups(
            corpus, probe, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert fast == slow


def test_cross_corpus_store_backed_identical_pairs(spark, sf_dir, tmp_path):
    """Decontaminating against a PERSISTED signature store (corpus never
    re-signed — VERDICT r3 #4) must return the identical verified pair set
    as the sign-from-scratch path: banding is a pure function of the
    signature, and the exact-Jaccard verify reads raw text either way."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 50)
    probe = docs.filter(F.col("doc_id") < 50)
    store_path = str(tmp_path / "sig_store")
    D.minhash_signature(corpus, "text", "doc_id").write.parquet(store_path)
    stored = spark.read.parquet(store_path)
    from_store = {
        (r.corpus_key, r.probe_key, r.jaccard)
        for r in D.cross_corpus_near_dups(
            corpus, probe, "text", "doc_id", threshold=0.8, corpus_sigs=stored
        ).collect()
    }
    from_scratch = {
        (r.corpus_key, r.probe_key, r.jaccard)
        for r in D.cross_corpus_near_dups(
            corpus, probe, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert from_store == from_scratch
    assert from_scratch  # non-vacuous: fixture has cross-corpus near-dups


def test_cross_corpus_collapse_expands_duplicate_members(spark):
    """Identical corpus texts must each appear in the output (collapse-first
    signs one rep, then expands hits back to every member)."""
    corpus = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),
            (101, "alpha beta gamma delta epsilon zeta"),  # exact dup of 100
            (102, "totally different words here entirely now"),
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    got = {
        (r.corpus_key, r.probe_key, r.jaccard)
        for r in D.cross_corpus_near_dups(
            corpus, probe, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert got == {(100, 1, 1.0), (101, 1, 1.0)}


def test_minhash_base_hash_validated(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(5)
    with pytest.raises(ValueError, match="base_hash"):
        D.minhash_signature(docs, "text", "doc_id", base_hash="sha1").collect()


def test_minhash_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a = sorted(map(tuple, D.minhash_lsh_near_dups(docs, "text", "doc_id", 0.8).collect()))
    b = sorted(map(tuple, D.minhash_lsh_near_dups(docs, "text", "doc_id", 0.8).collect()))
    assert a == b


def test_minhash_degenerate_bucket_collapses(spark, sf_dir):
    """10k identical docs (the boilerplate-corpus hazard): exact collapse
    must reduce them to ONE representative before banding, so no LSH bucket
    ever holds the duplicate group and candidate generation stays O(docs).
    (VERDICT r01 'What's wrong #1'.)"""
    base = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    clones = (
        spark.range(100_000, 110_000)
        .select(F.col("id").alias("doc_id"))
        .withColumn("text", F.lit("the same boilerplate text repeated everywhere"))
    )
    corpus = base.select("doc_id", "text").unionByName(clones)
    rep_pairs, members, reps = D.minhash_lsh_rep_pairs(corpus, "text", "doc_id")
    assert reps.count() <= 21  # 10k clones -> 1 rep
    sig = D.minhash_signature(reps, "text", "doc_id")
    stats = D.lsh_bucket_stats(sig, "doc_id").first()
    assert stats["max_bucket"] <= 21
    # members still maps every clone to the single representative
    clone_reps = (
        members.filter(F.col("member") >= 100_000).select("rep").distinct().collect()
    )
    assert len(clone_reps) == 1 and clone_reps[0]["rep"] == 100_000
    # cluster path: star edges + rep pairs give one 10k+1-member component
    from dataingestion_pt_ms_spark.operators.graph import connected_components

    star = members.filter(F.col("rep") != F.col("member")).select(
        F.col("rep").alias("key_a"), F.col("member").alias("key_b")
    )
    edges = rep_pairs.select("key_a", "key_b").unionByName(star)
    cc = connected_components(edges, src="key_a", dst="key_b")
    big = (
        cc.groupBy("component")
        .count()
        .orderBy(F.col("count").desc())
        .first()
    )
    assert big["count"] == 10_000 and big["component"] == 100_000


def test_lsh_bucket_cap_truncates_deterministically(spark):
    """bucket_cap bounds in-bucket pair expansion: a 100-doc bucket capped
    at 10 yields C(10,2) pairs among the 10 smallest keys, and
    lsh_bucket_stats reports the truncation."""
    sig = [int(x) for x in range(64)]
    rows = [(k, sig) for k in range(100)]
    sig_df = spark.createDataFrame(rows, "doc_id long, signature array<long>")
    uncapped = D.lsh_candidate_pairs(sig_df, "doc_id")
    assert uncapped.count() == 100 * 99 // 2
    capped = D.lsh_candidate_pairs(sig_df, "doc_id", bucket_cap=10)
    got = {(r.key_a, r.key_b) for r in capped.collect()}
    assert got == {(a, b) for a in range(10) for b in range(10) if a < b}
    stats = D.lsh_bucket_stats(sig_df, "doc_id", bucket_cap=10).first()
    assert stats["n_over_cap"] == 8  # every band's one bucket overflows
    assert stats["truncated_keys"] == 8 * 90
    assert stats["max_bucket"] == 100


def test_simhash_banded_recall_exact_vs_exhaustive(spark, sf_dir):
    """4 bands × 16 bits with verify-at-hamming≤3: pigeonhole guarantees
    every pair within hamming 3 shares at least one exact band, so banded
    output must EQUAL the exhaustive hamming≤3 pair set (100% recall, and
    the verify step kills every band-collision false positive)."""
    docs = load_table(spark, sf_dir, "documents")
    banded = {
        (r.key_a, r.key_b, r.hamming)
        for r in D.simhash_banded_pairs(
            docs, "text", "doc_id", max_hamming=3, bands=4
        ).collect()
    }
    sim = D.simhash63(docs, "text", "doc_id")
    a = sim.select(F.col("doc_id").alias("key_a"), F.col("simhash").alias("sa"))
    b = sim.select(F.col("doc_id").alias("key_b"), F.col("simhash").alias("sb"))
    truth = {
        (r.key_a, r.key_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == truth


def test_simhash_close_for_near_dups(spark, sf_dir):
    """Near-identical docs must have small simhash hamming distance."""
    docs = load_table(spark, sf_dir, "documents")
    sim = D.simhash63(docs, "text", "doc_id")
    # identical text ⇒ identical simhash
    dup = docs.select("doc_id", "text").limit(1).withColumn("doc_id", F.lit(999_999))
    both = D.simhash63(docs.select("doc_id", "text").limit(1).unionByName(dup), "text", "doc_id")
    values = [r.simhash for r in both.collect()]
    assert len(values) == 2 and values[0] == values[1]
    assert sim.filter(F.col("simhash") < 0).count() == 0  # 63-bit: non-negative


def test_ann_lsh_finds_query_itself(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    planes = S.make_planes(8, 64)
    top = S.ann_lsh_topk(emb, query, planes, k=5).collect()
    assert top, "query bucket empty"
    assert top[0].vec_id == 0 and top[0].cosine_sim == 1.0


def test_ann_lsh_bucket_recall(spark, sf_dir):
    """Bucketed ANN top-1 (excluding self) should be a decent neighbor:
    its cosine must be within the brute-force top-20's range."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    brute = S.cosine_topk(emb, query, k=20).collect()
    planes = S.make_planes(8, 64)
    bucketed = S.ann_lsh_topk(emb, query, planes, k=5).collect()
    non_self = [r for r in bucketed if r.vec_id != 0]
    if non_self:  # bucket may contain only the query at tiny SF
        floor = min(r.cosine_sim for r in brute)
        assert non_self[0].cosine_sim >= floor - 0.2


def test_multimodal_stub_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    with_bin = M.attach_binary_payload(docs)
    feats = M.fake_feature_extract(with_bin)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.feature) == M.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r.feature)
    if not M.HAVE_PIL:
        # PNG/BMP decode codec-free since round 7; only JPEG-class
        # payloads (here: a text/plain body) still need the Pillow hatch
        with pytest.raises(NotImplementedError, match="Pillow"):
            M.decode_image(b"not-an-image-payload")


def test_multimodal_real_decode_path(spark):
    """The real decode path runs end-to-end IN THIS CONTAINER since
    round 7 (codec-free PNG): PNG bytes → (width, height, mode) + a
    FEATURE_DIM strip. Solid color pins the strip exactly."""
    png = bytes(M.encode_png(np.full((2, 4, 3), [255, 0, 0], dtype="uint8")))
    arr = M.decode_image(png)
    assert arr.shape == (2, 4, 3)
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, media_bytes binary")
    rows = M.image_feature_extract(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.width, r.height, r.mode) == (4, 2, "RGB")
    assert len(r.feature) == M.FEATURE_DIM
    assert r.feature == [255 / 3 / 255.0] * M.FEATURE_DIM  # gray=(255+0+0)/3


def test_png_codec_roundtrip_all_filters():
    """decode_png must really UNFILTER, not just inflate: the same pixel
    array encoded with each of the five PNG scanline filters (and a
    per-row mix) must decode bit-identically; CRC corruption must raise;
    gray (type 0) replicates to RGB and RGBA (type 6) drops alpha."""
    import zlib

    y, x, ch = np.meshgrid(np.arange(5), np.arange(7), np.arange(3), indexing="ij")
    arr = ((y * 37 + x * 11 + ch * 5) % 256).astype("uint8")
    for ft in (0, 1, 2, 3, 4, lambda yy: yy % 5):
        got = M.decode_png(bytes(M.encode_png(arr, row_filter=ft)))
        assert (got == arr).all(), f"filter {ft} did not round-trip"
    # multi-IDAT: 2-byte chunks force dozens of IDATs
    got = M.decode_png(bytes(M.encode_png(arr, idat_chunk_bytes=2)))
    assert (got == arr).all()
    # CRC validation: flip one IDAT payload byte, keep the stored CRC
    data = bytearray(M.encode_png(arr))
    idat_at = bytes(data).index(b"IDAT")
    data[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(data))
    # PIL-free gray/RGBA coverage: hand-build color-type 0 and 6 PNGs
    import struct

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    gray = np.arange(12, dtype="uint8").reshape(3, 4)
    scan = b"".join(b"\x00" + gray[r].tobytes() for r in range(3))
    png0 = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    got0 = M.decode_png(png0)
    assert got0.shape == (3, 4, 3) and (got0 == gray[:, :, None]).all()
    rgba = np.arange(2 * 2 * 4, dtype="uint8").reshape(2, 2, 4)
    scan6 = b"".join(b"\x00" + rgba[r].tobytes() for r in range(2))
    png6 = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan6))
        + chunk(b"IEND", b"")
    )
    got6 = M.decode_png(png6)
    assert got6.shape == (2, 2, 3) and (got6 == rgba[:, :, :3]).all()


@pytest.mark.skipif(not M.HAVE_PIL, reason="Pillow not installed (codec-less container)")
def test_real_codec_features_pinned_against_bmp_twin(spark):
    """VERDICT r5 #7: executable coverage for the escape hatch the day it
    lands on a cluster image with codecs. The SAME arithmetic pixel array
    is (a) PNG-encoded by Pillow and (b) BMP-encoded by our own
    codec-free encode_bmp; both payloads go through the REAL
    image_feature_extract path, and every output column must be
    IDENTICAL — PNG and BMP are both lossless, so any difference is a
    decode bug (channel order, row orientation, padding) in one of the
    two paths. A solid-color image additionally pins the grayscale strip
    EXACTLY (any resampler over a constant image returns the constant),
    so the assertion is Pillow-version-independent."""
    import io

    from PIL import Image

    y, x, ch = np.meshgrid(np.arange(4), np.arange(8), np.arange(3), indexing="ij")
    arr = ((7 * 31 + y * 7 + x * 3 + ch) % 256).astype("uint8")
    solid = np.full((4, 8, 3), 200, dtype="uint8")

    def png_bytes(a):
        buf = io.BytesIO()
        Image.fromarray(a, "RGB").save(buf, format="PNG")
        return buf.getvalue()

    df = spark.createDataFrame(
        [
            (1, bytearray(png_bytes(arr))),
            (2, bytearray(M.encode_bmp(arr))),
            (3, bytearray(png_bytes(solid))),
            (4, bytearray(M.encode_bmp(solid))),
        ],
        "doc_id long, media_bytes binary",
    )
    rows = {r.doc_id: r for r in M.image_feature_extract(df).collect()}
    for png_id, bmp_id in ((1, 2), (3, 4)):
        p, b = rows[png_id], rows[bmp_id]
        assert (p.width, p.height) == (b.width, b.height) == (8, 4)
        assert p.feature == b.feature, (png_id, bmp_id)
    # constant image → the strip is exactly the constant, both codecs
    assert rows[3].feature == [200 / 255.0] * M.FEATURE_DIM
    # and decode_image itself round-trips pixels losslessly for both —
    # the PNG side exercises OUR codec-free decoder against a FOREIGN
    # (Pillow) encoder, the strongest spec-conformance check available
    got_png = M.decode_image(png_bytes(arr))
    got_bmp = M.decode_image(bytes(M.encode_bmp(arr)))
    assert (got_png == arr).all() and (got_bmp == arr).all()


def test_cosine_similarity_null_on_zero_vector(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>"
    )
    row = df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).first()
    assert row.c is None


def test_rolling_hash_properties(spark):
    from dataingestion_pt_ms_spark.operators.text import rolling_hash

    df = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c"),      # identical → same hash
            (3, "c b a"),      # same tokens, different order → different hash
            (4, "a b c d"),
        ],
        "doc_id long, text string",
    )
    h = {r.doc_id: r.rolling_hash for r in rolling_hash(df).collect()}
    assert h[1] == h[2]
    assert h[1] != h[3]  # order-sensitive (unlike the sorted-token md5)
    assert h[1] != h[4]
    assert all(0 <= v < 2_147_483_647 for v in h.values())


def test_ann_ivf_matches_oracle_semantics(spark, sf_dir):
    from dataingestion_pt_ms_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    top = S.ann_ivf_topk(emb, query, k=5).collect()
    assert len(top) == 5
    labels = {r.label for r in top}
    assert len(labels) == 1  # all results come from one IVF cell
    scores = [r.cosine_sim for r in top]
    assert scores == sorted(scores, reverse=True)
    # within the probed cell, IVF results ARE the exact top-k
    cell = next(iter(labels))
    brute_in_cell = S.cosine_topk(
        emb.filter(F.col("label") == cell), query, k=5
    ).collect()
    assert [r.vec_id for r in top] == [r.vec_id for r in brute_in_cell]


# ---------------------------------------------------------------------------
# connected components (operators/graph.py)
# ---------------------------------------------------------------------------
def _cc_map(spark, edges, nodes=None):
    from dataingestion_pt_ms_spark.operators.graph import connected_components

    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    n = (
        spark.createDataFrame([(x,) for x in nodes], "node long")
        if nodes is not None
        else None
    )
    out = connected_components(e, nodes=n)
    return {r.node: r.component for r in out.collect()}


def test_cc_chain_propagates_multi_hop(spark):
    # 0-1-2-...-9: one component labeled by the chain head
    got = _cc_map(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_cc_two_components_and_isolated(spark):
    got = _cc_map(spark, [(1, 2), (2, 3), (10, 11)], nodes=[1, 2, 3, 10, 11, 99])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_cc_clique_and_direction_invariance(spark):
    # same component regardless of edge direction / duplication
    got = _cc_map(spark, [(5, 4), (4, 3), (3, 5), (5, 3)])
    assert got == {3: 3, 4: 3, 5: 3}


def test_cc_cluster_canonical_counts(spark):
    from dataingestion_pt_ms_spark.operators.graph import (
        cluster_canonical,
        connected_components,
    )

    e = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    n = spark.createDataFrame([(x,) for x in [1, 2, 3, 10, 11, 99]], "node long")
    cc = connected_components(e, nodes=n)
    got = {r.component: (r.n_members, r.keep) for r in cluster_canonical(cc).collect()}
    assert got == {1: (3, 1), 10: (2, 10), 99: (1, 99)}


# ---------------------------------------------------------------------------
# k-means (operators/clustering.py) and chunking (operators/text.py)
# ---------------------------------------------------------------------------
def test_kmeans_recovers_separated_blobs(spark):
    from dataingestion_pt_ms_spark.operators.clustering import kmeans_lloyd

    # two tight blobs far apart; seeds (2 smallest ids) land one per blob
    rows = [(0, [0.0, 0.1]), (2, [10.0, 10.1]), (1, [0.1, 0.0]),
            (3, [10.1, 10.0]), (4, [0.05, 0.05]), (5, [9.9, 10.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster for r in kmeans_lloyd(df, k=2, iters=2).collect()}
    assert got[0] == got[1] == got[4]
    assert got[2] == got[3] == got[5]
    assert got[0] != got[2]


def test_chunk_documents_covers_all_tokens(spark):
    from dataingestion_pt_ms_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(120))), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=50).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [r.n_chunk_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)] == [50, 50, 20]
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 2
    # token order preserved across chunk boundaries
    rejoined = " ".join(r.chunk_text for r in sorted(by_doc[1], key=lambda r: r.chunk_idx))
    assert rejoined == " ".join(f"t{i}" for i in range(120))


def test_stratified_sample_bounds(spark, sf_dir):
    from dataingestion_pt_ms_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    frac = {"en": 0.5, "es": 0.25}
    sampled = docs.sampleBy("lang", frac, seed=42)
    assert set(r.lang for r in sampled.select("lang").distinct().collect()) <= set(frac)
    # deterministic under a fixed seed
    again = docs.sampleBy("lang", frac, seed=42)
    assert sorted(r.doc_id for r in sampled.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


# ---------------------------------------------------------------------------
# contamination / repetition / packing (operators/text.py)
# ---------------------------------------------------------------------------
def test_contamination_ratio_known_overlap(spark):
    from dataingestion_pt_ms_spark.operators.text import contamination_check

    bench = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    # doc 10 shares shingles {a b c, b c d}; doc 11 shares none
    corpus = spark.createDataFrame(
        [(10, "a b c d e"), (11, "x y z w")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in contamination_check(corpus, bench).collect()}
    assert got[10].n_shingles == 3 and got[10].n_contaminated == 2
    assert got[11].n_shingles == 2 and got[11].n_contaminated == 0
    assert abs(got[10].contamination_ratio - 2 / 3) < 1e-6


def test_repetition_score_argmax_and_ties(spark):
    from dataingestion_pt_ms_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [(1, "b b a a c"), (2, "z z z q")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_score(df).collect()}
    # tie between a(2) and b(2) breaks to lexicographically smallest
    assert got[1].top_token == "a" and got[1].top_count == 2 and got[1].n_tokens == 5
    assert got[2].top_token == "z" and abs(got[2].repetition_ratio - 0.75) < 1e-6


def test_pack_sequences_offsets_and_boundaries(spark):
    from dataingestion_pt_ms_spark.operators.text import pack_sequences

    rows = [
        ("en", 1, 0, 300), ("en", 1, 1, 300), ("en", 2, 0, 300),
        ("es", 5, 0, 600),
    ]
    chunks = spark.createDataFrame(
        rows, "lang string, doc_id long, chunk_idx int, n_chunk_tokens long"
    )
    got = {
        (r.lang, r.doc_id, r.chunk_idx): (r.token_offset, r.pack_id)
        for r in pack_sequences(chunks, pack_tokens=512).collect()
    }
    # en stream: offsets 0, 300, 600 -> packs 0, 0, 1; es stream independent
    assert got[("en", 1, 0)] == (0, 0)
    assert got[("en", 1, 1)] == (300, 0)
    assert got[("en", 2, 0)] == (600, 1)
    assert got[("es", 5, 0)] == (0, 0)


def test_blocked_cosine_pairs_threshold_and_blocking(spark):
    from dataingestion_pt_ms_spark.operators.similarity import blocked_cosine_pairs

    # block 0: ids 0,1 parallel (cos=1), id 2 orthogonal; block 1: ids 3,4
    # parallel but in a different block than 0/1 — must not pair across blocks
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [2.0, 0.0]),
        (2, 0, [0.0, 1.0]),
        (3, 1, [1.0, 0.0]),
        (4, 1, [3.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    got = {
        (r.key_a, r.key_b): (r.label, r.cosine_sim)
        for r in blocked_cosine_pairs(df, threshold=0.9).collect()
    }
    assert got == {(0, 1): (0, 1.0), (3, 4): (1, 1.0)}


def test_blocked_cosine_pairs_tiling_is_invisible(spark):
    # the 100x ladder found the one-task-per-block GEMM OOMs when a block
    # grows with the corpus; the tiled rewrite must emit the IDENTICAL pair
    # set (each unordered pair exactly once: diagonal groups give in-tile
    # pairs, off-diagonal groups give cross-tile pairs) for any tile size
    import random

    from dataingestion_pt_ms_spark.operators.similarity import blocked_cosine_pairs

    rng = random.Random(7)
    rows = [
        (i, i % 2, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    whole = {
        (r.key_a, r.key_b, r.label, r.cosine_sim)
        for r in blocked_cosine_pairs(df, threshold=0.2, tile_rows=10_000).collect()
    }
    assert whole, "fixture must produce pairs for the comparison to mean anything"
    for tile in (7, 16, 61):  # forces 1..9 tiles per 60-row block
        tiled = blocked_cosine_pairs(df, threshold=0.2, tile_rows=tile).collect()
        assert len(tiled) == len(set((r.key_a, r.key_b) for r in tiled)), (
            f"tile_rows={tile}: a pair was emitted twice"
        )
        assert {
            (r.key_a, r.key_b, r.label, r.cosine_sim) for r in tiled
        } == whole, f"tile_rows={tile}: pair set diverged from untiled output"


def test_blocked_nn_and_knn_tiling_is_invisible(spark):
    # same invariant as the pairs operator: per-group candidates + the
    # associative (sim DESC, id ASC) reduce must reproduce the untiled
    # winner/top-k exactly, including rnk numbering and tie-breaks
    import random

    from dataingestion_pt_ms_spark.operators.similarity import (
        blocked_knn,
        blocked_nearest_neighbor,
    )

    rng = random.Random(11)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")

    nn_whole = {
        (r.vec_id, r.label, r.nn_vec_id, r.cosine_sim)
        for r in blocked_nearest_neighbor(df, tile_rows=10_000).collect()
    }
    knn_whole = {
        (r.vec_id, r.nb, r.label, r.cosine_sim, r.rnk)
        for r in blocked_knn(df, k=4, tile_rows=10_000).collect()
    }
    assert len(nn_whole) == 90 and len(knn_whole) == 360
    for tile in (7, 29):
        nn_tiled = {
            (r.vec_id, r.label, r.nn_vec_id, r.cosine_sim)
            for r in blocked_nearest_neighbor(df, tile_rows=tile).collect()
        }
        assert nn_tiled == nn_whole, f"tile_rows={tile}: NN winners diverged"
        knn_tiled = {
            (r.vec_id, r.nb, r.label, r.cosine_sim, r.rnk)
            for r in blocked_knn(df, k=4, tile_rows=tile).collect()
        }
        assert knn_tiled == knn_whole, f"tile_rows={tile}: top-k diverged"


def test_tiled_operators_zero_norm_guard(spark):
    """ADVICE r6: a zero-norm vector must keep cosine 0 — never NaN — in
    the tiled GEMM operators. Spark sorts NaN as the LARGEST double, so an
    unguarded NaN would win the cross-tile window merge while the in-tile
    numpy lexsort ranks it last: tiling would be output-VISIBLE exactly for
    zero-norm inputs. With the guard, tiled == untiled and no NaN
    surfaces anywhere."""
    import math
    import random

    from dataingestion_pt_ms_spark.operators.similarity import (
        blocked_cosine_pairs,
        blocked_knn,
        blocked_nearest_neighbor,
    )

    rng = random.Random(3)
    rows = [(i, 0, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)]
    rows += [(100, 0, [0.0] * 4), (101, 0, [0.0] * 4)]  # zero-norm vectors
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")

    pairs_whole = {
        (r.key_a, r.key_b, r.cosine_sim)
        for r in blocked_cosine_pairs(df, threshold=0.2, tile_rows=10_000).collect()
    }
    nn_whole = {
        (r.vec_id, r.nn_vec_id, r.cosine_sim)
        for r in blocked_nearest_neighbor(df, tile_rows=10_000).collect()
    }
    knn_whole = {
        (r.vec_id, r.nb, r.cosine_sim, r.rnk)
        for r in blocked_knn(df, k=3, tile_rows=10_000).collect()
    }
    # the zero vectors appear with cosine 0 (guard pins them), never NaN,
    # and their NN is the smallest candidate id (all-ties → id ASC)
    assert not any(math.isnan(t[-1]) for t in pairs_whole)
    assert not any(math.isnan(t[-1]) for t in nn_whole)
    assert not any(math.isnan(t[2]) for t in knn_whole)
    zero_rows = {t for t in nn_whole if t[0] in (100, 101)}
    assert zero_rows == {(100, 0, 0.0), (101, 0, 0.0)}
    for tile in (7, 17):
        assert {
            (r.key_a, r.key_b, r.cosine_sim)
            for r in blocked_cosine_pairs(
                df, threshold=0.2, tile_rows=tile
            ).collect()
        } == pairs_whole, f"tile_rows={tile}: pair set diverged"
        assert {
            (r.vec_id, r.nn_vec_id, r.cosine_sim)
            for r in blocked_nearest_neighbor(df, tile_rows=tile).collect()
        } == nn_whole, f"tile_rows={tile}: NN winners diverged"
        assert {
            (r.vec_id, r.nb, r.cosine_sim, r.rnk)
            for r in blocked_knn(df, k=3, tile_rows=tile).collect()
        } == knn_whole, f"tile_rows={tile}: top-k diverged"


def test_sample_frames_and_bmp_resize(spark):
    from dataingestion_pt_ms_spark.operators.multimodal import (
        attach_binary_payload,
        bmp_resize,
        decode_bmp,
        encode_bmp,
        sample_frames,
    )
    import hashlib

    import numpy as np

    text = "".join(chr(65 + (i % 26)) for i in range(70))  # 70 ASCII bytes
    df = attach_binary_payload(
        spark.createDataFrame([(1, text), (2, "ab")], "doc_id long, text string")
    )
    frames = {
        (r.doc_id, r.frame_idx): (r.frame_len, r.frame_md5)
        for r in sample_frames(df, frame_bytes=32, stride=2).collect()
    }
    # doc 1: frames 0,1,2 (32+32+6 bytes) -> stride 2 keeps 0 and 2
    assert set(frames) == {(1, 0), (1, 2), (2, 0)}
    assert frames[(1, 0)][0] == 32 and frames[(1, 2)][0] == 6
    assert frames[(1, 0)][1] == hashlib.md5(text[:32].encode()).hexdigest()
    assert frames[(2, 0)] == (2, hashlib.md5(b"ab").hexdigest())

    # bmp_resize: REAL decoded-pixel nearest-neighbor resample (round 6)
    rng = np.random.default_rng(7)
    img1 = rng.integers(0, 256, size=(4, 8, 3), dtype=np.uint8)
    img2 = rng.integers(0, 256, size=(3, 3, 3), dtype=np.uint8)
    bdf = spark.createDataFrame(
        [(1, bytearray(encode_bmp(img1))), (2, bytearray(encode_bmp(img2)))],
        "doc_id long, media_bytes binary",
    )
    got = {r.doc_id: decode_bmp(bytes(r.media_bytes))
           for r in bmp_resize(bdf, 6, 5).collect()}
    for doc, src in ((1, img1), (2, img2)):
        h, w, _ = src.shape
        ys = (np.arange(6) * h) // 6
        xs = (np.arange(5) * w) // 5
        want = src[np.ix_(ys, xs)]
        assert got[doc].shape == (6, 5, 3), doc
        assert (got[doc] == want).all(), doc


def test_unit_normalize_and_quantize_match_numpy(spark, sf_dir):
    """Library (array-returning) forms of the embedding-prep operators vs
    numpy ground truth; the registered queries cover the string-encoded,
    oracle-comparable forms."""
    from dataingestion_pt_ms_spark.functions.vectors import (
        quantize_int8,
        unit_normalize,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30)
    v = F.col("embedding").cast("array<double>")
    scale, q = quantize_int8(v)
    pdf = emb.select(
        "vec_id",
        "embedding",
        unit_normalize(v).alias("unit"),
        scale.alias("scale"),
        q.alias("q"),
    ).toPandas()
    for _, row in pdf.iterrows():
        x = np.array(row["embedding"], dtype="float64")
        n = np.linalg.norm(x)
        np.testing.assert_allclose(
            np.array(row["unit"], dtype="float64"),
            np.round(x / n, 6) if n else np.zeros_like(x),
            atol=1e-9,
        )
        s = np.abs(x).max() / 127.0
        assert row["scale"] == pytest.approx(s, rel=1e-12)
        expect_q = np.clip(np.floor(x / s + 0.5), -127, 127).astype("int64") if s else np.zeros_like(x)
        assert list(row["q"]) == list(expect_q)


# --------------------------------------------------------------------------
# Bloom runtime filter (operators/filters.py)
# --------------------------------------------------------------------------
def test_bloom_prefilter_no_false_negatives_and_filters(spark):
    from dataingestion_pt_ms_spark.operators.filters import (
        bloom_bitmap,
        bloom_prefilter,
    )

    members = spark.range(0, 500).select(F.col("id").alias("key"))
    bitmap = bloom_bitmap(members, "key")
    probe = spark.range(0, 100_000).select(F.col("id").alias("key"))
    kept = bloom_prefilter(probe, bitmap, "key").select("key").toPandas()["key"]
    kept_set = set(kept)
    # no false negatives: every true member survives
    assert set(range(500)) <= kept_set
    # false-positive rate: 99.5k non-members vs 65536-bit / k=3 filter
    # (~0.9% expected at this load) — generous bound, deterministic hashes
    fp = len(kept_set) - 500
    assert fp < 5_000, f"false-positive blowup: {fp}"


def test_bloom_probe_joins_broadcast(spark):
    from dataingestion_pt_ms_spark.operators.filters import (
        bloom_bitmap,
        bloom_prefilter,
    )

    members = spark.range(0, 100).select(F.col("id").alias("key"))
    probe = spark.range(0, 10_000).select(F.col("id").alias("key"))
    plan = bloom_prefilter(
        probe, bloom_bitmap(members, "key"), "key"
    )._jdf.queryExecution().executedPlan().toString()
    # the probe side must never shuffle: every bitmap join is a broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------------------------
# Product quantization (operators/clustering.py:pq_*)
# --------------------------------------------------------------------------
def test_covariance_sums_numpy_matches_expr(spark, sf_dir):
    """The mapInPandas GEMM-partial covariance path (the 100 TB swap for
    production dims — VERDICT r3 #5) must agree with the codegen struct-
    explode path: same pairs, same n, same covariance to 6 dp (double
    summation order is the only difference)."""
    from dataingestion_pt_ms_spark.operators.similarity import covariance_sums

    emb = load_table(spark, sf_dir, "embeddings")

    def cov_rows(method):
        sums = covariance_sums(emb, "embedding", 8, method=method)
        cov = (F.col("sxij") - F.col("sxi") * F.col("sxj") / F.col("n")) / (
            F.col("n") - 1
        )
        return {
            (r.i, r.j): (r.n, round(r.cov, 6))
            for r in sums.select("i", "j", "n", cov.alias("cov")).collect()
        }

    expr_rows = cov_rows("expr")
    numpy_rows = cov_rows("numpy")
    assert set(expr_rows) == {(i, j) for i in range(8) for j in range(8) if j >= i}
    assert expr_rows == numpy_rows


def test_covariance_sums_method_validated(spark, sf_dir):
    import pytest

    from dataingestion_pt_ms_spark.operators.similarity import covariance_sums

    emb = load_table(spark, sf_dir, "embeddings").limit(5)
    with pytest.raises(ValueError, match="method"):
        covariance_sums(emb, "embedding", 8, method="scipy")


def test_pq_encode_shape_and_code_range(spark, sf_dir):
    from dataingestion_pt_ms_spark.operators.clustering import (
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    cb = pq_codebooks(emb, codes=8, sub_dim=16)
    cb_pdf = cb.toPandas()
    # codebook: 4 subspaces x (<=8 codes) x 16 dims
    assert set(cb_pdf["sub"]) == {0, 1, 2, 3}
    assert cb_pdf.groupby(["sub", "code"]).size().eq(16).all()
    enc = pq_encode(emb, cb).toPandas()
    # exactly m=4 codes per vector, all in [0, 8)
    assert enc.groupby("vec_id").size().eq(4).all()
    assert enc["code"].between(0, 7).all()


def test_pq_adc_ranks_query_first(spark, sf_dir):
    from dataingestion_pt_ms_spark.operators.clustering import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    top = pq_adc_topk(emb, query, k=10).toPandas()
    assert len(top) == 10
    assert (top["approx_l2sq"] >= 0).all()
    # ordered ascending by quantized distance
    assert top["approx_l2sq"].is_monotonic_increasing
    # the query vector itself carries the minimum possible quantization
    # error for its own code cells — it must appear in the top-10
    assert 0 in set(top["vec_id"])


def test_incremental_dedup_via_parquet_signature_store(spark, tmp_path):
    """Production shape: batch-1 signatures persisted to parquet; batch-2
    dedups against the STORE (raw batch-1 text never re-read)."""
    from dataingestion_pt_ms_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signature,
    )

    base = "the quick brown fox jumps over the lazy dog " * 5
    batch1 = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely " * 6)],
        "doc_id long, text string",
    )
    store_path = str(tmp_path / "sig_store")
    minhash_signature(batch1, "text", "doc_id").write.parquet(store_path)

    batch2 = spark.createDataFrame(
        [(10, base + "extra token"), (11, "novel unseen content here " * 6)],
        "doc_id long, text string",
    )
    stored = spark.read.parquet(store_path)
    hits = incremental_minhash_dedup(
        batch2, stored, "text", "doc_id", threshold=0.5
    ).toPandas()
    assert set(zip(hits["new_key"], hits["stored_key"])) == {(10, 1)}
    assert (hits["est_jaccard"] >= 0.5).all()


def test_cross_doc_span_stats_known_corpus(spark):
    """Polynomial-hashed spans must agree with string n-gram semantics on a
    corpus with a known shared 5-token span and a too-short doc."""
    from dataingestion_pt_ms_spark.operators.text import cross_doc_span_stats

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared + " one two three"),          # 8 tokens -> 4 spans
            (2, "x y " + shared),                    # 7 tokens -> 3 spans
            (3, "totally disjoint text with nothing shared here"),  # 7 -> 3
            (4, "too short"),                        # 2 tokens -> 0 spans
        ],
        "doc_id long, text string",
    )
    out = (
        cross_doc_span_stats(docs, n=5)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "n_spans"] == 4 and out.loc[1, "n_repeated"] == 1
    assert out.loc[2, "n_spans"] == 3 and out.loc[2, "n_repeated"] == 1
    assert out.loc[3, "n_spans"] == 3 and out.loc[3, "n_repeated"] == 0
    assert out.loc[4, "n_spans"] == 0 and out.loc[4, "n_repeated"] == 0
    import pandas as pd

    assert pd.isna(out.loc[4, "repeated_fraction"])
    assert abs(out.loc[1, "repeated_fraction"] - 0.25) < 1e-9


def test_ngrams_expression_matches_span_count(spark):
    """functions.textfns.ngrams (string form) and the operator's polynomial
    span count agree on span positions."""
    from dataingestion_pt_ms_spark.functions.textfns import ngrams, tokens

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b")], "doc_id long, text string"
    )
    pdf = df.select(
        "doc_id", F.size(ngrams(tokens(F.col("text")), 5)).alias("n")
    ).toPandas().set_index("doc_id")
    assert pdf.loc[1, "n"] == 2
    assert pdf.loc[2, "n"] == 0


def test_simhash_fast_path_structural_vs_md5(spark, sf_dir):
    """xxhash64 base hash (production fast path) vs the md5 oracle twin.
    Unlike MinHash, the hamming distance itself is hash-dependent, so pair
    sets can differ legitimately (e.g. a near-identical pair whose few
    differing tokens happen not to flip any bit under one hash). What IS
    hash-independent: documents with identical distinct-token sets get
    identical simhashes under ANY per-token hash, so every such pair must
    appear with hamming 0 in both variants; both must respect the cap."""
    docs = load_table(spark, sf_dir, "documents")
    fast = D.simhash_banded_pairs(
        docs, "text", "doc_id", max_hamming=3, base_hash="xxhash64"
    ).collect()
    slow = D.simhash_banded_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    assert all(0 <= r.hamming <= 3 and r.key_a < r.key_b for r in fast)
    assert len(fast) > 0
    # ground truth: pairs sharing the exact distinct-token set
    from itertools import combinations

    from dataingestion_pt_ms_spark.functions.textfns import distinct_tokens

    groups = (
        docs.select(
            "doc_id",
            F.array_join(
                F.array_sort(distinct_tokens(F.col("text"))), " "
            ).alias("tokset"),
        )
        .groupBy("tokset")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ks"))
        .filter(F.size("ks") > 1)
        .collect()
    )
    truth = {
        (a, b) for r in groups for a, b in combinations(r.ks, 2)
    }
    assert truth, "fixture corpus should contain identical-token-set pairs"
    zero_fast = {(r.key_a, r.key_b) for r in fast if r.hamming == 0}
    zero_slow = {(r.key_a, r.key_b) for r in slow if r.hamming == 0}
    assert truth <= zero_fast
    assert truth <= zero_slow


def test_simhash_base_hash_validated(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    with pytest.raises(ValueError, match="base_hash"):
        D.simhash63(docs, "text", "doc_id", base_hash="sha1").collect()


def test_pagerank_zero_weight_source_is_dangling(spark):
    """A source whose out-weights sum to 0 must be treated as dangling, not
    divide by zero (ANSI mode raises on double x/0)."""
    from dataingestion_pt_ms_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (3, 1, 0.0)], "src long, dst long, w double"
    )
    rows = {r.node: r.pr for r in pagerank(edges, iters=2).collect()}
    assert set(rows) == {1, 2, 3}
    # node 3 contributes nothing; nodes 1 and 2 exchange full mass
    assert rows[1] == rows[2]
    assert rows[3] < rows[1]


def test_personalized_pagerank_isolated_seed_keeps_teleport(spark):
    """A seed with no edges must appear in the output holding its 1/|S|
    teleport share — not vanish while still diluting the other seeds
    (ADVICE r3, low: teleport mass must total exactly 1)."""
    from dataingestion_pt_ms_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0)], "src long, dst long, w double"
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")  # 99 isolated
    rows = {r.node: r.pr for r in personalized_pagerank(edges, seeds, iters=2).collect()}
    assert set(rows) == {1, 2, 99}
    # isolated seed: no in-edges, so pr = (1-d)·(1/2) every round
    assert abs(rows[99] - 0.15 * 0.5) < 1e-12


def test_pagerank_iters_validated(spark):
    from dataingestion_pt_ms_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="iters"):
        pagerank(edges, iters=0)


def test_density_clusters_roles(spark):
    """Hand-built cell: three mutually-close vectors (cores, one cluster),
    one vector near a single core (border), one far vector (noise)."""
    from dataingestion_pt_ms_spark.operators.clustering import density_clusters

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.99, 0.1, 0.0], 0),
        (3, [0.98, 0.15, 0.0], 0),
        (4, [0.95, 0.2, 0.0], 0),   # close to 1-3 too (still core)
        (5, [0.0, 1.0, 0.0], 0),    # orthogonal to the bundle: noise
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r.vec_id: (r.role, r.cluster_id)
        for r in density_clusters(df, eps_cosine=0.9, min_pts=3).collect()
    }
    assert got[1] == ("core", 1)
    assert got[2] == ("core", 1)
    assert got[3] == ("core", 1)
    assert got[4] == ("core", 1)
    assert got[5] == ("noise", -1)
    # border case: drop vec 4's closeness by raising min_pts
    got2 = {
        r.vec_id: (r.role, r.cluster_id)
        for r in density_clusters(df, eps_cosine=0.9, min_pts=4).collect()
    }
    assert got2[5] == ("noise", -1)
    assert all(got2[k][0] in ("core", "border", "noise") for k in got2)


def test_density_clusters_capped_semantics(spark):
    """VERDICT r6 #2: the bounded-degree DBSCAN must (a) equal full DBSCAN
    exactly when the k_max cap doesn't bind, and (b) when it does bind,
    keep CORE status identical (k_max ≥ min_pts preserves the degree
    test) while clusters only ever SPLIT — every capped cluster's members
    sit inside ONE full-DBSCAN cluster, never across two."""
    import random

    from dataingestion_pt_ms_spark.operators.clustering import (
        density_clusters,
        density_clusters_capped,
    )

    rng = random.Random(19)

    def jitter(base, n, start_id):
        return [
            (
                start_id + i,
                [b + rng.uniform(-0.02, 0.02) for b in base],
                0,
            )
            for i in range(n)
        ]

    # two tight bundles + two stragglers in one cell
    rows = (
        jitter([1.0, 0.0, 0.0], 8, 0)
        + jitter([0.0, 1.0, 0.0], 8, 100)
        + [(200, [0.7, 0.7, 0.1], 0), (201, [-1.0, 0.2, 0.3], 0)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    full = {
        r.vec_id: (r.role, r.cluster_id)
        for r in density_clusters(df, eps_cosine=0.9, min_pts=3).collect()
    }
    # (a) cap larger than any degree → bit-identical to full DBSCAN
    uncapped = {
        r.vec_id: (r.role, r.cluster_id)
        for r in density_clusters_capped(
            df, eps_cosine=0.9, min_pts=3, k_max=64
        ).collect()
    }
    assert uncapped == full
    # (b) binding cap: cores identical, clusters refine (never merge)
    capped = {
        r.vec_id: (r.role, r.cluster_id)
        for r in density_clusters_capped(
            df, eps_cosine=0.9, min_pts=3, k_max=3
        ).collect()
    }
    assert {k for k, v in capped.items() if v[0] == "core"} == {
        k for k, v in full.items() if v[0] == "core"
    }
    # refinement: map each capped cluster to the set of full clusters its
    # members belong to — must be a single full cluster per capped cluster
    from collections import defaultdict

    spread = defaultdict(set)
    for k, (role, cid) in capped.items():
        if cid != -1:
            spread[cid].add(full[k][1])
    assert spread and all(len(v) == 1 for v in spread.values()), spread


def test_hits_star_graph(spark):
    """On a star 1→{2,3,4}: node 1 is the only hub (authority 0), leaves
    are pure authorities (hub 0) with equal scores 1/√3; L2 norms are 1."""
    from dataingestion_pt_ms_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 1.0), (1, 4, 1.0)], "src long, dst long, w double"
    )
    rows = {r.node: (r.hub, r.authority) for r in hits(edges, iters=3).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1][0] == 1.0 and rows[1][1] == 0.0
    leaf_auth = round(1.0 / 3 ** 0.5, 6)
    for n in (2, 3, 4):
        assert rows[n] == (0.0, leaf_auth)
    with pytest.raises(ValueError, match="iters"):
        hits(edges, iters=0)


def test_bfs_hops_min_distance_and_early_exit(spark):
    """Path graph 1-2-3-4-5 with seeds {1}: hops = node distance, capped at
    max_hops; a disconnected node is absent; seeds always appear at hop 0.
    Also drives the frontier-drain early exit (max_hops far beyond the
    diameter must not loop forever or duplicate rows)."""
    from dataingestion_pt_ms_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=10).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    capped = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert capped == {1: 0, 2: 1, 3: 2}
    # undirected: seeding from the far end walks the reversed edges
    rev = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, spark.createDataFrame([(5,)], "node int"), max_hops=10).collect()
    }
    assert rev == {5: 0, 4: 1, 3: 2, 2: 3, 1: 4}


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge. Hand-unrolled synchronous
    rounds (labels start = node id, most-frequent neighbour label, ties →
    min): after round 3 the left triangle is uniformly 1 and the right
    triangle uniformly 3 (label 3 leaked over the bridge in round 1 and
    won the right side) — two communities, never merged."""
    from dataingestion_pt_ms_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src int, dst int",
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_zorder_interleave_bijective_property():
    """Property: the z-order bit-interleave used by warehouse_zorder_layout
    is a bijection on [0,256)² — deinterleaving the even/odd bits recovers
    (x, y) exactly. Pure-python mirror of the SQL arithmetic (same integer
    div/mod formula), so a formula regression breaks this before it breaks
    the cross-engine oracle."""
    from hypothesis import given, strategies as st

    from dataingestion_pt_ms_spark.queries.warehouse import _Z_BITS, _z_sql

    def z_py(x: int, y: int) -> int:
        return sum(
            ((x >> b) & 1) * (1 << (2 * b)) + ((y >> b) & 1) * (1 << (2 * b + 1))
            for b in range(_Z_BITS)
        )

    # the generated SQL evaluates to the same value as the python mirror
    sql = _z_sql("x", "y")
    for x, y in [(0, 0), (255, 255), (1, 2), (170, 85)]:
        assert eval(sql, {}, {"x": x, "y": y}) == z_py(x, y)

    @given(st.integers(0, 255), st.integers(0, 255))
    def check(x, y):
        z = z_py(x, y)
        dx = sum(((z >> (2 * b)) & 1) << b for b in range(_Z_BITS))
        dy = sum(((z >> (2 * b + 1)) & 1) << b for b in range(_Z_BITS))
        assert (dx, dy) == (x, y)
        assert 0 <= z < 1 << (2 * _Z_BITS)

    check()


def test_global_running_sum_matches_window_twin(spark):
    """operators/ranking.global_running_sum ≡ sum() OVER (ORDER BY ...) on a
    fixture with duplicate weights and a non-trivial partition count, and no
    single-partition WindowExec in its plan."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from dataingestion_pt_ms_spark.operators.ranking import global_running_sum

    rows = [(i, (i * 7) % 5) for i in range(257)]
    df = spark.createDataFrame(rows, "k bigint, w bigint")
    got = {
        r["k"]: r["rs"]
        for r in global_running_sum(df, "w", ["k"], out_col="rs", num_partitions=8)
        .collect()
    }
    want = {
        r["k"]: r["rs"]
        for r in df.withColumn(
            "rs",
            F.sum("w").over(
                W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        ).collect()
    }
    assert got == want
    # an unpartitioned global window would force an Exchange SinglePartition;
    # the distributed shape must not contain one anywhere in its lineage
    plan = (
        global_running_sum(df, "w", ["k"], out_col="rs", num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, plan


def test_global_islands_matches_window_twin(spark):
    """operators/ranking.global_islands ≡ the classic single-window
    gaps-and-islands (running sum of break flags over the global order) on
    a fixture engineered so islands cross MANY range-partition boundaries
    (both merge and no-merge boundaries), and no SinglePartition in its
    plan."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from dataingestion_pt_ms_spark.operators.ranking import global_islands

    # axis walk: mostly gap-3 steps (same island) with a gap-20 break
    # every 11th row; 257 rows over 8 range partitions => ~23 islands,
    # most spanning a partition boundary
    ax, cur = [], 0
    for i in range(257):
        cur += 20 if i % 11 == 0 and i else 3
        ax.append((i, cur))
    df = spark.createDataFrame(ax, "rid bigint, axis bigint")
    got = {
        r["rid"]: r["isl"]
        for r in global_islands(
            df, "axis", ["axis", "rid"], gap=5, out_col="isl", num_partitions=8
        ).collect()
    }
    w = W.orderBy("axis", "rid")
    brk = F.when(
        F.lag("axis").over(w).isNull()
        | (F.col("axis") - F.lag("axis").over(w) > 5),
        1,
    ).otherwise(0)
    want = {
        r["rid"]: r["isl"]
        for r in df.withColumn(
            "isl",
            F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        ).collect()
    }
    assert got == want
    plan = (
        global_islands(
            df, "axis", ["axis", "rid"], gap=5, out_col="isl", num_partitions=8
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, plan
    # ADVICE r6: the local scan must NOT be a window PARTITION BY _pid —
    # RangePartitioning doesn't satisfy a window's hash-clustering
    # requirement, so that shape re-shuffles ALL rows on _pid. The
    # mapInPandas scan leaves zero Window nodes, making the range
    # exchange the only data-sized one (the stats/offsets branches hash
    # only partition-count-sized partial aggregates).
    assert "Window" not in plan, plan


def test_band_cost_audit_bounds_actual_candidates(spark, sf_dir):
    """The band-cost audit's per-band pair bill must (a) sum to an upper
    bound on the cross-band-deduped candidate set lsh_candidate_pairs
    actually generates, and (b) equal it exactly for a single-band config
    (no cross-band dedup possible)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "text", "doc_id")
    sig = sig.localCheckpoint(eager=False)

    profile = D.lsh_band_cost_profile(sig, "doc_id", bands=8, rows_per_band=8)
    billed = sum(r.candidate_pairs for r in profile.collect())
    actual = D.lsh_candidate_pairs(sig, "doc_id", bands=8, rows_per_band=8).count()
    assert actual <= billed

    one_band = D.lsh_band_cost_profile(sig, "doc_id", bands=1, rows_per_band=8)
    billed1 = sum(r.candidate_pairs for r in one_band.collect())
    actual1 = D.lsh_candidate_pairs(sig, "doc_id", bands=1, rows_per_band=8).count()
    assert actual1 == billed1


def test_blocked_knn_matches_expression_path(spark, sf_dir):
    """The per-cell GEMM top-k (blocked_knn) must return exactly the
    join+window expression formulation's rows: same neighbours, same
    rounded cosines, same (sim DESC, nb) tie order."""
    from dataingestion_pt_ms_spark.queries.llm_similarity import (
        _sim_knn_graph_cells_expr,
        sim_knn_graph_cells,
    )

    got = {
        (r.vec_id, r.rnk): (r.nb, r.label, r.cosine_sim)
        for r in sim_knn_graph_cells(spark, sf_dir).collect()
    }
    want = {
        (r.vec_id, r.rnk): (r.nb, r.label, r.cosine_sim)
        for r in _sim_knn_graph_cells_expr(spark, sf_dir).collect()
    }
    assert got == want and got


def test_bellman_ford_rounds_tiny_graph(spark):
    """Known cheapest paths on a weighted path graph: 1-2 (cost 5),
    2-3 (cost 1), 1-3 (cost 10): after 2 rounds dist(3) must take the
    cheaper 2-hop route (6), not the direct edge (10)."""
    import pytest as _pytest

    from dataingestion_pt_ms_spark.operators.graph import bellman_ford_rounds

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (1, 3, 10)], "src long, dst long, cost long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    d = {r.node: r.dist for r in bellman_ford_rounds(edges, seeds, rounds=2).collect()}
    assert d == {1: 0, 2: 5, 3: 6}
    with _pytest.raises(ValueError, match="rounds"):
        bellman_ford_rounds(edges, seeds, rounds=0)


def test_global_running_max_matches_window_twin(spark, sf_dir):
    """Distributed prefix max must equal the single-window formulation."""
    from pyspark.sql import Window as W

    from dataingestion_pt_ms_spark.operators.ranking import global_running_max

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    got = {
        r.o_orderkey: r.rm
        for r in global_running_max(
            orders, "o_totalprice", [F.col("o_orderkey")], out_col="rm"
        ).collect()
    }
    w = W.orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r.o_orderkey: r.rm
        for r in orders.select(
            "o_orderkey", F.max("o_totalprice").over(w).alias("rm")
        ).collect()
    }
    assert got == want and got


def test_pareto_skyline_equal_spend_ties(spark, tmp_path):
    """Equal-spend domination: a customer tied on spend but with fewer
    orders is dominated; exact (spend, n) ties both stay on the front."""
    import os

    from dataingestion_pt_ms_spark.queries.warehouse import orders_pareto_skyline

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    rows = []
    # custkey 1: spend 300 in 3 orders; custkey 2: spend 300 in 2 orders
    # (dominated); custkey 3: spend 300 in 3 orders (exact tie with 1);
    # custkey 4: spend 500 in 1 order (front: best spend)
    oid = 0
    for ck, amounts in [(1, [100.0] * 3), (2, [150.0, 150.0]), (3, [100.0] * 3), (4, [500.0])]:
        for a in amounts:
            rows.append((oid, ck, a, "1996-01-01", "1-URGENT"))
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date")).write.parquet(
        f"{sf}/orders.parquet"
    )
    got = {(r.custkey, r.n_orders) for r in orders_pareto_skyline(spark, sf).collect()}
    assert got == {(1, 3), (3, 3), (4, 1)}


def test_prefix_filter_exact_vs_naive_all_pairs(spark, sf_dir):
    """Prefix filtering is LOSSLESS: the candidate scheme (index only the
    first m - ceil(t*m) + 1 frequency-ordered distinct shingles, plus the
    length prune ceil(t*m_a) <= m_b) provably cannot miss a pair with
    shingle-Jaccard >= t, so the operator's output must EQUAL the naive
    all-pairs result — not approximate it."""
    from dataingestion_pt_ms_spark.functions.textfns import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    t = 0.8
    got = {
        (r.key_a, r.key_b, r.jaccard)
        for r in D.prefix_filter_jaccard_pairs(
            docs, "text", "doc_id", threshold=t
        ).collect()
    }
    reps = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", shingles(tokens(F.col("text")), 3).alias("s"))
    )
    a = reps.select(F.col("doc_id").alias("key_a"), F.col("s").alias("sa"))
    b = reps.select(F.col("doc_id").alias("key_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (
        F.size(F.col("sa")).cast("double")
        + F.size(F.col("sb")).cast("double")
        - inter
    )
    truth = {
        (r.key_a, r.key_b, r.jaccard)
        for r in a.crossJoin(b)
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= t)
        .collect()
    }
    assert got == truth


def test_winnowing_local_guarantee(spark):
    """The winnowing guarantee (Schleimer et al. SIGMOD'03): any shared
    token run of length >= w + k - 1 between two documents produces at
    least one shared fingerprint — even when the documents are otherwise
    completely different (the partial-overlap case MinHash document
    sampling can miss)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    run = " ".join(rng.choice(vocab) for _ in range(8))  # w+k-1 = 4+5-1 = 8
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, mk(60) + " " + run + " " + mk(60)),
            (2, mk(80) + " " + run),
            (3, mk(70)),  # no planted run
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.key_a, r.key_b)
        for r in D.winnowing_overlap_pairs(
            docs, "text", "doc_id", k=5, w=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs


def test_winnowing_short_doc_below_noise_threshold(spark):
    """Docs shorter than w + k - 1 tokens have no complete window and
    select no fingerprints — the documented noise threshold."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g h")],  # 7 < 8 <= 8
        ["doc_id", "text"],
    )
    fps = D.winnowing_fingerprints(docs, "text", "doc_id", k=5, w=4)
    got = {r.k for r in fps.collect()}
    assert got == {2}


def test_stitch_artifact_pairs_planted(spark, tmp_path):
    """Planted stitching artifact: doc 2's first 8 tokens == doc 1's last
    8 tokens (one logical document sliced into shards). The boundary join
    must find exactly the (1, 2) pair and nothing else; the fixture-data
    oracle row is a no-false-positive check (0 rows at sf0.001)."""
    import random

    from dataingestion_pt_ms_spark.queries.llm_dedup import (
        dedup_stitch_artifact_pairs,
    )

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(300)]
    mk = lambda n: [rng.choice(vocab) for _ in range(n)]  # noqa: E731
    a = mk(40)
    b = a[-8:] + mk(40)  # head of b == tail of a
    c = mk(40)
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, " ".join(a), "s", "en"), (2, " ".join(b), "s", "en"),
         (3, " ".join(c), "s", "en")],
        ["doc_id", "text", "source", "lang"],
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        (r.key_a, r.key_b)
        for r in dedup_stitch_artifact_pairs(spark, sf).collect()
    }
    assert got == {(1, 2)}


def test_builtin_skewness_kurtosis_match_explicit_moments(spark, sf_dir):
    """Documents the builtin definitions: F.skewness is population g1 =
    m3/m2^1.5 and F.kurtosis is EXCESS kurtosis m4/m2^2 - 3 (DuckDB's
    builtins are bias-corrected sample variants — the reason
    orders_moments_profile computes explicit moments on both sides)."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("x")
    )
    mean = orders.agg(F.avg("x")).first()[0]
    d = F.col("x") - F.lit(mean)
    r = orders.agg(
        F.avg(F.pow(d, 2)).alias("m2"),
        F.avg(F.pow(d, 3)).alias("m3"),
        F.avg(F.pow(d, 4)).alias("m4"),
        F.skewness("x").alias("sk"),
        F.kurtosis("x").alias("ku"),
    ).first()
    g1 = r.m3 / r.m2 ** 1.5
    ex = r.m4 / r.m2 ** 2 - 3
    assert abs(r.sk - g1) < 1e-9
    assert abs(r.ku - ex) < 1e-9


def test_soundex_twin_matches_builtin(spark):
    """The translate-chain soundex twin (the DuckDB-expressible form used
    by join_phonetic_blocking's oracle) must equal F.soundex, including
    the h/w-transparency cases every naive implementation gets wrong."""
    from dataingestion_pt_ms_spark.queries.relational2 import _soundex_expr

    words = [
        "ashcraft", "pfister", "tymczak", "white", "wyatt", "adams",
        "robert", "rupert", "honeyman", "gutierrez", "jackson",
        "washington", "lee", "red", "rod", "gear", "anvil", "widget",
        # h/w-INITIAL class (hypothesis counterexample 'wb': the first
        # letter has no code, so the next consonant's code must survive)
        "wb", "hb", "wbc", "hsmith", "wright", "hristov",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    rows = df.select(
        "w",
        _soundex_expr(F.col("w")).alias("twin"),
        F.soundex("w").alias("builtin"),
    ).collect()
    mismatches = [(r.w, r.twin, r.builtin) for r in rows if r.twin != r.builtin]
    assert not mismatches, mismatches


def test_bpe_train_merges_toy_example(spark, tmp_path):
    """Hand-computed 3-round BPE on counts {aaab:3, aab:2}: round 1 merges
    (a,a) with count 8; round 2 is a COUNT TIE (aa,a)=3 vs (a,b)=3 and the
    lexicographic tie-break must pick (a,b); round 3 merges (aa,ab)=3.
    Pins both the weighted counting and the deterministic tie rule."""
    from dataingestion_pt_ms_spark.queries.llm_text import text_bpe_train_merges

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "aaab aaab aaab aab aab", "s", "en")],
        ["doc_id", "text", "source", "lang"],
    ).write.parquet(f"{sf}/documents.parquet")
    got = [
        (r.round, r.lhs, r.rhs, r.pair_count)
        for r in text_bpe_train_merges(spark, sf).collect()
    ]
    assert got[:3] == [(1, "a", "a", 8), (2, "a", "b", 3), (3, "aa", "ab", 3)]


def test_kneser_ney_mass_sums_to_one_per_context(spark, sf_dir):
    """Interpolated KN is a proper conditional distribution over the
    OBSERVED bigram vocabulary: for every context w1,
    sum_w2 [max(c12-D,0)/c1 + lambda(w1)*P_cont(w2)] = 1 when summed over
    all w2 (continuation mass completes exactly what discounting
    removed... over observed continuations of w1 it equals
    1 - lambda(w1)*(1 - sum of their P_cont); check the full identity on
    unrounded terms instead: sum(max(c12-D,0))/c1 + lambda*S_cont, where
    summing over ALL w2 in the bigram vocab gives exactly 1)."""
    from pyspark.sql import Window as W

    from dataingestion_pt_ms_spark.functions.textfns import tokens

    D = 0.75
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "t"))
    wd = W.partitionBy("doc_id").orderBy("i")
    bg = tok.select(F.col("t").alias("w1"), F.lead("t").over(wd).alias("w2")).where(
        F.col("w2").isNotNull()
    )
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bigrams.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_cont")
    )
    hist = bigrams.groupBy("w2").agg(F.count(F.lit(1)).alias("n_hist"))
    n_types = bigrams.count()
    # full cross (w1 contexts x all observed w2): P_KN over the complete
    # observed vocabulary must sum to 1 for every context
    grid = c1.select("w1").crossJoin(hist.select("w2", "n_hist"))
    full = grid.join(c1, "w1").join(bigrams, ["w1", "w2"], "left")
    p = (
        F.greatest(F.coalesce(F.col("c12").cast("double"), F.lit(0.0)) - D, F.lit(0.0)) / F.col("c1")
        + (D * F.col("n_cont") / F.col("c1")) * (F.col("n_hist").cast("double") / F.lit(float(n_types)))
    )
    sums = full.groupBy("w1").agg(F.sum(p).alias("mass")).collect()
    assert sums
    for r in sums:
        assert abs(r.mass - 1.0) < 1e-9, (r.w1, r.mass)


def test_ivf_index_persist_probe_matches_fresh(spark, sf_dir, tmp_path):
    """Build-once/probe-many: a probe against the SAVED index (centroid
    parquet + cell-partitioned corpus) returns exactly what the fresh
    in-memory ann_ivf_topk computes, and the probe's scan is pruned to
    the probed cell partitions (PartitionFilters on blk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    idx = str(tmp_path / "ivf_index")
    S.save_ivf_index(emb, idx)
    probed = S.probe_ivf_index(spark, idx, query, k=5, nprobe=2)
    fresh = S.ann_ivf_topk(emb, query, k=5, nprobe=2)
    got = [(r.vec_id, r.label, r.cosine_sim) for r in probed.collect()]
    want = [(r.vec_id, r.label, r.cosine_sim) for r in fresh.collect()]
    assert got == want and len(got) == 5
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "blk" in plan.split("PartitionFilters")[1][:120], plan


def test_soundex_chain_property_vs_textbook():
    """Property (hypothesis, pure-python mirror of the translate-chain —
    same trick as the z-order bijection test): the replace/collapse chain
    used by join_phonetic_blocking equals the textbook American Soundex
    (explicit h/w-transparency state machine) on arbitrary alpha words."""
    import re

    from hypothesis import given, strategies as st

    MAP = dict(zip("abcdefghijklmnopqrstuvwxyz", "0123012-02245501262301-202"))

    def chain(word: str) -> str:
        mapped = "".join(MAP[c] for c in word)
        s = mapped.replace("-", "")
        for d in "123456":
            s = re.sub(d + "{2,}", d, s)
        if mapped[0] != "-":  # h/w first letter contributes no code
            s = s[1:]
        s = s.replace("0", "")
        return word[0].upper() + (s + "000")[:3]

    def textbook(word: str) -> str:
        # classic: walk letters, code consonants, skip h/w entirely
        # (adjacent-code suppression looks THROUGH h/w), vowels reset
        codes = []
        prev = MAP[word[0]] if MAP[word[0]] != "-" else None
        for c in word[1:]:
            m = MAP[c]
            if m == "-":          # h/w: transparent, prev code unchanged
                continue
            if m == "0":          # vowel: separator, resets suppression
                prev = None
                continue
            if m != prev:
                codes.append(m)
            prev = m
        return word[0].upper() + ("".join(codes) + "000")[:3]

    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12))
    def check(w):
        assert chain(w) == textbook(w), w

    check()


def test_kfold_cv_loo_algebra_matches_direct_fit(spark, sf_dir):
    """The leave-one-out subtraction + closed-form holdout MSE must equal
    a direct per-fold fit: train OLS on folds != 0 with numpy, evaluate
    on fold 0, compare to the query's fold-0 row."""
    import numpy as np

    from dataingestion_pt_ms_spark.catalog import load_table
    from dataingestion_pt_ms_spark.queries.drift import lineitem_kfold_cv_ols

    row = {
        r.fold: r for r in lineitem_kfold_cv_ols(spark, sf_dir).collect()
    }[0]
    pdf = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_discount", "l_extendedprice"
    ).toPandas()
    import hashlib

    folds = pdf["l_orderkey"].map(
        lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 5
    )
    tr, ho = pdf[folds != 0], pdf[folds == 0]
    X = np.column_stack(
        [np.ones(len(tr)), tr["l_quantity"], tr["l_discount"]]
    ).astype(float)
    beta, *_ = np.linalg.lstsq(X, tr["l_extendedprice"].astype(float), rcond=None)
    Xh = np.column_stack(
        [np.ones(len(ho)), ho["l_quantity"], ho["l_discount"]]
    ).astype(float)
    resid = ho["l_extendedprice"].astype(float).to_numpy() - Xh @ beta
    rmse = float(np.sqrt((resid ** 2).mean()))
    assert abs(row.beta_qty - beta[1]) < 1e-4
    assert abs(row.beta_disc - beta[2]) < 1e-3
    assert abs(row.holdout_rmse - rmse) < 0.01
    assert row.n_holdout == len(ho)


def test_winnowing_spans_locate_planted_region(spark):
    """The span report must LOCATE the shared region: a run planted at
    tokens ~60-67 of doc 1 and ~80-87 of doc 2 yields a pair whose span
    extents cover those offsets (within the winnow window w-1 slack on
    the left edge, and k+w grams on the right)."""
    import random

    rng = random.Random(3)
    vocab = [f"v{i}" for i in range(400)]
    run = [rng.choice(vocab) for _ in range(12)]
    mk = lambda n: [rng.choice(vocab) for _ in range(n)]  # noqa: E731
    d1 = mk(60) + run + mk(50)   # run at positions 60..71
    d2 = mk(80) + run + mk(30)   # run at positions 80..91
    docs = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2))], ["doc_id", "text"]
    )
    rows = D.winnowing_match_spans(
        docs, "text", "doc_id", k=5, w=4, min_shared=1, max_postings=50
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.key_a, r.key_b) == (1, 2)
    # shared fingerprints must fall inside the planted runs
    assert 55 <= r.a_span_lo and r.a_span_hi <= 72
    assert 75 <= r.b_span_lo and r.b_span_hi <= 92


def test_bmp_roundtrip_and_feature_extract(spark):
    """REAL codec-free decode: generated 24-bit BMPs (known pixel
    values, including a non-4-aligned width that exercises row padding)
    round-trip through encode_bmp/decode_bmp exactly, and the
    mapInPandas feature stage recovers the exact per-channel means."""
    import numpy as np

    rng = np.random.RandomState(5)
    payloads = []
    for doc_id, (h, w) in enumerate([(4, 4), (3, 5), (2, 7)]):  # 5,7: padding
        arr = rng.randint(0, 256, size=(h, w, 3), dtype="uint8")
        data = M.encode_bmp(arr)
        back = M.decode_bmp(data)
        assert (back == arr).all(), (h, w)
        means = arr.reshape(-1, 3).mean(axis=0)
        payloads.append((doc_id, bytearray(data), w, h, [float(x) for x in means]))
    df = spark.createDataFrame(
        [(p[0], p[1]) for p in payloads], ["doc_id", "media_bytes"]
    )
    got = {r.doc_id: r for r in M.bmp_feature_extract(df).collect()}
    for doc_id, _, w, h, means in payloads:
        r = got[doc_id]
        assert (r.width, r.height) == (w, h)
        assert abs(r.mean_r - means[0]) < 1e-9
        assert abs(r.mean_g - means[1]) < 1e-9
        assert abs(r.mean_b - means[2]) < 1e-9


def test_wav_roundtrip_chunk_walk(spark):
    """PCM16 WAV round-trip: known samples survive encode/decode exactly,
    and the chunk walker tolerates an extra metadata chunk between fmt
    and data (real-world WAVs carry LIST/INFO chunks)."""
    import struct

    import numpy as np

    s = np.array([0, 1000, -1000, 32767, -32768, 5], dtype="<i2")
    data = M.encode_wav(s, 8000)
    back, rate = M.decode_wav(data)
    assert rate == 8000 and (back == s).all()
    # splice a LIST chunk before data
    hdr, body = data[:36], data[36:]
    extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
    spliced = (
        data[:4]
        + struct.pack("<I", len(data) - 8 + len(extra))
        + data[8:36]
        + extra
        + body
    )
    back2, _ = M.decode_wav(spliced)
    assert (back2 == s).all()


def test_global_prefix_scan_matches_chained_singletons(spark):
    """The fused scan (one exchange) must agree column-for-column with
    chaining global_running_sum twice + global_row_number (three
    exchanges) — same contract, cheaper plan."""
    from dataingestion_pt_ms_spark.operators.ranking import (
        global_prefix_scan,
        global_row_number,
        global_running_sum,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 997).select(
        (F.col("id") * 37 % 991).alias("v"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 3).alias("b"),
    )
    fused = global_prefix_scan(df, ["a", "b"], ["v", "a", "b"], rn_col="rn")
    chained = global_running_sum(df, "a", ["v", "a", "b"], out_col="a_cum")
    chained = global_running_sum(chained, "b", ["v", "a", "b"], out_col="b_cum")
    chained = global_row_number(chained, ["v", "a", "b"], out_col="rn")
    cols = ["v", "a", "b", "a_cum", "b_cum", "rn"]
    got = sorted(tuple(r) for r in fused.select(*cols).collect())
    want = sorted(tuple(r) for r in chained.select(*cols).collect())
    assert got == want


def test_histogram_select_kth_exact_vs_sort(spark):
    """The bounded-collect selector must return the EXACT k-th smallest
    for ranks across the whole range — including duplicates, negatives,
    and a skewed tail — and agree with a plain sort. It is additionally
    probed with a deliberately UNDERSHOT upper bound: the clamped bucket
    map stays monotone, so the selection must still be exact."""
    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.operators.ranking import histogram_select_kth_eager

    df = spark.range(0, 1500).select(
        (
            F.when(F.col("id") % 11 == 0, F.lit(42.5))  # heavy tie cluster
            .when(F.col("id") % 7 == 0, -(F.col("id") % 97).cast("double"))
            .otherwise(((F.col("id") * 37) % 991).cast("double") ** 1.7)
        ).alias("v")
    )
    want = sorted(r["v"] for r in df.collect())
    lo, hi = want[0], want[-1]
    for k in (1, 2, 750, 1350, 1499, 1500):
        got_eager = histogram_select_kth_eager(df, "v", k, lo, hi, buckets=64).collect()
        assert [r["kth_value"] for r in got_eager] == [want[k - 1]], k
        # undershooting hi clamps the tail into the top bucket — still exact
        got_clamped = histogram_select_kth_eager(
            df, "v", k, lo, hi / 8, buckets=64
        ).collect()
        assert [r["kth_value"] for r in got_clamped] == [want[k - 1]], k
    # out-of-range rank → empty frame, not an error
    assert histogram_select_kth_eager(df, "v", 1501, lo, hi).count() == 0
    # degenerate hi <= lo → single bucket, still exact
    assert [
        r["kth_value"] for r in histogram_select_kth_eager(df, "v", 3, 5.0, 5.0).collect()
    ] == [want[2]]


def test_histogram_select_kth_ignores_null_and_nan(spark):
    """ADVICE r6: a NULL/NaN value used to map to a NULL (or NaN) bucket
    whose triangular cumulative join matched nothing (_before = 0),
    letting two buckets claim rank k. The selector ranks among the
    non-null, non-NaN values only — the same population SQL's ordered-set
    aggregates rank over."""
    from dataingestion_pt_ms_spark.operators.ranking import histogram_select_kth_eager

    vals = [7.0, None, 3.0, float("nan"), 11.0, 5.0, None, 2.0, float("nan"), 9.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    clean = sorted(v for v in vals if v is not None and v == v)
    lo, hi = clean[0], clean[-1]
    for k in (1, 3, len(clean)):
        got_eager = [
            r["kth_value"]
            for r in histogram_select_kth_eager(df, "v", k, lo, hi, buckets=8).collect()
        ]
        assert got_eager == [clean[k - 1]], (k, got_eager)
    # rank beyond the non-null population → empty, not a phantom NaN row
    assert histogram_select_kth_eager(df, "v", len(clean) + 1, lo, hi).count() == 0


def test_histogram_select_kth_plan_has_no_global_window(spark):
    """The selector's ranking window must be PARTITIONED (by the bucket
    id) — the whole point versus a bare row_number() OVER (ORDER BY v)."""
    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.operators.ranking import histogram_select_kth_eager

    df = spark.range(0, 100).select(F.col("id").cast("double").alias("v"))
    got = histogram_select_kth_eager(df, "v", 50, 0.0, 99.0)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_b#" in plan, plan


def test_video_shot_boundaries_find_planted_cuts(spark, sf_dir):
    """Every doc's 12-frame clip has shots of 4 frames: the decoded-pixel
    SAD detector must flag exactly frames 4 and 8 as boundaries and stay
    quiet within shots (jitter mad ~ a few gray levels)."""
    from dataingestion_pt_ms_spark.queries import registry

    rows = (
        registry()["multimodal_video_shot_boundaries"].fn(spark, sf_dir).collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set())
        if r["is_shot_boundary"] == 1:
            by_doc[r["doc_id"]].add(r["frame_idx"])
    assert by_doc, "no rows"
    for doc, cuts in by_doc.items():
        assert cuts == {4, 8}, (doc, cuts)


def test_margin_mining_blocked_path_matches_crossjoin_twin(spark, sf_dir):
    """VERDICT r4 #2: the production blocked-GEMM margin miner
    (operators/similarity.bipartite_margin_pairs) must reproduce the
    broadcast-crossJoin formulation (= the DuckDB oracle) pair for pair,
    value for value — and its plan must contain no cross/cartesian join
    on the pair space."""
    from dataingestion_pt_ms_spark.queries.llm_similarity import (
        _margin_mining_crossjoin_twin,
        sim_margin_alignment_mining,
    )

    got = sorted(
        tuple(r) for r in sim_margin_alignment_mining(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in _margin_mining_crossjoin_twin(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0
    from dataingestion_pt_ms_spark.plans.inspect import formatted_plan

    plan = formatted_plan(sim_margin_alignment_mining(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_every_registry_query_is_documented():
    """VERDICT r4 #3/#4: documentation discipline is mechanical, not
    memorial — every registered query name must appear verbatim in
    PARITY.md (the §2.B coverage map). A new @register() without its
    PARITY row fails CI from now on."""
    from pathlib import Path

    from dataingestion_pt_ms_spark.queries import registry

    names = set(registry())
    parity = Path(__file__).resolve().parent.parent.joinpath("PARITY.md").read_text()
    undocumented = sorted(n for n in names if n not in parity)
    assert not undocumented, f"registry entries missing a PARITY.md row: {undocumented}"
    # §17 streaming jobs (VERDICT r6 #5): every stream-bench job names a
    # real streaming job
    import dataingestion_pt_ms_spark.streaming.jobs as sj
    import tools.stream_bench as sb

    assert all(hasattr(sj, j) for j in sb.JOBS)


def test_bipartite_margin_pairs_edge_cases(spark):
    """Edge discipline for the blocked margin miner: an empty side yields
    an empty result (not an error), and k larger than a side clamps to
    the side size without changing the mutual-argmax semantics."""
    from dataingestion_pt_ms_spark.operators.similarity import (
        bipartite_margin_pairs,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "xa long, va array<double>")

    def mkb(rows):
        return spark.createDataFrame(rows, "xb long, vb array<double>")

    a = mk([(1, [1.0, 0.0]), (2, [0.9, 0.1])])
    b_empty = mkb([])
    assert bipartite_margin_pairs(a, b_empty, k=4, n_blocks=4).count() == 0
    assert (
        bipartite_margin_pairs(
            mk([]), mkb([(9, [1.0, 0.0])]), k=4, n_blocks=4
        ).count()
        == 0
    )

    # k=10 over a 2×2 space: each side's neighborhood mean is over ALL
    # partners (clamped), mutual argmax pairs the aligned vectors
    b = mkb([(10, [1.0, 0.0]), (20, [0.0, 1.0])])
    a2 = mk([(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    got = {
        (r.xa, r.xb): (r.c, r.margin)
        for r in bipartite_margin_pairs(a2, b, k=10, n_blocks=4).collect()
    }
    assert set(got) == {(1, 10), (2, 20)}
    for (xa, xb), (c, m) in got.items():
        assert c == 1.0
        # both endpoints' neighborhood means are (1.0 + 0.0)/2 = 0.5,
        # so margin = 1.0 / 0.5 = 2.0
        assert m == 2.0


def test_bipartite_margin_pairs_b_tiling_is_invisible(spark):
    """Round 6: B is hash-tiled so no task ever holds a corpus-sized B
    matrix; the k-bounded window / struct-max merges use the in-group tie
    order, so mutual pairs, cosines, and margins must be identical for
    any tile size."""
    import random

    from dataingestion_pt_ms_spark.operators.similarity import (
        bipartite_margin_pairs,
    )

    rng = random.Random(23)
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)],
        "xa long, va array<double>",
    )
    b = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(55)],
        "xb long, vb array<double>",
    )
    whole = {
        (r.xa, r.xb, r.c, r.margin)
        for r in bipartite_margin_pairs(
            a, b, k=3, n_blocks=4, b_tile_rows=10_000
        ).collect()
    }
    assert whole, "fixture must produce mutual pairs"
    for tile in (5, 17):  # 11 and 4 B-tiles
        tiled = {
            (r.xa, r.xb, r.c, r.margin)
            for r in bipartite_margin_pairs(
                a, b, k=3, n_blocks=4, b_tile_rows=tile
            ).collect()
        }
        assert tiled == whole, f"b_tile_rows={tile}: mutual pairs diverged"
