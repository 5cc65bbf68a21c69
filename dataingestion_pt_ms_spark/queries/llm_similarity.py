"""Similarity-search + multimodal queries over ``embeddings``/``documents``
(SURVEY.md §2.B: cosine top-k brute force, LSH-bucketed ANN, blocked NN
near-dup, multimodal joins, binary-column plumbing).

Oracles compute cosine in double precision (``embedding::DOUBLE[]``) to match
the engine's double-cast higher-order expressions; ranking always orders by
(rounded score, key) so the k-boundary is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import multimodal as M
from ..operators import similarity as S
from ..session import materialize
from . import register

_QID = 0  # fixed query vector for the search queries

TOPK_ORACLE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QID}),
scored AS (
  SELECT vec_id,
         round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cosine_sim
  FROM embeddings, q
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


@register("sim_cosine_topk_bruteforce", oracle=TOPK_ORACLE)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QID)
    return S.cosine_topk(emb, query, k=10)


THRESH_ORACLE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QID})
SELECT vec_id, label,
       round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cosine_sim
FROM embeddings, q
WHERE round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) >= 0.2
ORDER BY cosine_sim DESC, vec_id
"""


@register("sim_cosine_threshold_search", oracle=THRESH_ORACLE)
def sim_cosine_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == _QID).select(
            F.col("embedding").cast("array<double>").alias("_qvec")
        )
    )
    return (
        emb.crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.2)
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
    )


# The hyperplanes are deterministic rational literals (operators/similarity.py:
# make_planes), so the full LSH pipeline is oracle-expressible: embed the
# planes as DOUBLE[] literals and recompute each sign bit. Sign decisions are
# engine-stable because both sides evaluate dot(v, plane) in double precision
# and a dot would have to land within float-rounding distance of 0.0 to flip
# (never observed at fixture SFs; probability ~1e-10 per (vector, plane)).
_PLANES = S.make_planes(8, 64)


def _plane_lit(p: list[float]) -> str:
    return "CAST([" + ", ".join(repr(x) for x in p) + "] AS DOUBLE[])"


_BUCKET_EXPR = "\n    + ".join(
    f"(CASE WHEN list_dot_product(v, {_plane_lit(p)}) > 0 THEN {1 << j} ELSE 0 END)"
    for j, p in enumerate(_PLANES)
)

ANN_LSH_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
    {_BUCKET_EXPR} AS bucket
  FROM e
),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = {_QID})
SELECT b.vec_id, b.bucket,
       round(list_cosine_similarity(b.v, q.qv), 6) AS cosine_sim
FROM b, q
WHERE b.bucket = q.qb
ORDER BY cosine_sim DESC, vec_id
LIMIT 5
"""


@register("sim_ann_lsh_bucketed", oracle=ANN_LSH_ORACLE)
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH (8 deterministic planes → 256 buckets);
    exact top-5 within the query's bucket. Full oracle since round 2: the
    planes are literal rationals, so DuckDB recomputes the sign bits
    bit-identically; recall vs brute force stays asserted in engine tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QID)
    return S.ann_lsh_topk(emb, query, _PLANES, k=5)


NN_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id, a.label, b.vec_id AS nn_vec_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                                     b.vec_id) AS rn
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT vec_id, label, nn_vec_id, cosine_sim FROM scored WHERE rn = 1
"""


@register("sim_blocked_nearest_neighbor", oracle=NN_ORACLE)
def sim_blocked_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup search: nearest neighbor within each label block
    (IVF-cell shape — Σ|block|² pairs, not n²)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.blocked_nearest_neighbor(emb)


MM_JOIN_ORACLE = """
SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
       CAST(len(e.embedding) AS BIGINT) AS dim,
       round(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x))), 6) AS emb_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""


@register("multimodal_join_docs_embeddings", oracle=MM_JOIN_ORACLE)
def multimodal_join_docs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row assembly: text metadata ⋈ vector modality on the
    shared key (documents.doc_id ↔ embeddings.vec_id, TESTDATA join map)."""
    from ..functions.vectors import l2_norm

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(F.col("embedding").cast("array<double>")), 6).alias("emb_norm"),
    )


MM_BIN_ORACLE = """
SELECT doc_id,
       'text/plain' AS media_kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5
FROM documents
"""


@register("multimodal_binary_metadata", oracle=MM_BIN_ORACLE)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary column + typed metadata (operators/multimodal.py);
    metadata-only projection never touches the payload bytes at scan time
    thanks to column pruning."""
    docs = load_table(spark, sf_dir, "documents")
    return M.attach_binary_payload(docs).select(
        "doc_id", "media_kind", "byte_len", "content_md5"
    )


@register("multimodal_fake_features", oracle=None)
def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (deterministic stub decode — see operators/multimodal.py). Rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.fake_feature_extract(M.attach_binary_payload(docs))
    return feats.select(
        "doc_id",
        "byte_len",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias("feature_sum"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Frame sampling + resize stubs. documents.text is pure ASCII (verified:
# octet_length(encode(text)) == length(text) for every row at every SF), so
# byte slicing == character slicing and DuckDB can replay the frame/pixel
# math over substr() — the codec-free plumbing stays fully oracle-checked.
# --------------------------------------------------------------------------
FRAME_ORACLE = """
WITH f AS (
  SELECT doc_id, i - 1 AS frame_idx,
         substr(text, (i - 1) * 32 + 1, 32) AS frame
  FROM documents,
       unnest(generate_series(1, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS u(i)
)
SELECT doc_id, frame_idx,
       CAST(length(frame) AS BIGINT) AS frame_len,
       md5(frame) AS frame_md5
FROM f WHERE frame_idx % 4 = 0
ORDER BY doc_id, frame_idx
"""


@register("multimodal_frame_sample", oracle=FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 4th 32-byte frame of the binary payload with per-frame digest
    (operators/multimodal.py:sample_frames — mapInPandas row expansion)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_binary_payload(docs), frame_bytes=32, stride=4).orderBy(
        "doc_id", "frame_idx"
    )


_RSZ_H, _RSZ_W = 6, 5  # resize 4x8 source → 6x5: up-scales rows, down-scales cols

BMP_RESIZE_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), px AS (
  SELECT doc_id, c,
         avg(CAST((doc_id * 31 + ((y * 4) // {_RSZ_H}) * 7
                   + ((x * 8) // {_RSZ_W}) * 3 + c) % 256 AS DOUBLE)) AS m
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_RSZ_H - 1})) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, {_RSZ_W - 1})) AS x)
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS c)
  GROUP BY doc_id, c
)
SELECT doc_id, {_RSZ_W} AS width, {_RSZ_H} AS height,
       round(max(CASE WHEN c = 0 THEN m END), 6) AS mean_r,
       round(max(CASE WHEN c = 1 THEN m END), 6) AS mean_g,
       round(max(CASE WHEN c = 2 THEN m END), 6) AS mean_b
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_bmp_resize", oracle=BMP_RESIZE_ORACLE)
def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize on REAL decoded pixels (round 6, VERDICT r5 #5 — the
    upgrade multimodal_bmp_decode's feature extraction got, applied to
    the resize stage): arithmetic 4x8 BMPs (pixel(y,x,c) = (id·31 + y·7
    + x·3 + c) mod 256, same generator as multimodal_bmp_decode) are
    encoded to actual BMP bytes, resized 4x8 → 6x5 by
    operators/multimodal.bmp_resize (decode → integer-ratio
    nearest-neighbor index map → re-encode), then decoded AGAIN by
    bmp_feature_extract for per-channel means — so the oracle's pure
    arithmetic replay of the NN index map checks decode, resample,
    re-encode and re-decode end to end: a wrong channel order, row flip,
    padding slip, or off-by-one in the index map breaks the value hash.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    src_h, src_w = 4, 8

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                y, x, ch = np.meshgrid(
                    np.arange(src_h), np.arange(src_w), np.arange(3),
                    indexing="ij",
                )
                arr = ((int(doc_id) * 31 + y * 7 + x * 3 + ch) % 256).astype("uint8")
                rows.append((int(doc_id), bytearray(M.encode_bmp(arr))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    bmps = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.bmp_feature_extract(M.bmp_resize(bmps, _RSZ_H, _RSZ_W))
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")


IVF_ORACLE = f"""
WITH exploded AS (
  SELECT label, pos, CAST(val AS DOUBLE) AS val
  FROM (SELECT label, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
centroids AS (
  SELECT label, list(avg_val ORDER BY pos) AS cvec
  FROM (SELECT label, pos, avg(val) AS avg_val FROM exploded GROUP BY label, pos)
  GROUP BY label
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QID}),
best AS (
  SELECT label FROM centroids, q
  ORDER BY round(list_cosine_similarity(cvec, q.qv), 6) DESC, label
  LIMIT 1
)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine_sim
FROM embeddings e, q
WHERE e.label = (SELECT label FROM best)
ORDER BY cosine_sim DESC, vec_id
LIMIT 5
"""


@register("sim_ann_ivf_topk", oracle=IVF_ORACLE)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: nearest label-centroid cell, exact top-5 inside it
    (operators/similarity.py:ann_ivf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QID)
    return S.ann_ivf_topk(emb, query, k=5)


IVF_MULTIPROBE_ORACLE = f"""
WITH exploded AS (
  SELECT label, pos, CAST(val AS DOUBLE) AS val
  FROM (SELECT label, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
centroids AS (
  SELECT label, list(avg_val ORDER BY pos) AS cvec
  FROM (SELECT label, pos, avg(val) AS avg_val FROM exploded GROUP BY label, pos)
  GROUP BY label
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QID}),
best AS (
  SELECT label FROM centroids, q
  ORDER BY round(list_cosine_similarity(cvec, q.qv), 6) DESC, label
  LIMIT 2
)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine_sim
FROM embeddings e, q
WHERE e.label IN (SELECT label FROM best)
ORDER BY cosine_sim DESC, vec_id
LIMIT 5
"""


@register("sim_ann_ivf_multiprobe", oracle=IVF_MULTIPROBE_ORACLE)
def sim_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 (operators/similarity.py:ann_ivf_topk): the
    standard recall knob — a query near a cell boundary recovers neighbors
    from the second-best cell for one extra cell read, never a corpus
    scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QID)
    return S.ann_ivf_topk(emb, query, k=5, nprobe=2)


CENTROID_OUTLIER_ORACLE = """
WITH exploded AS (
  SELECT label, pos, CAST(val AS DOUBLE) AS val
  FROM (SELECT label, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
centroids AS (
  SELECT label, list(avg_val ORDER BY pos) AS cvec
  FROM (SELECT label, pos, avg(val) AS avg_val FROM exploded GROUP BY label, pos)
  GROUP BY label
)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6)
         AS centroid_sim
FROM embeddings e JOIN centroids c ON e.label = c.label
ORDER BY centroid_sim ASC, vec_id
LIMIT 20
"""


@register("sim_centroid_outliers", oracle=CENTROID_OUTLIER_ORACLE)
def sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-outlier pruning gate
    (operators/similarity.py:centroid_distance_outliers): the 20 vectors
    farthest from their own cluster centroid — the cluster-then-prune
    curation pass over an embedding column. Centroids broadcast back onto
    one corpus scan; final top-k is TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.centroid_distance_outliers(emb, k=20)


# --------------------------------------------------------------------------
# k-means (2 Lloyd rounds, k=4, deterministic seeds = 4 smallest vec_ids).
# The oracle unrolls both rounds as CTEs over the exploded (vec, dim, x)
# form — iterative ML, still fully SQL-checkable because the iteration
# count is fixed and every cross-engine-fragile value (distance, centroid
# coordinate) is rounded before comparison.
# --------------------------------------------------------------------------
KMEANS_ORACLE = """
WITH dims AS (
  SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
), seeds AS (
  SELECT vec_id AS seed_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)
), cent0 AS (
  SELECT s.cluster, d.d, d.x AS c FROM seeds s JOIN dims d ON d.vec_id = s.seed_id
), d1 AS (
  SELECT dims.vec_id, cent0.cluster,
         round(sum((dims.x - cent0.c) * (dims.x - cent0.c)), 6) AS dist
  FROM dims JOIN cent0 ON dims.d = cent0.d
  GROUP BY dims.vec_id, cent0.cluster
), a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d1) WHERE rn = 1
), cent1 AS (
  SELECT a1.cluster, dims.d, round(avg(dims.x), 6) AS c
  FROM a1 JOIN dims USING (vec_id)
  GROUP BY a1.cluster, dims.d
), d2 AS (
  SELECT dims.vec_id, cent1.cluster,
         round(sum((dims.x - cent1.c) * (dims.x - cent1.c)), 6) AS dist
  FROM dims JOIN cent1 ON dims.d = cent1.d
  GROUP BY dims.vec_id, cent1.cluster
)
SELECT vec_id, cluster, dist FROM (
  SELECT vec_id, cluster, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
  FROM d2) WHERE rn = 1
ORDER BY vec_id
"""


@register("sim_kmeans_clusters", oracle=KMEANS_ORACLE)
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard cluster assignments after 2 deterministic Lloyd rounds (k=4)."""
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, "embedding", "vec_id", k=4, iters=2).orderBy("vec_id")


# --------------------------------------------------------------------------
# Embedding preparation operators (normalize / quantize / profile) — the
# steps between raw encoder output and an ANN index in a training-data
# pipeline. All pure JVM array expressions inside the scan stage (zero
# shuffles for the per-vector ops; one keyed shuffle for the per-dimension
# profile).
# --------------------------------------------------------------------------
UNIT_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
SELECT vec_id,
       array_to_string(list_transform(v, x ->
           CASE WHEN nrm <> 0 THEN CAST(floor(x / nrm * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END), ',') AS unit_micro
FROM n
ORDER BY vec_id
"""


@register("emb_unit_normalize", oracle=UNIT_ORACLE)
def emb_unit_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-unit normalization (cosine-ready vectors; functions/vectors.py:
    unit_normalize is the array-returning library form). The query encodes
    components as micro-units — floor(x/||v||*1e6 + 0.5) — integers, which
    are BIT-exact across engines (float-to-string formatting is not), then
    joins them into one comparable string."""
    from ..functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    n = l2_norm(v)
    micro = F.transform(
        v,
        lambda x: F.when(n != 0, F.floor(x / n * 1_000_000 + F.lit(0.5)))
        .otherwise(0)
        .cast("long"),
    )
    return emb.select(
        "vec_id",
        F.concat_ws(",", F.transform(micro, lambda m: m.cast("string"))).alias(
            "unit_micro"
        ),
    ).orderBy("vec_id")


QUANT_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e)
SELECT vec_id,
       round(scale, 6) AS scale,
       array_to_string(list_transform(v, x -> CAST(greatest(-127, least(127,
           CASE WHEN scale <> 0 THEN floor(x / scale + 0.5) ELSE 0 END))
         AS INTEGER)), ',') AS q_codes
FROM s
ORDER BY vec_id
"""


@register("emb_quantize_int8", oracle=QUANT_ORACLE)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (4x memory cut for ANN serving);
    floor(x+0.5) keeps the codes bit-identical across engines. Codes are
    emitted as one joined string for the comparator (functions/vectors.py:
    quantize_int8 is the array-returning library form)."""
    from ..functions.vectors import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    scale, q = quantize_int8(F.col("embedding").cast("array<double>"))
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.concat_ws(",", F.transform(q, lambda c: c.cast("string"))).alias("q_codes"),
    ).orderBy("vec_id")


DIMSTATS_ORACLE = """
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)
SELECT CAST(i - 1 AS INTEGER) AS d,
       round(avg(v[i]), 6) AS mean,
       round(var_samp(v[i]), 6) AS variance
FROM e, unnest(generate_series(1, len(v))) AS u(i)
GROUP BY i
ORDER BY d
"""


@register("emb_dimension_stats", oracle=DIMSTATS_ORACLE)
def emb_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus mean/variance (whitening / feature-scaling
    profile): posexplode → one keyed map-side-combined aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.round(F.avg("x"), 6).alias("mean"),
            F.round(F.var_samp("x"), 6).alias("variance"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# Product quantization (operators/clustering.py:pq_*): 4 subspaces × 16
# dims, 8 codes each, one deterministic Lloyd round, then ADC top-10 for
# the query vector. The oracle unrolls train → encode → distance-table →
# scan; every cross-engine-fragile double (distance, centroid, table cell)
# is rounded before use, argmin ties break toward the smaller code.
# --------------------------------------------------------------------------
PQ_ADC_ORACLE = f"""
WITH dims AS (
  SELECT vec_id, (i - 1) // 16 AS sub, (i - 1) % 16 AS sd,
         CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
), tdims AS (
  SELECT * FROM dims WHERE vec_id % 4 = 0
), seeds AS (
  SELECT vec_id AS seed_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0
        ORDER BY vec_id LIMIT 8)
), cent0 AS (
  SELECT d.sub, s.code, d.sd, d.x AS c
  FROM seeds s JOIN tdims d ON d.vec_id = s.seed_id
), d1 AS (
  SELECT tdims.vec_id, tdims.sub, cent0.code,
         round(sum((tdims.x - cent0.c) * (tdims.x - cent0.c)), 6) AS dist
  FROM tdims JOIN cent0 ON tdims.sub = cent0.sub AND tdims.sd = cent0.sd
  GROUP BY tdims.vec_id, tdims.sub, cent0.code
), a1 AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM d1) WHERE rn = 1
), cb AS (
  SELECT a1.sub, a1.code, tdims.sd, round(avg(tdims.x), 6) AS c
  FROM a1 JOIN tdims ON a1.vec_id = tdims.vec_id AND a1.sub = tdims.sub
  GROUP BY a1.sub, a1.code, tdims.sd
), d2 AS (
  SELECT dims.vec_id, dims.sub, cb.code,
         round(sum((dims.x - cb.c) * (dims.x - cb.c)), 6) AS dist
  FROM dims JOIN cb ON dims.sub = cb.sub AND dims.sd = cb.sd
  GROUP BY dims.vec_id, dims.sub, cb.code
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM d2) WHERE rn = 1
), qd AS (
  SELECT sub, sd, x FROM dims WHERE vec_id = {_QID}
), dt AS (
  SELECT cb.sub, cb.code, round(sum((qd.x - cb.c) * (qd.x - cb.c)), 6) AS dsub
  FROM cb JOIN qd ON cb.sub = qd.sub AND cb.sd = qd.sd
  GROUP BY cb.sub, cb.code
)
SELECT enc.vec_id, round(sum(dt.dsub), 6) AS approx_l2sq
FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
GROUP BY enc.vec_id
ORDER BY approx_l2sq, vec_id
LIMIT 10
"""


@register("sim_pq_adc_topk", oracle=PQ_ADC_ORACLE)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: train 4×8 codebooks (one Lloyd round, on
    the deterministic 1/4 sample — PQ trains on a sample, encodes the full
    corpus), ADC top-10 for the query via the m×codes distance table
    (operators/clustering.py:pq_adc_topk)."""
    from ..operators.clustering import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QID)
    return pq_adc_topk(emb, query, k=10, train_mod=4)


# --------------------------------------------------------------------------
# Embedding covariance matrix (upper triangle of the leading 8×8 block):
# the distributed linear-algebra primitive behind PCA / whitening of an
# embedding table. Each row contributes its 36 dimension-pair products via
# a pure array expression (no self-join, no UDF); one groupBy(i, j) then
# assembles n, Σxi, Σxj, Σxixj and the textbook unbiased covariance
# (Σxixj − ΣxiΣxj/n)/(n−1). At 100 TB the map side emits d(d+1)/2 tiny
# partial aggregates per partition — pair count is a constant, never a
# function of rows. float32 inputs are cast to double BEFORE any product
# in both engines so the arithmetic is identical.
# --------------------------------------------------------------------------
_COV_D = 8

COV_ORACLE = f"""
WITH pairs AS (
  SELECT i.i AS i, j.j AS j,
         CAST(embedding[CAST(i.i + 1 AS INTEGER)] AS DOUBLE) AS xi,
         CAST(embedding[CAST(j.j + 1 AS INTEGER)] AS DOUBLE) AS xj
  FROM embeddings, range(0, {_COV_D}) i(i), range(0, {_COV_D}) j(j)
  WHERE j.j >= i.i
)
SELECT i, j, count(*) AS n,
       round((sum(xi * xj) - sum(xi) * sum(xj) / count(*)) / (count(*) - 1), 6)
         AS cov
FROM pairs GROUP BY i, j ORDER BY i, j
"""


@register("emb_covariance_matrix", oracle=COV_ORACLE)
def emb_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import covariance_sums

    emb = load_table(spark, sf_dir, "embeddings")
    sums = covariance_sums(emb, "embedding", _COV_D, method="expr")
    cov = (F.col("sxij") - F.col("sxi") * F.col("sxj") / F.col("n")) / (
        F.col("n") - 1
    )
    return sums.select(
        "i", "j", "n", F.round(cov, 6).alias("cov")
    ).orderBy("i", "j")


# --------------------------------------------------------------------------
# kNN graph within IVF cells: every vector's top-3 cosine neighbours drawn
# from its own cell — the backbone structure for kNN-graph clustering /
# graph-based dedup over embeddings. Scale shape: the self-join key is the
# cell id, so the pair space is Σ|cell|² (never corpus²), exactly the
# blocked-GEMM bound sim_blocked_nearest_neighbor documents; ranking is a
# per-vector window (partitioned by vec_id, never global). Ties rank on
# the ROUNDED cosine + neighbour id so both engines order identically.
# --------------------------------------------------------------------------
_KNN_K = 3

KNN_GRAPH_ORACLE = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nb, a.label AS label,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, nb, label, cosine_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine_sim DESC, nb) AS rnk
  FROM pairs
)
SELECT vec_id, nb, label, cosine_sim, rnk
FROM ranked WHERE rnk <= 3
ORDER BY vec_id, rnk
"""


@register("sim_knn_graph_cells", oracle=KNN_GRAPH_ORACLE)
def sim_knn_graph_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-cell GEMM top-k (operators/similarity.blocked_knn, round 4):
    # identical rounded cosines + (sim DESC, nb) tie order to the previous
    # join+window formulation, ~7 s → ~1 s at sf0.1
    from ..operators.similarity import blocked_knn

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        blocked_knn(emb, k=_KNN_K)
        .select("vec_id", "nb", "label", "cosine_sim", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("vec_id", "rnk")
    )


def _sim_knn_graph_cells_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-path twin kept for the engine test (blocked_knn must
    return exactly this)."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        "label",
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        "label",
        F.col("vec_id").alias("nb"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("nb"))
        .select(
            "vec_id",
            "nb",
            "label",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine_sim"), "nb")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .orderBy("vec_id", "rnk")
    )


# --------------------------------------------------------------------------
# PCA top eigenvector by power iteration over the embedding covariance
# matrix — iterative numerical linear algebra expressed as DataFrame ops.
# Scale shape: the ONLY corpus-sized pass is the covariance aggregation
# (upper-triangle d(d+1)/2 moments via operators/similarity.covariance_sums,
# shared with emb_covariance_matrix; method="numpy" swaps in per-batch GEMM
# partials for production dims); every
# iteration afterwards runs on the d×d matrix and the d-vector (tiny,
# broadcast), so iteration cost is independent of corpus size. State is
# localCheckpoint'd per round (house style for iterative ops — PageRank /
# k-core) to truncate lineage. Cross-engine float discipline: the matrix
# and the vector are re-rounded to 6 dp each round on BOTH sides, so
# summation-order noise (~1e-12) never reaches the value hash.
# Beyond-reference [NS] (SURVEY.md §2.B embeddings).
# --------------------------------------------------------------------------
_PI_ITERS = 8

_PI_A_CTES = f"""
pi_pairs AS (
  SELECT i.i AS i, j.j AS j,
         CAST(embedding[CAST(i.i + 1 AS INTEGER)] AS DOUBLE) AS xi,
         CAST(embedding[CAST(j.j + 1 AS INTEGER)] AS DOUBLE) AS xj
  FROM embeddings, range(0, {_COV_D}) i(i), range(0, {_COV_D}) j(j)
  WHERE j.j >= i.i
),
pi_tri AS (
  SELECT i, j,
         round((sum(xi * xj) - sum(xi) * sum(xj) / count(*)) / (count(*) - 1), 6)
           AS a
  FROM pi_pairs GROUP BY i, j
),
-- the matrix is symmetric: aggregate the upper triangle once, mirror it
-- (matches the Spark side's covariance_sums + union-swap — one arithmetic
-- path per unordered pair, so (i,j) and (j,i) can never round apart)
pi_a AS MATERIALIZED (
  SELECT i, j, a FROM pi_tri
  UNION ALL
  SELECT j AS i, i AS j, a FROM pi_tri WHERE i < j
),
v0 AS (SELECT i.i AS idx, CAST(1.0 AS DOUBLE) AS v FROM range(0, {_COV_D}) i(i))"""

# MATERIALIZED is load-bearing: each v{t} reads w{t} twice (scalar-subquery
# norm + FROM) and w{t} reads v{t-1} — without it DuckDB inlines the CTEs
# and the chain re-evaluates 2^t times (same lesson as the k-core oracle).
_PI_ITER_CTES = "".join(
    f""",
w{t} AS MATERIALIZED (SELECT pi_a.i AS idx, sum(pi_a.a * v{t - 1}.v) AS w
         FROM pi_a JOIN v{t - 1} ON v{t - 1}.idx = pi_a.j GROUP BY 1),
v{t} AS MATERIALIZED (SELECT idx, round(w / sqrt((SELECT sum(w * w) FROM w{t})), 6) AS v
         FROM w{t})"""
    for t in range(1, _PI_ITERS + 1)
)

PCA_POWER_ORACLE = f"""
WITH {_PI_A_CTES}{_PI_ITER_CTES},
pi_av AS (SELECT pi_a.i AS idx, sum(pi_a.a * v{_PI_ITERS}.v) AS av
          FROM pi_a JOIN v{_PI_ITERS} ON v{_PI_ITERS}.idx = pi_a.j GROUP BY 1),
pi_lam AS (SELECT round(sum(pi_av.av * v{_PI_ITERS}.v), 6) AS eigenvalue
           FROM pi_av JOIN v{_PI_ITERS} ON v{_PI_ITERS}.idx = pi_av.idx)
SELECT v{_PI_ITERS}.idx AS i, v{_PI_ITERS}.v AS component, pi_lam.eigenvalue
FROM v{_PI_ITERS} CROSS JOIN pi_lam ORDER BY i
"""


@register("emb_pca_power_iteration", oracle=PCA_POWER_ORACLE)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import covariance_sums

    emb = load_table(spark, sf_dir, "embeddings")
    # Upper-triangle moments only (d(d+1)/2, VERDICT r3 #5 — never a d² per-
    # row explode), mirrored into the full matrix afterwards; the rounded
    # value is shared by (i,j)/(j,i) so the mirror can't round apart.
    # covariance_sums(method="numpy") is the documented 100 TB swap for
    # production dims (one GEMM per Arrow batch instead of per-row structs).
    sums = covariance_sums(emb, "embedding", _COV_D, method="expr")
    cov = (F.col("sxij") - F.col("sxi") * F.col("sxj") / F.col("n")) / (
        F.col("n") - 1
    )
    tri = sums.select("i", "j", F.round(cov, 6).alias("a"))
    # r10 opt (guide §5 "the driver should do almost no data work" — and
    # its converse): the ONLY corpus-sized pass is the covariance
    # aggregation above. The iterate itself touches a d×d matrix (d=8 →
    # 36 upper-triangle rows, bounded by _COV_D²) and a d-vector —
    # metadata scale — yet as DataFrame ops each of the 8 rounds cost a
    # broadcast job + an eager localCheckpoint job (~24 scheduler
    # round-trips dominating the 4 s wall; the matrix work itself is
    # microseconds). Collect the rounded triangle (d(d+1)/2 rows, the
    # group-bounded-collect class) and run the rounds driver-side with
    # the SAME arithmetic: round(x, 6) below reproduces Spark's
    # Round(HALF_UP on BigDecimal.valueOf ≡ Decimal(repr(x))) exactly,
    # so each round's v is rounded to the identical 6-dp grid and the
    # result stays on the oracle's hash.
    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    d = _COV_D
    A = [[0.0] * d for _ in range(d)]
    for r in tri.collect():  # ≤ d(d+1)/2 rows — bounded, never corpus-sized
        A[r["i"]][r["j"]] = r["a"]
        A[r["j"]][r["i"]] = r["a"]
    v = [1.0] * d
    for _ in range(_PI_ITERS):
        w = [sum(A[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = sum(x * x for x in w) ** 0.5
        v = [_r6(x / nrm) for x in w]
    av = [sum(A[i][j] * v[j] for j in range(d)) for i in range(d)]
    lam = _r6(sum(av[i] * v[i] for i in range(d)))
    return spark.createDataFrame(
        [(i, v[i], lam) for i in range(d)],
        "i bigint, component double, eigenvalue double",
    ).orderBy("i")


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (RRF, k=60) of two independent
# retrievers — dense (cosine vs a fixed query vector) and sparse (keyword
# hit count over document tokens). Scale shape: each retriever is one
# corpus scan ending in a distributed top-k (TakeOrderedAndProject); the
# fusion full-outer join and re-rank run on 2×20 candidate rows, so the
# unpartitioned candidate windows are bounded by k, never by the corpus
# (the ≤k-frame exemption the r2 verdict documents). Beyond-reference [NS]
# (SURVEY.md §2.B similarity search).
# --------------------------------------------------------------------------
_RRF_K = 60
_RRF_TOPK = 20
_RRF_TERMS = ("data", "query", "stream")
_RRF_TERMS_SQL = ", ".join(f"'{t}'" for t in _RRF_TERMS)

RRF_ORACLE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QID}),
ca AS (SELECT vec_id,
              round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS s
       FROM embeddings, q),
ra AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id) AS r
       FROM ca ORDER BY s DESC, vec_id LIMIT {_RRF_TOPK}),
cb AS (SELECT doc_id,
              CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   t -> t IN ({_RRF_TERMS_SQL}))) AS BIGINT) AS s
       FROM documents),
rb AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
       FROM cb ORDER BY s DESC, doc_id LIMIT {_RRF_TOPK}),
f AS (SELECT coalesce(ra.vec_id, rb.doc_id) AS id,
             round(coalesce(1.0 / ({_RRF_K} + ra.r), 0)
                   + coalesce(1.0 / ({_RRF_K} + rb.r), 0), 6) AS rrf_score
      FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.vec_id)
SELECT id, rrf_score FROM f ORDER BY rrf_score DESC, id LIMIT 10
"""


def _rank_candidates(cand: DataFrame, id_col: str) -> DataFrame:
    """row_number() over (ORDER BY s DESC, id) for a ≤top-k candidate frame,
    as a triangular self-join (rank = 1 + #rows strictly ahead) — identical
    result to the window but with no unpartitioned WindowExec, so the
    driver-visible single-partition WARN never fires. Pair cost is k²."""
    a = cand.select(F.col(id_col).alias("_id"), F.col("s").alias("_s"))
    b = cand.select(F.col(id_col).alias("_id2"), F.col("s").alias("_s2"))
    ahead = (F.col("_s2") > F.col("_s")) | (
        (F.col("_s2") == F.col("_s")) & (F.col("_id2") < F.col("_id"))
    )
    return (
        a.join(F.broadcast(b), ahead, "left")
        .groupBy("_id")
        .agg((F.count("_id2") + F.lit(1)).cast("int").alias("r"))
        .select(F.col("_id").alias(id_col), "r")
    )


@register("sim_rrf_hybrid_fusion", oracle=RRF_ORACLE)
def sim_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == _QID).select(
            F.col("embedding").cast("array<double>").alias("_qvec")
        )
    )
    dense = (
        emb.crossJoin(q)
        .select(
            "vec_id",
            F.round(
                cosine_similarity(
                    F.col("embedding").cast("array<double>"), F.col("_qvec")
                ),
                6,
            ).alias("s"),
        )
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(_RRF_TOPK)
    )
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    sparse = (
        docs.select(
            "doc_id",
            F.expr(
                f"cast(size(filter(split(lower(trim(text)), '\\\\s+'),"
                f" t -> t IN ({terms}))) AS BIGINT)"
            ).alias("s"),
        )
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )
    ra = _rank_candidates(materialize(dense), "vec_id")
    rb = _rank_candidates(materialize(sparse), "doc_id")
    fused = (
        ra.join(rb, ra["vec_id"] == rb["doc_id"], "full_outer")
        .select(
            F.coalesce(ra["vec_id"], rb["doc_id"]).alias("id"),
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + ra["r"]), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + rb["r"]), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "id")
        .limit(10)
    )
    return fused


# --------------------------------------------------------------------------
# Matryoshka truncation distortion (round 4): how much does cosine
# similarity move when vectors are truncated to a prefix of k dims — the
# sizing audit behind MRL-style "store 64, search 8/16/32" retrieval
# stacks. Pair space is deterministic and LINEAR (vec_id v paired with
# v+1), one row per (k, pair) via a 3-element explode, one rollup per k.
# Per-pair cosines round to 6 dp in BOTH engines before the distortion
# subtraction so the value hash never sees summation noise.
# Beyond-reference [NS] (SURVEY.md §2.B similarity search).
# --------------------------------------------------------------------------
_MRL_KS = (8, 16, 32)

MATRYOSHKA_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         a.embedding::DOUBLE[] AS ea, b.embedding::DOUBLE[] AS eb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
), per_k AS (
  SELECT k.k AS k_dims,
         round(list_cosine_similarity(ea, eb), 6) AS cos_full,
         round(list_cosine_similarity(ea[1:k.k], eb[1:k.k]), 6) AS cos_trunc
  FROM pairs, (VALUES {", ".join(f"({k})" for k in _MRL_KS)}) k(k)
)
SELECT CAST(k_dims AS BIGINT) AS k_dims,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(cos_full - cos_trunc)), 6) AS avg_distortion,
       round(max(abs(cos_full - cos_trunc)), 6) AS max_distortion
FROM per_k GROUP BY k_dims ORDER BY k_dims
"""


@register("emb_matryoshka_distortion", oracle=MATRYOSHKA_ORACLE)
def emb_matryoshka_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").cast("array<double>").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").cast("array<double>").alias("eb"),
    )
    pairs = a.join(b, F.col("vb") == F.col("va") + 1)
    per_k = pairs.select(
        F.explode(F.array(*[F.lit(k) for k in _MRL_KS])).alias("k_dims"),
        F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6).alias("cos_full"),
        "ea",
        "eb",
    ).select(
        F.col("k_dims").cast("bigint").alias("k_dims"),
        "cos_full",
        F.round(
            cosine_similarity(
                F.slice("ea", 1, F.col("k_dims").cast("int")),
                F.slice("eb", 1, F.col("k_dims").cast("int")),
            ),
            6,
        ).alias("cos_trunc"),
    )
    dist = F.abs(F.col("cos_full") - F.col("cos_trunc"))
    return (
        per_k.groupBy("k_dims")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(dist), 6).alias("avg_distortion"),
            F.round(F.max(dist), 6).alias("max_distortion"),
        )
        .orderBy("k_dims")
    )


# --------------------------------------------------------------------------
# ANN recall audit (round 4): measured recall@10 of the IVF index
# (nprobe=1, label-centroid cells — the sim_ann_ivf_topk configuration)
# against the exact brute-force top-10, over a fixed 10-query panel. This
# is the accept/reject gate every production ANN deployment runs before
# trading exactness for speed; pair space is 10 × corpus (panel-bounded),
# and both rankings break ties on (rounded cosine DESC, vec_id) so the
# rank-10 boundary is engine-independent. Beyond-reference [NS]
# (SURVEY.md §2.B similarity search).
# --------------------------------------------------------------------------
_RECALL_NQ = 10
_RECALL_K = 10

RECALL_ORACLE = f"""
WITH exploded AS (
  SELECT label, pos, CAST(val AS DOUBLE) AS val
  FROM (SELECT label, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
centroids AS (
  SELECT label, list(avg_val ORDER BY pos) AS cvec
  FROM (SELECT label, pos, avg(val) AS avg_val FROM exploded GROUP BY label, pos)
  GROUP BY label
),
qs AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_RECALL_NQ}
),
best AS (
  SELECT qid, label FROM (
    SELECT qs.qid, c.label,
           row_number() OVER (PARTITION BY qs.qid
             ORDER BY round(list_cosine_similarity(c.cvec, qs.qv), 6) DESC,
                      c.label) AS rn
    FROM centroids c, qs
  ) WHERE rn = 1
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qs.qid, e.vec_id,
           row_number() OVER (PARTITION BY qs.qid
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], qs.qv), 6) DESC,
                      e.vec_id) AS rn
    FROM embeddings e, qs WHERE e.vec_id <> qs.qid
  ) WHERE rn <= {_RECALL_K}
),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qs.qid, e.vec_id,
           row_number() OVER (PARTITION BY qs.qid
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], qs.qv), 6) DESC,
                      e.vec_id) AS rn
    FROM embeddings e
    JOIN best ON e.label = best.label
    JOIN qs ON qs.qid = best.qid
    WHERE e.vec_id <> qs.qid
  ) WHERE rn <= {_RECALL_K}
)
SELECT exact.qid,
       CAST(count(approx.vec_id) AS BIGINT) AS n_hits,
       round(count(approx.vec_id) / {_RECALL_K}.0, 6) AS recall_at_10
FROM exact LEFT JOIN approx
  ON approx.qid = exact.qid AND approx.vec_id = exact.vec_id
GROUP BY exact.qid ORDER BY exact.qid
"""


@register("sim_ann_recall_audit", oracle=RECALL_ORACLE)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.label_centroids(emb).withColumnRenamed("blk", "label")
    qs = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    wq = W.partitionBy("qid")
    # nprobe=1 cell per query
    best = (
        cents.crossJoin(F.broadcast(qs))
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(
                    F.round(cosine_similarity("centroid", "qv"), 6).desc(), "label"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("qid", "label")
    )
    corpus = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    sim_rank = F.row_number().over(
        wq.orderBy(F.round(cosine_similarity("v", "qv"), 6).desc(), "vec_id")
    )
    exact = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("rn", sim_rank)
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    approx = (
        corpus.join(F.broadcast(best), "label")
        .join(F.broadcast(qs), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("rn", sim_rank)
        .filter(F.col("rn") <= _RECALL_K)
        .select(F.col("qid").alias("a_qid"), F.col("vec_id").alias("a_vec"))
    )
    return (
        exact.join(
            approx,
            (F.col("a_qid") == F.col("qid")) & (F.col("a_vec") == F.col("vec_id")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("a_vec").alias("n_hits"),
            F.round(F.count("a_vec") / float(_RECALL_K), 6).alias("recall_at_10"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# Cell-blocked DBSCAN density clustering (round 4): core points have ≥ 3
# same-cell neighbours at rounded-cosine ≥ 0.15, clusters = connected
# components of the core graph (Spark: the pointer-jumping CC operator;
# oracle: a min-label recursive CTE restricted to labels below the node,
# which converges to the component minimum), borders join their smallest
# adjacent core cluster, everything else is noise (−1). Pair space is
# Σ|cell|² via label blocking; CC touches only the sparse core graph.
# Beyond-reference [NS] (SURVEY.md §2.B clustering family).
# --------------------------------------------------------------------------
_DB_EPS = 0.15
_DB_MINPTS = 3

DBSCAN_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), p AS (
  SELECT a.vec_id AS ka, b.vec_id AS kb
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_DB_EPS}
), nb AS (
  SELECT ka AS k, kb AS nbr FROM p UNION ALL SELECT kb, ka FROM p
), deg AS (
  SELECT k, count(*) AS n_neigh FROM nb GROUP BY k
), cores AS (
  SELECT k FROM deg WHERE n_neigh >= {_DB_MINPTS}
), ce2 AS (
  SELECT ka AS a, kb AS b FROM p
  WHERE ka IN (SELECT k FROM cores) AND kb IN (SELECT k FROM cores)
  UNION
  SELECT kb, ka FROM p
  WHERE ka IN (SELECT k FROM cores) AND kb IN (SELECT k FROM cores)
), walk(node, lbl) AS (
  SELECT k, k FROM cores
  UNION
  SELECT ce2.b, min(w.lbl) FROM walk w JOIN ce2 ON ce2.a = w.node
  WHERE w.lbl < ce2.b GROUP BY ce2.b
), assign AS MATERIALIZED (
  SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node
), border AS (
  SELECT nb.k, min(a2.cluster_id) AS cluster_id
  FROM nb
  JOIN cores c ON c.k = nb.nbr
  JOIN assign a2 ON a2.node = nb.nbr
  WHERE nb.k NOT IN (SELECT k FROM cores)
  GROUP BY nb.k
)
SELECT e.vec_id, e.label,
       CASE WHEN a.node IS NOT NULL THEN 'core'
            WHEN b.k IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(a.cluster_id, b.cluster_id, -1) AS cluster_id
FROM e
LEFT JOIN assign a ON a.node = e.vec_id
LEFT JOIN border b ON b.k = e.vec_id
ORDER BY e.vec_id
"""


@register("sim_dbscan_cells", oracle=DBSCAN_ORACLE)
def sim_dbscan_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import density_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    return density_clusters(
        emb, eps_cosine=_DB_EPS, min_pts=_DB_MINPTS
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Bounded-degree DBSCAN (round 7, VERDICT r6 #2): same ε / minPts as
# sim_dbscan_cells, but every point keeps only its K_MAX nearest
# ε-neighbours (tiled blocked_knn order: rounded cosine DESC, id ASC), so
# the cluster graph is ≤ n·K_MAX edges BY CONSTRUCTION — the production
# path when the ε-geometry is dense (the 100× rung's 2.3e8-edge ε-graph
# becomes an O(n) one; clusters can only split vs full DBSCAN, never
# merge, since every capped edge is a real ε-edge). Core status is
# IDENTICAL to full DBSCAN for K_MAX ≥ minPts. Beyond-reference [NS]
# (SURVEY.md §2.B clustering family).
# --------------------------------------------------------------------------
_DB_KMAX = 16

# The ε filter is applied BEFORE the per-point top-k window: every non-ε
# neighbour has strictly smaller rounded cosine than every ε neighbour, so
# it sorts after ALL of them and its removal cannot change an ε row's rank
# — identical `adj` either way, but the window (the oracle's only
# materialization) now holds the ε-graph instead of the full within-label
# pair space, which is what makes the sf10x rung's DuckDB side feasible
# (BENCH §13e: ~2×10⁹ streamed cosines, ~10⁸ materialized edges).
# ``adj AS MATERIALIZED`` is load-bearing at that scale: it is referenced
# twice (degree + symmetrize), and DuckDB inlines each CTE reference —
# without the hint the whole cosine join + top-k window runs TWICE and
# the two concurrent spills exhausted the VM's disk on the first sf10x
# attempt (the §13e graph_lp_training_set plan-bug class, same fix).
_DB_CAPPED_CTES = f"""e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT a.vec_id AS k, b.vec_id AS nb,
         round(list_cosine_similarity(a.v, b.v), 6) AS c
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_DB_EPS}
), adj AS MATERIALIZED (
  SELECT k, nb FROM (
    SELECT k, nb, c,
           row_number() OVER (PARTITION BY k ORDER BY c DESC, nb) AS rn
    FROM scored
  ) WHERE rn <= {_DB_KMAX}
)"""

DBSCAN_CAPPED_ORACLE = f"""
WITH RECURSIVE {_DB_CAPPED_CTES}, deg AS (
  SELECT k, count(*) AS n_neigh FROM adj GROUP BY k
), cores AS MATERIALIZED (
  SELECT k FROM deg WHERE n_neigh >= {_DB_MINPTS}
), sym AS MATERIALIZED (
  SELECT k, nb FROM adj UNION SELECT nb, k FROM adj
), ce2 AS (
  SELECT k AS a, nb AS b FROM sym
  WHERE k IN (SELECT k FROM cores) AND nb IN (SELECT k FROM cores)
), walk(node, lbl) AS (
  SELECT k, k FROM cores
  UNION
  SELECT ce2.b, min(w.lbl) FROM walk w JOIN ce2 ON ce2.a = w.node
  WHERE w.lbl < ce2.b GROUP BY ce2.b
), assign AS MATERIALIZED (
  SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node
), border AS (
  SELECT sym.k, min(a2.cluster_id) AS cluster_id
  FROM sym
  JOIN cores c ON c.k = sym.nb
  JOIN assign a2 ON a2.node = sym.nb
  WHERE sym.k NOT IN (SELECT k FROM cores)
  GROUP BY sym.k
)
SELECT e.vec_id, e.label,
       CASE WHEN a.node IS NOT NULL THEN 'core'
            WHEN b.k IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(a.cluster_id, b.cluster_id, -1) AS cluster_id
FROM e
LEFT JOIN assign a ON a.node = e.vec_id
LEFT JOIN border b ON b.k = e.vec_id
ORDER BY e.vec_id
"""


@register("sim_dbscan_capped", oracle=DBSCAN_CAPPED_ORACLE)
def sim_dbscan_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import density_clusters_capped

    emb = load_table(spark, sf_dir, "embeddings")
    return density_clusters_capped(
        emb, eps_cosine=_DB_EPS, min_pts=_DB_MINPTS, k_max=_DB_KMAX
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Count-grain twin of the capped DBSCAN (round 8, VERDICT r7 #2): the full
# assignment collapsed to two bounded grains UNIONed under one schema —
# per ROLE (core/border/noise: point count, distinct clusters, a modular
# (vec_id, cluster_id) membership checksum binding every point's exact
# assignment) and per CLUSTER SIZE (the cluster-size histogram: total
# points, cluster count, a cluster-id checksum binding which clusters have
# that size). Output is O(distinct sizes) rows at any scale while every
# point's assignment still contributes to a checksum, so the 100× tier
# (BENCH §13e) can value-check the capped path end to end — the full
# assignment's 200k-row output at sf10x is exactly what the driver-side
# diff can't hold. cluster_id is the component's MIN member id (both
# engines), so checksums are engine-stable; +2 keeps the noise id (−1)
# inside positive modular range.
# --------------------------------------------------------------------------
DBSCAN_COUNTS_ORACLE = f"""
WITH RECURSIVE {_DB_CAPPED_CTES}, deg AS (
  SELECT k, count(*) AS n_neigh FROM adj GROUP BY k
), cores AS MATERIALIZED (
  SELECT k FROM deg WHERE n_neigh >= {_DB_MINPTS}
), sym AS MATERIALIZED (
  SELECT k, nb FROM adj UNION SELECT nb, k FROM adj
), ce2 AS (
  SELECT k AS a, nb AS b FROM sym
  WHERE k IN (SELECT k FROM cores) AND nb IN (SELECT k FROM cores)
), walk(node, lbl) AS (
  SELECT k, k FROM cores
  UNION
  SELECT ce2.b, min(w.lbl) FROM walk w JOIN ce2 ON ce2.a = w.node
  WHERE w.lbl < ce2.b GROUP BY ce2.b
), assign AS MATERIALIZED (
  SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node
), border AS (
  SELECT sym.k, min(a2.cluster_id) AS cluster_id
  FROM sym
  JOIN cores c ON c.k = sym.nb
  JOIN assign a2 ON a2.node = sym.nb
  WHERE sym.k NOT IN (SELECT k FROM cores)
  GROUP BY sym.k
), full_assign AS MATERIALIZED (
  SELECT e.vec_id,
         CASE WHEN a.node IS NOT NULL THEN 'core'
              WHEN b.k IS NOT NULL THEN 'border'
              ELSE 'noise' END AS role,
         coalesce(a.cluster_id, b.cluster_id, -1) AS cluster_id
  FROM e
  LEFT JOIN assign a ON a.node = e.vec_id
  LEFT JOIN border b ON b.k = e.vec_id
), role_grain AS (
  SELECT 'role:' || role AS grain,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_groups,
         CAST(sum((vec_id * 1000003 + cluster_id + 2) % 1000000007) AS BIGINT)
           AS checksum
  FROM full_assign GROUP BY role
), csize AS (
  SELECT cluster_id, count(*) AS sz
  FROM full_assign WHERE cluster_id <> -1 GROUP BY cluster_id
), size_grain AS (
  SELECT 'size:' || lpad(CAST(sz AS VARCHAR), 9, '0') AS grain,
         CAST(sum(sz) AS BIGINT) AS n_points,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum((cluster_id + 2) % 1000000007) AS BIGINT) AS checksum
  FROM csize GROUP BY sz
)
SELECT * FROM role_grain
UNION ALL
SELECT * FROM size_grain
ORDER BY grain
"""


@register("sim_dbscan_capped_counts", oracle=DBSCAN_COUNTS_ORACLE)
def sim_dbscan_capped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import density_clusters_capped

    emb = load_table(spark, sf_dir, "embeddings")
    assign = materialize(
        density_clusters_capped(
            emb, eps_cosine=_DB_EPS, min_pts=_DB_MINPTS, k_max=_DB_KMAX
        )
    )  # role + size grains
    role_grain = assign.groupBy(
        F.concat(F.lit("role:"), F.col("role")).alias("grain")
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.count_distinct("cluster_id").alias("n_groups"),
        F.sum(
            (F.col("vec_id") * F.lit(1000003) + F.col("cluster_id") + F.lit(2))
            % F.lit(1000000007)
        )
        .cast("long")
        .alias("checksum"),
    )
    csize = (
        assign.filter(F.col("cluster_id") != -1)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    size_grain = csize.groupBy(
        F.concat(
            F.lit("size:"), F.lpad(F.col("sz").cast("string"), 9, "0")
        ).alias("grain")
    ).agg(
        F.sum("sz").cast("long").alias("n_points"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("cluster_id") + F.lit(2)) % F.lit(1000000007))
        .cast("long")
        .alias("checksum"),
    )
    return role_grain.unionByName(size_grain).orderBy("grain")


# --------------------------------------------------------------------------
# Contrastive-pair mining (round 4): for each anchor in a fixed panel, the
# strongest POSITIVE (highest cosine, same label, not self) and the
# HARDEST NEGATIVE (highest cosine, different label) plus the margin
# between them — the batch-mining step that builds triplet/contrastive
# training data for embedding models. Pair space is panel × corpus (the
# panel broadcasts); rankings tie-break on (rounded cosine, vec_id) so
# the winner is engine-independent. Beyond-reference [NS]
# (training-data-pipeline family).
# --------------------------------------------------------------------------
_MINE_NQ = 20

HARDNEG_ORACLE = f"""
WITH qs AS (
  SELECT vec_id AS anchor, label AS a_label, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_MINE_NQ}
), scored AS (
  SELECT qs.anchor, qs.a_label, e.vec_id, e.label,
         round(list_cosine_similarity(e.embedding::DOUBLE[], qs.qv), 6) AS c
  FROM embeddings e, qs WHERE e.vec_id <> qs.anchor
), pos AS (
  SELECT anchor, vec_id AS pos_id, c AS pos_sim FROM (
    SELECT anchor, vec_id, c,
           row_number() OVER (PARTITION BY anchor ORDER BY c DESC, vec_id) AS rn
    FROM scored WHERE label = a_label
  ) WHERE rn = 1
), neg AS (
  SELECT anchor, vec_id AS neg_id, c AS neg_sim FROM (
    SELECT anchor, vec_id, c,
           row_number() OVER (PARTITION BY anchor ORDER BY c DESC, vec_id) AS rn
    FROM scored WHERE label <> a_label
  ) WHERE rn = 1
)
SELECT pos.anchor, pos_id, pos_sim, neg_id, neg_sim,
       round(pos_sim - neg_sim, 6) AS margin
FROM pos JOIN neg ON neg.anchor = pos.anchor
ORDER BY pos.anchor
"""


@register("emb_hard_negative_mining", oracle=HARDNEG_ORACLE)
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _MINE_NQ).select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("a_label"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    scored = materialize(
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("anchor"))
        .select(
            "anchor",
            "a_label",
            "vec_id",
            "label",
            F.round(cosine_similarity("v", "qv"), 6).alias("c"),
        )
    )  # pos + neg branches share the scan
    wq = W.partitionBy("anchor").orderBy(F.col("c").desc(), "vec_id")

    def top1(df, out_id, out_sim):
        return (
            df.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") == 1)
            .select(
                "anchor",
                F.col("vec_id").alias(out_id),
                F.col("c").alias(out_sim),
            )
        )

    pos = top1(scored.filter(F.col("label") == F.col("a_label")), "pos_id", "pos_sim")
    neg = top1(scored.filter(F.col("label") != F.col("a_label")), "neg_id", "neg_sim")
    return (
        pos.join(neg, "anchor")
        .select(
            "anchor",
            "pos_id",
            "pos_sim",
            "neg_id",
            "neg_sim",
            F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
        )
        .orderBy("anchor")
    )


# --------------------------------------------------------------------------
# Per-dimension embedding drift (round 4): split the table into two
# deterministic halves (vec_id parity — stand-in for "last week's batch vs
# this week's") and report, per dimension, the standardized mean shift
# |μ₁−μ₂| / pooled σ plus a drift flag — the feature-drift screen run on
# embedding pipelines after a model or preprocessing change. One
# posexplode → (half, dim) aggregate → d-row join; never a d² structure.
# Beyond-reference [NS] (drift × embedding family).
# --------------------------------------------------------------------------
EMB_DRIFT_ORACLE = """
WITH x AS (
  SELECT vec_id % 2 AS half, pos, CAST(val AS DOUBLE) AS val
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
), s AS (
  SELECT half, pos, count(*) AS n, avg(val) AS m, var_samp(val) AS v
  FROM x GROUP BY half, pos
), wide AS (
  SELECT pos,
         max(CASE WHEN half = 0 THEN n END) AS n0,
         max(CASE WHEN half = 0 THEN m END) AS m0,
         max(CASE WHEN half = 0 THEN v END) AS v0,
         max(CASE WHEN half = 1 THEN n END) AS n1,
         max(CASE WHEN half = 1 THEN m END) AS m1,
         max(CASE WHEN half = 1 THEN v END) AS v1
  FROM s GROUP BY pos
)
SELECT CAST(pos - 1 AS BIGINT) AS dim,
       round(m0, 6) AS mean_a, round(m1, 6) AS mean_b,
       round(abs(m0 - m1)
             / sqrt(((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)), 6)
         AS std_shift,
       abs(m0 - m1)
         / sqrt(((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)) > 0.1
         AS drifted
FROM wide ORDER BY dim
"""


@register("emb_dimension_drift", oracle=EMB_DRIFT_ORACLE)
def emb_dimension_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    s = x.groupBy("half", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("val").alias("m"),
        F.var_samp("val").alias("v"),
    )
    wide = s.groupBy("pos").agg(
        *[
            F.max(F.when(F.col("half") == h, F.col(c))).alias(f"{c}{h}")
            for h in (0, 1)
            for c in ("n", "m", "v")
        ]
    )
    pooled = F.sqrt(
        ((F.col("n0") - 1) * F.col("v0") + (F.col("n1") - 1) * F.col("v1"))
        / (F.col("n0") + F.col("n1") - 2)
    )
    shift = F.abs(F.col("m0") - F.col("m1")) / pooled
    return wide.select(
        F.col("pos").cast("long").alias("dim"),
        F.round("m0", 6).alias("mean_a"),
        F.round("m1", 6).alias("mean_b"),
        F.round(shift, 6).alias("std_shift"),
        (shift > 0.1).alias("drifted"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# Two-stage ANN serving: PQ-ADC shortlist → EXACT re-rank (round 4). The
# production retrieval pattern: the quantized scan is cheap but lossy, so
# the top-20 shortlist is re-scored against the RAW vectors and the final
# top-5 ranks on exact L2² — recovering exactness on a candidate set whose
# size is k, not corpus. The raw-vector read is shortlist-pruned (semi-
# join pushdown); ranks break ties on (rounded distance, vec_id).
# Beyond-reference [NS] (similarity family; stage 1 = sim_pq_adc_topk).
# --------------------------------------------------------------------------
_REFINE_SHORT = 20
_REFINE_K = 5

PQ_REFINE_ORACLE = (
    PQ_ADC_ORACLE.rsplit("SELECT enc.vec_id", 1)[0]
    + f""",
short AS (
  SELECT enc.vec_id, round(sum(dt.dsub), 6) AS approx_l2sq
  FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
  GROUP BY enc.vec_id
  ORDER BY approx_l2sq, vec_id
  LIMIT {_REFINE_SHORT}
), exact AS (
  SELECT dims.vec_id,
         round(sum((dims.x - qd.x) * (dims.x - qd.x)), 6) AS exact_l2sq
  FROM dims JOIN qd ON dims.sub = qd.sub AND dims.sd = qd.sd
  WHERE dims.vec_id IN (SELECT vec_id FROM short)
  GROUP BY dims.vec_id
), ranked AS (
  SELECT s.vec_id, s.approx_l2sq, e.exact_l2sq,
         row_number() OVER (ORDER BY e.exact_l2sq, s.vec_id) AS rnk
  FROM short s JOIN exact e ON e.vec_id = s.vec_id
)
SELECT vec_id, approx_l2sq, exact_l2sq, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_REFINE_K} ORDER BY rnk
"""
)


@register("sim_pq_refine_rerank", oracle=PQ_REFINE_ORACLE)
def sim_pq_refine_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.clustering import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QID)
    # the shortlist feeds the exact-rerank semi-join AND the final join;
    # exchange reuse runs the PQ train/encode/ADC pipeline once
    short = pq_adc_topk(emb, query, k=_REFINE_SHORT, train_mod=4)
    qv = F.broadcast(
        query.select(F.col("embedding").cast("array<double>").alias("qv"))
    )
    exact_expr = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("qv"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        emb.join(short.select("vec_id"), "vec_id", "left_semi")
        .crossJoin(qv)
        .select("vec_id", F.round(exact_expr, 6).alias("exact_l2sq"))
    )
    wr = W.orderBy(F.col("exact_l2sq").asc(), "vec_id")  # ≤ 20 rows: bounded
    return (
        short.join(exact, "vec_id")
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= _REFINE_K)
        .select("vec_id", "approx_l2sq", "exact_l2sq", "rnk")
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# PQ quantization-error audit (round 4): per subspace, the reconstruction
# error ‖x_sub − centroid(code)‖² the codebook inflicts — the codebook-
# quality number an ANN operator watches when choosing codes/sub_dim
# (completes the PQ story: train → encode → serve → refine → audit).
# Per-(vector, subspace) errors round to 6 dp in BOTH engines before the
# rollup. Oracle reuses the PQ train/encode CTE chain verbatim.
# --------------------------------------------------------------------------
PQ_ERROR_ORACLE = (
    PQ_ADC_ORACLE.rsplit("), qd AS (", 1)[0]
    + f"""),
recon AS (
  SELECT dims.vec_id, dims.sub,
         round(sum((dims.x - cb.c) * (dims.x - cb.c)), 6) AS err
  FROM dims
  JOIN enc ON enc.vec_id = dims.vec_id AND enc.sub = dims.sub
  JOIN cb ON cb.sub = dims.sub AND cb.code = enc.code AND cb.sd = dims.sd
  GROUP BY dims.vec_id, dims.sub
)
SELECT sub, CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(err), 6) AS avg_sq_error,
       round(max(err), 6) AS max_sq_error
FROM recon GROUP BY sub ORDER BY sub
"""
)


@register("sim_pq_error_audit", oracle=PQ_ERROR_ORACLE)
def sim_pq_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import _sub_dims, pq_codebooks, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, train_mod=4)
    enc = pq_encode(emb, cb)
    dims = _sub_dims(emb, "embedding", "vec_id", 16)
    recon = (
        dims.join(enc, ["vec_id", "sub"])
        .join(F.broadcast(cb), ["sub", "code", "sd"])
        .groupBy("vec_id", "sub")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))), 6
            ).alias("err")
        )
    )
    return (
        recon.groupBy("sub")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("err"), 6).alias("avg_sq_error"),
            F.round(F.max("err"), 6).alias("max_sq_error"),
        )
        .orderBy("sub")
    )


# --------------------------------------------------------------------------
# IVF cell-balance audit (round 4): per-index health report BEFORE you pay
# for probes — cell count, min/avg/max cell size, and the imbalance factor
# max/mean that predicts tail latency (a hot cell serves most queries
# slowly; the LSH band-cost audit is this family's dedup-side sibling).
# One count rollup; trivially cheap at any corpus size.
# --------------------------------------------------------------------------
IVF_BALANCE_ORACLE = """
WITH c AS (
  SELECT label, CAST(count(*) AS BIGINT) AS sz FROM embeddings GROUP BY label
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(min(sz) AS BIGINT) AS min_cell,
       round(avg(sz), 6) AS avg_cell,
       CAST(max(sz) AS BIGINT) AS max_cell,
       round(max(sz) / avg(sz), 6) AS imbalance_factor
FROM c
"""


@register("sim_ivf_cell_balance", oracle=IVF_BALANCE_ORACLE)
def sim_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return c.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("sz").alias("min_cell"),
        F.round(F.avg("sz"), 6).alias("avg_cell"),
        F.max("sz").alias("max_cell"),
        F.round(F.max("sz") / F.avg("sz"), 6).alias("imbalance_factor"),
    )


# --------------------------------------------------------------------------
# Nearest-centroid classification audit (round 4): assign every vector to
# its nearest label centroid and report the confusion summary — per true
# label, how many route back to their own cell vs elsewhere, plus overall
# accuracy. This is the IVF partitioner evaluated AS a classifier: low
# self-routing predicts poor nprobe=1 recall before any query runs (the
# recall audit's cheap standing precursor). Centroids broadcast; one
# corpus scan; argmin ties toward the smaller cell id in both engines.
# --------------------------------------------------------------------------
CENTROID_CLS_ORACLE = """
WITH exploded AS (
  SELECT label, pos, CAST(val AS DOUBLE) AS val
  FROM (SELECT label, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
centroids AS (
  SELECT label AS cl, list(avg_val ORDER BY pos) AS cvec
  FROM (SELECT label, pos, avg(val) AS avg_val FROM exploded GROUP BY label, pos)
  GROUP BY label
),
assign AS (
  SELECT vec_id, label, cl FROM (
    SELECT e.vec_id, e.label, c.cl,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6)
                        DESC, c.cl) AS rn
    FROM embeddings e CROSS JOIN centroids c
  ) WHERE rn = 1
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN cl = label THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
       round(sum(CASE WHEN cl = label THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS self_routing_rate
FROM assign GROUP BY label ORDER BY label
"""


@register("sim_centroid_classifier_audit", oracle=CENTROID_CLS_ORACLE)
def sim_centroid_classifier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.label_centroids(emb).select(
        F.col("blk").alias("cl"), F.col("centroid")
    )
    wq = W.partitionBy("vec_id").orderBy(
        F.round(
            cosine_similarity(F.col("embedding").cast("array<double>"), "centroid"), 6
        ).desc(),
        "cl",
    )
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cl")
    )
    self_hit = F.when(F.col("cl") == F.col("label"), 1).otherwise(0)
    return (
        assign.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(self_hit).alias("n_self"),
            F.round(
                F.sum(self_hit) / F.count(F.lit(1)).cast("double"), 6
            ).alias("self_routing_rate"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Random-projection distortion audit (round 4): project 64-dim embeddings
# to 16 dims through the deterministic hyperplane matrix (make_planes —
# the same literal rationals the LSH oracle embeds) and measure how much
# cosine similarity moves over the linear (v, v+1) pair panel — the
# Johnson–Lindenstrauss quality check that says whether a 4× cheaper
# index preserves neighborhoods. The proper-rotation cousin of the
# Matryoshka prefix-truncation audit.
# --------------------------------------------------------------------------
_RP_PLANES = S.make_planes(16, 64)

_RP_PROJ_SQL = ", ".join(
    f"list_dot_product(e, {_plane_lit(p)})" for p in _RP_PLANES
)

RP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), proj AS (
  SELECT vec_id, [{_RP_PROJ_SQL}] AS p, e FROM v
), pairs AS (
  SELECT a.vec_id AS va,
         round(list_cosine_similarity(a.e, b.e), 6) AS cos_full,
         round(list_cosine_similarity(a.p, b.p), 6) AS cos_proj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(cos_full - cos_proj)), 6) AS avg_distortion,
       round(max(abs(cos_full - cos_proj)), 6) AS max_distortion,
       round(corr(cos_full, cos_proj), 6) AS rank_fidelity_corr
FROM pairs
"""


@register("emb_random_projection_distortion", oracle=RP_ORACLE)
def emb_random_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity, dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    proj = F.array(
        *[
            dot(e, F.array(*[F.lit(float(x)) for x in p]))
            for p in _RP_PLANES
        ]
    )
    v = emb.select("vec_id", e.alias("e"), proj.alias("p"))
    a = v.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("p").alias("pa"))
    b = v.select(
        (F.col("vec_id") - 1).alias("va"),
        F.col("e").alias("eb"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "va").select(
        F.round(cosine_similarity("ea", "eb"), 6).alias("cos_full"),
        F.round(cosine_similarity("pa", "pb"), 6).alias("cos_proj"),
    )
    dist = F.abs(F.col("cos_full") - F.col("cos_proj"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(dist), 6).alias("avg_distortion"),
        F.round(F.max(dist), 6).alias("max_distortion"),
        F.round(F.corr("cos_full", "cos_proj"), 6).alias("rank_fidelity_corr"),
    )


# --------------------------------------------------------------------------
# Exact-duplicate embeddings (round 4): vectors whose components are
# bitwise identical, grouped by an md5 over the canonical string form —
# the embedding-side twin of exact text dedup (identical embeddings mean
# upstream duplicate content or a stuck encoder, both worth an alert
# before they skew ANN statistics), summarized per cell so the report is
# always non-empty. One hash groupBy, O(distinct) state.
# --------------------------------------------------------------------------
EMB_EXACT_DUP_ORACLE = """
WITH h AS (
  SELECT vec_id, label,
         md5(array_to_string(list_transform(embedding::DOUBLE[],
                                            x -> format('{:.9f}', x)), ',')) AS eh
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT eh) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT eh) AS BIGINT) AS n_exact_dupes
FROM h GROUP BY label ORDER BY label
"""


@register("emb_exact_duplicates", oracle=EMB_EXACT_DUP_ORACLE)
def emb_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    eh = F.md5(
        F.array_join(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.format_string("%.9f", x),
            ),
            ",",
        )
    )
    return (
        emb.select("label", eh.alias("emb_hash"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("emb_hash").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("emb_hash")).alias(
                "n_exact_dupes"
            ),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Local Outlier Factor (round 4, session 2): density-based outlier score
# over the within-cell kNN structure sim_knn_graph_cells already attests —
# LOF(v) = mean(lrd of v's neighbours) / lrd(v), lrd = k / Σ reach-dist,
# reach-dist(v←o) = max(k-distance(o), d(v,o)) with d = 1 − cosine.
# LOF ≈ 1 means v sits in its neighbours' density; LOF >> 1 flags sparse-
# region vectors that centroid-distance pruning (sim_centroid_outliers)
# misses when a cell has several density regimes. Scale shape: the only
# quadratic-ish pass is the per-cell GEMM top-k (Σ|cell|², the blocked_knn
# bound); everything after runs on the k·N edge list with vec-keyed joins.
# Float discipline: distances derive from the ROUNDED cosine (exact to
# 6 dp), reach sums have exactly k=3 addends, and the lrd/LOF expressions
# are written identically in both engines; Σreach is clamped at 1e-12 in
# both so duplicate-vector cells (see emb_exact_duplicates) divide by the
# same finite value instead of 0. Vectors whose cell has < k+1 members
# drop out (no k-th neighbour → no k-distance), identically in both
# engines via inner joins. Beyond-reference [NS] (SURVEY.md §2.B).
# --------------------------------------------------------------------------
LOF_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nb, a.label AS label,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
), knn AS (
  SELECT * FROM (
    SELECT vec_id, nb, label, cosine_sim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine_sim DESC, nb) AS rnk
    FROM pairs
  ) WHERE rnk <= {_KNN_K}
), kd AS (
  SELECT vec_id, 1.0 - cosine_sim AS k_dist FROM knn WHERE rnk = {_KNN_K}
), reach AS (
  SELECT k.vec_id, k.nb,
         greatest(1.0 - k.cosine_sim, kdo.k_dist) AS r
  FROM knn k JOIN kd kdo ON kdo.vec_id = k.nb
), lrd AS (
  SELECT vec_id, {_KNN_K}.0 / greatest(sum(r), 1e-12) AS lrd
  FROM reach GROUP BY vec_id
  HAVING count(*) = {_KNN_K}
), lof AS (
  SELECT k.vec_id, sum(lo.lrd) / ({_KNN_K}.0 * lv.lrd) AS lof
  FROM knn k
  JOIN lrd lo ON lo.vec_id = k.nb
  JOIN lrd lv ON lv.vec_id = k.vec_id
  GROUP BY k.vec_id, lv.lrd
  HAVING count(*) = {_KNN_K}
)
SELECT l.vec_id, e.label, round(kd.k_dist, 6) AS k_dist,
       round(l.lof, 6) AS lof
FROM lof l
JOIN kd ON kd.vec_id = l.vec_id
JOIN embeddings e ON e.vec_id = l.vec_id
ORDER BY l.vec_id
"""


@register("sim_lof_outliers", oracle=LOF_ORACLE)
def sim_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import blocked_knn

    emb = load_table(spark, sf_dir, "embeddings")
    knn = materialize(blocked_knn(emb, k=_KNN_K))
    kd = knn.filter(F.col("rnk") == _KNN_K).select(
        "vec_id", (F.lit(1.0) - F.col("cosine_sim")).alias("k_dist")
    )
    reach = knn.join(
        kd.select(F.col("vec_id").alias("nb"), F.col("k_dist").alias("kd_nb")),
        "nb",
    ).select(
        "vec_id",
        "nb",
        F.greatest(F.lit(1.0) - F.col("cosine_sim"), F.col("kd_nb")).alias("r"),
    )
    lrd = (
        reach.groupBy("vec_id")
        .agg(F.sum("r").alias("sr"), F.count(F.lit(1)).alias("nr"))
        .filter(F.col("nr") == _KNN_K)
        .select(
            "vec_id",
            (F.lit(float(_KNN_K)) / F.greatest(F.col("sr"), F.lit(1e-12))).alias(
                "lrd"
            ),
        )
    )
    lof = (
        knn.join(
            lrd.select(F.col("vec_id").alias("nb"), F.col("lrd").alias("lrd_nb")),
            "nb",
        )
        .join(lrd.select("vec_id", F.col("lrd").alias("lrd_v")), "vec_id")
        .groupBy("vec_id", "lrd_v")
        .agg(F.sum("lrd_nb").alias("slo"), F.count(F.lit(1)).alias("nlo"))
        .filter(F.col("nlo") == _KNN_K)
        .select(
            "vec_id",
            (F.col("slo") / (F.lit(float(_KNN_K)) * F.col("lrd_v"))).alias("lof"),
        )
    )
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        lof.join(kd, "vec_id")
        .join(lab, "vec_id")
        .select(
            "vec_id",
            "label",
            F.round("k_dist", 6).alias("k_dist"),
            F.round("lof", 6).alias("lof"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Margin-based alignment mining (round 4): the Artetxe & Schwenk (ACL'19)
# ratio-margin criterion behind LASER/CCMatrix bitext mining — raw cosine
# over-selects hubs (vectors close to everything), so each candidate pair
# is scored by cos(x,y) normalized by the mean of both endpoints'
# k-NN-neighborhood cosines, and only FORWARD-BACKWARD MUTUAL argmax
# pairs are mined. Sides here are label-0 vs label-1 vectors (the
# two-population stand-in for two languages). Production path (round 5,
# VERDICT r4 #2): operators/similarity.bipartite_margin_pairs — two
# streaming blocked-GEMM passes (A hash-chunked, B replicated per chunk)
# that shuffle only Θ(|A|·k + |B|·k·n_blocks) rows and NEVER materialize
# the |A|·|B| pair space; the old crossJoin formulation survives only as
# the DuckDB oracle and the _margin_mining_crossjoin_twin engine-test
# pin. All ranking on round-6 cosines/margins with id tiebreaks (house
# topk discipline).
# --------------------------------------------------------------------------
_MG_K = 4

MARGIN_MINE_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS xa, embedding::DOUBLE[] AS va FROM embeddings WHERE label = 0
), b AS (
  SELECT vec_id AS xb, embedding::DOUBLE[] AS vb FROM embeddings WHERE label = 1
), pairs AS (
  -- zero-norm guard mirrors bipartite_margin_pairs: zero vectors keep c=0
  SELECT xa, xb,
         CASE WHEN list_dot_product(va, va) = 0
                OR list_dot_product(vb, vb) = 0 THEN 0.0
              ELSE round(list_cosine_similarity(va, vb), 6) END AS c
  FROM a CROSS JOIN b
), ka AS (
  SELECT xa, avg(c) AS ax FROM (
    SELECT xa, c, row_number() OVER (PARTITION BY xa ORDER BY c DESC, xb) AS r
    FROM pairs
  ) WHERE r <= {_MG_K} GROUP BY xa
), kb AS (
  SELECT xb, avg(c) AS ay FROM (
    SELECT xb, c, row_number() OVER (PARTITION BY xb ORDER BY c DESC, xa) AS r
    FROM pairs
  ) WHERE r <= {_MG_K} GROUP BY xb
), m AS (
  -- zero-denominator guard mirrors bipartite_margin_pairs: margin 0
  SELECT pairs.xa, pairs.xb, c,
         CASE WHEN (ax + ay) = 0 THEN 0.0
              ELSE round(c / ((ax + ay) / 2), 6) END AS margin
  FROM pairs JOIN ka ON ka.xa = pairs.xa JOIN kb ON kb.xb = pairs.xb
), fwd AS (
  SELECT xa, xb FROM (
    SELECT xa, xb, row_number() OVER (PARTITION BY xa ORDER BY margin DESC, xb) AS r
    FROM m
  ) WHERE r = 1
), bwd AS (
  SELECT xa, xb FROM (
    SELECT xa, xb, row_number() OVER (PARTITION BY xb ORDER BY margin DESC, xa) AS r
    FROM m
  ) WHERE r = 1
)
SELECT m.xa AS vec_a, m.xb AS vec_b, c AS cosine, margin
FROM m JOIN fwd ON fwd.xa = m.xa AND fwd.xb = m.xb
       JOIN bwd ON bwd.xa = m.xa AND bwd.xb = m.xb
ORDER BY vec_a
"""


@register("sim_margin_alignment_mining", oracle=MARGIN_MINE_ORACLE)
def sim_margin_alignment_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import bipartite_margin_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.where(F.col("label") == 0).select(
        F.col("vec_id").alias("xa"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.where(F.col("label") == 1).select(
        F.col("vec_id").alias("xb"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    mined = bipartite_margin_pairs(a, b, k=_MG_K, n_blocks=8)
    return mined.select(
        F.col("xa").alias("vec_a"),
        F.col("xb").alias("vec_b"),
        F.col("c").alias("cosine"),
        "margin",
    ).orderBy("vec_a")


def _margin_mining_crossjoin_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r4 broadcast-crossJoin formulation, kept ONLY as the engine-test
    pin for the blocked production path (and as human-readable spec — it is
    line-for-line the DuckDB oracle). Θ(|A|·|B|) rows materialized: never
    call this outside fixture-scale tests."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.where(F.col("label") == 0).select(
        F.col("vec_id").alias("xa"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.where(F.col("label") == 1).select(
        F.col("vec_id").alias("xb"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = a.crossJoin(F.broadcast(b)).select(
        "xa",
        "xb",
        # coalesce(·, 0): cosine_similarity is NULL on zero norms; the
        # blocked path and oracle both pin zero-norm cosines to 0
        F.round(
            F.coalesce(
                cosine_similarity(F.col("va"), F.col("vb")), F.lit(0.0)
            ),
            6,
        ).alias("c"),
    )
    pairs = materialize(pairs)  # ka/kb/margin branches
    wa = W.partitionBy("xa").orderBy(F.col("c").desc(), "xb")
    wb = W.partitionBy("xb").orderBy(F.col("c").desc(), "xa")
    ka = (
        pairs.withColumn("r", F.row_number().over(wa))
        .where(F.col("r") <= _MG_K)
        .groupBy("xa")
        .agg(F.avg("c").alias("ax"))
    )
    kb = (
        pairs.withColumn("r", F.row_number().over(wb))
        .where(F.col("r") <= _MG_K)
        .groupBy("xb")
        .agg(F.avg("c").alias("ay"))
    )
    m = (
        pairs.join(F.broadcast(ka), "xa")
        .join(F.broadcast(kb), "xb")
        .select(
            "xa", "xb", "c",
            # zero-denominator rule mirrors the blocked path: margin 0
            F.when(F.col("ax") + F.col("ay") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col("c") / ((F.col("ax") + F.col("ay")) / 2), 6)
            )
            .alias("margin"),
        )
    )
    m = materialize(m)  # fwd/bwd/output branches
    wfa = W.partitionBy("xa").orderBy(F.col("margin").desc(), "xb")
    wfb = W.partitionBy("xb").orderBy(F.col("margin").desc(), "xa")
    fwd = m.withColumn("r", F.row_number().over(wfa)).where(F.col("r") == 1).select("xa", "xb")
    bwd = m.withColumn("r", F.row_number().over(wfb)).where(F.col("r") == 1).select("xa", "xb")
    return (
        m.join(fwd, ["xa", "xb"])
        .join(bwd, ["xa", "xb"])
        .select(
            F.col("xa").alias("vec_a"),
            F.col("xb").alias("vec_b"),
            F.col("c").alias("cosine"),
            "margin",
        )
        .orderBy("vec_a")
    )


# --------------------------------------------------------------------------
# REAL multimodal decode with a FULL oracle (round 4): pixels are
# generated arithmetically from doc_id — pixel(y,x,c) = (id·31 + y·7 +
# x·3 + c) mod 256 — serialized to actual 24-bit BMP bytes, decoded back
# by the pure-struct/numpy parser (operators/multimodal.encode_bmp /
# decode_bmp: no codec library involved), and reduced to per-channel
# means. The oracle computes the same means straight from the arithmetic
# (a 32-term generate_series sum), so a decode bug — wrong channel
# order, bottom-up flip, row padding — breaks the value hash. This
# retires the last "decode is stubbed" caveat: the container decodes
# real image bytes end to end.
# --------------------------------------------------------------------------
_BMP_H, _BMP_W = 4, 8

BMP_DECODE_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), px AS (
  SELECT doc_id, c,
         avg(CAST((doc_id * 31 + y * 7 + x * 3 + c) % 256 AS DOUBLE)) AS m
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_BMP_H - 1})) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, {_BMP_W - 1})) AS x)
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS c)
  GROUP BY doc_id, c
)
SELECT doc_id, {_BMP_W} AS width, {_BMP_H} AS height,
       round(max(CASE WHEN c = 0 THEN m END), 6) AS mean_r,
       round(max(CASE WHEN c = 1 THEN m END), 6) AS mean_g,
       round(max(CASE WHEN c = 2 THEN m END), 6) AS mean_b
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_bmp_decode", oracle=BMP_DECODE_ORACLE)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                y, x, ch = np.meshgrid(
                    np.arange(_BMP_H), np.arange(_BMP_W), np.arange(3),
                    indexing="ij",
                )
                arr = ((int(doc_id) * 31 + y * 7 + x * 3 + ch) % 256).astype("uint8")
                rows.append((int(doc_id), bytearray(M.encode_bmp(arr))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    bmps = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.bmp_feature_extract(bmps)
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# REAL PNG decode with a FULL oracle (round 7, VERDICT r6 #6): the
# zlib-compressed sibling of multimodal_bmp_decode. Pixels are generated
# arithmetically — pixel(y,x,c) = (id·29 + y·5 + x·11 + c·3) mod 256 —
# serialized to REAL PNG bytes (operators/multimodal.encode_png: IHDR /
# multi-IDAT / IEND with CRC32s, deflate scanlines) using a PER-ROW
# FILTER MIX (filter type = (id + y) mod 5, so None/Sub/Up/Average/Paeth
# all appear in the corpus), inflated + unfiltered back by the
# pure-zlib/struct parser, and reduced to per-channel means. The oracle
# computes the same means straight from the arithmetic, so any inflate,
# unfilter, CRC, channel-order or scanline bug breaks the value hash.
# Retires the container's PNG NotImplementedError; the Pillow hatch now
# covers JPEG only. Beyond-reference [NS] (multimodal family).
# --------------------------------------------------------------------------
_PNG_H, _PNG_W = 6, 9

PNG_DECODE_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), px AS (
  SELECT doc_id, c,
         avg(CAST((doc_id * 29 + y * 5 + x * 11 + c * 3) % 256 AS DOUBLE)) AS m
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_PNG_H - 1})) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, {_PNG_W - 1})) AS x)
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS c)
  GROUP BY doc_id, c
)
SELECT doc_id, {_PNG_W} AS width, {_PNG_H} AS height,
       round(max(CASE WHEN c = 0 THEN m END), 6) AS mean_r,
       round(max(CASE WHEN c = 1 THEN m END), 6) AS mean_g,
       round(max(CASE WHEN c = 2 THEN m END), 6) AS mean_b
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_png_decode", oracle=PNG_DECODE_ORACLE)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                y, x, ch = np.meshgrid(
                    np.arange(_PNG_H), np.arange(_PNG_W), np.arange(3),
                    indexing="ij",
                )
                arr = ((did * 29 + y * 5 + x * 11 + ch * 3) % 256).astype("uint8")
                png = M.encode_png(arr, row_filter=lambda yy, d=did: (d + yy) % 5)
                rows.append((did, bytearray(png)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    pngs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.png_feature_extract(pngs)
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# REAL GIF decode with a FULL oracle (round 7 continuation): LZW is
# lossless, so this is PNG-style exact-pixel arithmetic — palette entry i
# is ((i·7)%256, (i·11)%256, (i·13)%256), pixel (y,x) holds index
# (id·29 + y·5 + x·3) mod 256, and per-doc encode options cycle through
# interlaced row order, local-color-table override and a comment
# extension block, so the de-interleave, LCT and extension-skip decoder
# paths all sit under one value hash. With JPEG this completes the four
# legacy web image formats decoding codec-free in ANY container.
# Beyond-reference [NS] (multimodal family).
# --------------------------------------------------------------------------
_GIF_H, _GIF_W = 6, 9

GIF_DECODE_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), px AS (
  SELECT doc_id, (doc_id * 29 + y * 5 + x * 3) % 256 AS i
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_GIF_H - 1})) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, {_GIF_W - 1})) AS x)
)
SELECT doc_id, {_GIF_W} AS width, {_GIF_H} AS height,
       round(avg(CAST((i * 7) % 256 AS DOUBLE)), 6) AS mean_r,
       round(avg(CAST((i * 11) % 256 AS DOUBLE)), 6) AS mean_g,
       round(avg(CAST((i * 13) % 256 AS DOUBLE)), 6) AS mean_b
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_gif_decode", oracle=GIF_DECODE_ORACLE)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dataingestion_pt_ms_spark.operators import gif as G

        i = np.arange(256)
        pal = np.stack([(i * 7) % 256, (i * 11) % 256, (i * 13) % 256], -1).astype(
            "uint8"
        )
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                y, x = np.meshgrid(
                    np.arange(_GIF_H), np.arange(_GIF_W), indexing="ij"
                )
                idx = (did * 29 + y * 5 + x * 3) % 256
                data = G.encode_gif(
                    idx,
                    pal,
                    interlace=did % 2 == 1,
                    local_palette=did % 3 == 0,
                    comment=b"corpus" if did % 5 == 0 else None,
                )
                rows.append((did, bytearray(data)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    gifs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.image_means_extract(gifs)
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# REAL baseline-JPEG decode with a FULL oracle (round 7 continuation —
# retires the container's LAST Pillow-gated format, VERDICT r6 "missing"
# #3): 16×32 images of constant 8×8 blocks g = (id·31 + bi·17 + bj·7) mod
# 256 are serialized by operators/jpeg.py's encoder, CYCLING the three
# encoder paths per doc — grayscale (1 component), color 4:4:4 (3-component
# MCU interleave), color 4:2:0 with restart markers (subsampled MCU
# geometry + RSTn resync + DC-predictor reset). Gray-valued RGB survives
# the fixed-point YCbCr round-trip EXACTLY (Y = (256·g)>>8 = g, Cb = Cr =
# 128, whose chroma blocks quantize to DC 0), and a constant block's only
# nonzero coefficient is DC = 8·(g−128), quantized by the Annex-K q00 = 16
# at quality 50 — so ALL THREE variants decode to the same closed form
# clip(2·floor((g−128)/2 + 0.5) + 128), which the oracle replays in SQL.
# Any bug in the Huffman decoder, DC prediction, zigzag, dequantize, IDCT,
# upsample, restart resync or the decode_image magic-byte dispatch breaks
# the value hash. Beyond-reference [NS] (multimodal family).
# --------------------------------------------------------------------------
_JPG_BI, _JPG_BJ = 2, 4  # block grid: 16×32 px

JPEG_DECODE_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), blk AS (
  SELECT doc_id,
         CAST((doc_id * 31 + bi * 17 + bj * 7) % 256 AS DOUBLE) AS g
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_JPG_BI - 1})) AS bi)
  CROSS JOIN (SELECT unnest(generate_series(0, {_JPG_BJ - 1})) AS bj)
), dec AS (
  SELECT doc_id,
         least(255.0, greatest(0.0,
             2 * floor((g - 128) / 2.0 + 0.5) + 128)) AS px
  FROM blk
)
SELECT doc_id, {_JPG_BJ * 8} AS width, {_JPG_BI * 8} AS height,
       round(avg(px), 6) AS mean_r,
       round(avg(px), 6) AS mean_g,
       round(avg(px), 6) AS mean_b
FROM dec
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_jpeg_decode", oracle=JPEG_DECODE_ORACLE)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dataingestion_pt_ms_spark.operators import jpeg as J

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                gray = np.zeros((_JPG_BI * 8, _JPG_BJ * 8), dtype=np.uint8)
                for bi in range(_JPG_BI):
                    for bj in range(_JPG_BJ):
                        gray[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8] = (
                            did * 31 + bi * 17 + bj * 7
                        ) % 256
                variant = did % 3
                if variant == 0:
                    data = J.encode_jpeg(gray, quality=50)
                elif variant == 1:
                    rgb = np.stack([gray, gray, gray], axis=-1)
                    data = J.encode_jpeg(rgb, quality=50, subsampling="444")
                else:
                    rgb = np.stack([gray, gray, gray], axis=-1)
                    data = J.encode_jpeg(
                        rgb, quality=50, subsampling="420", restart_interval=2
                    )
                rows.append((did, bytearray(data)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    jpgs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.image_means_extract(jpgs)
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# REAL audio decode with a FULL oracle (round 4): the WAV sibling of
# multimodal_bmp_decode — PCM16 samples s_i = ((id·13 + i·7) mod 2001) −
# 1000 serialized to actual RIFF/WAVE bytes, chunk-walked back by the
# pure-struct parser, reduced to RMS + zero-crossing rate; the oracle
# recomputes both from the sample formula. Image + audio decode now both
# RUN in this container.
# --------------------------------------------------------------------------
_WAV_N, _WAV_RATE = 800, 8000

WAV_DECODE_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), s AS (
  SELECT doc_id, i,
         CAST((doc_id * 13 + i * 7) % 2001 - 1000 AS DOUBLE) AS x
  FROM ids CROSS JOIN (SELECT unnest(generate_series(0, {_WAV_N - 1})) AS i)
), z AS (
  SELECT doc_id, x,
         lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS px
  FROM s
)
SELECT doc_id,
       {_WAV_N} AS n_samples,
       round({_WAV_N} / {_WAV_RATE}.0, 6) AS duration_s,
       round(sqrt(avg(x * x)), 6) AS rms,
       round(sum(CASE WHEN px IS NOT NULL AND px * x < 0 THEN 1.0 ELSE 0.0 END)
             / ({_WAV_N} - 1), 6) AS zcr
FROM z
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_wav_decode", oracle=WAV_DECODE_ORACLE)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = np.arange(_WAV_N)
                s = ((int(doc_id) * 13 + i * 7) % 2001 - 1000).astype("<i2")
                rows.append((int(doc_id), bytearray(M.encode_wav(s, _WAV_RATE))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    wavs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.wav_feature_extract(wavs)
    return feats.select(
        "doc_id", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Shot-boundary detection over a REAL multi-frame CONTAINER (round 7
# continuation): multimodal_video_shot_boundaries ships each frame as its
# own BMP row; here the whole 12-frame clip is ONE animated-GIF payload —
# the shape video curation actually meets (a binary column of container
# bytes, demuxed in the engine). encode_animated_gif delta-encodes frames
# (changed-pixel bounding rect per frame, like real GIF optimizers) and
# decode_gif_frames re-composites them, so the LZW coder, sub-rect
# compositing and extension walk all sit under the oracle. Pixels are
# palette indices through an identity-gray table: idx(f,y,x) = (m·31 +
# 7y + 3x + (m+1)·(8y+x+1)·Knuth + (f div 4)·89·(8y+x+1) + f) mod 256 —
# 3 planted shots of 4 frames; metric = mean |Δidx| between consecutive
# decoded frames (integer-exact), cut when > 30. The oracle recomputes
# everything from the index formula alone. Beyond-reference [NS]
# (multimodal video family).
# --------------------------------------------------------------------------
_AGIF_FRAMES, _AGIF_SHOT_LEN, _AGIF_PANEL = 12, 4, 50

ANIMATED_GIF_SHOTS_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < {_AGIF_PANEL}
), grid AS (
  SELECT doc_id, f, y, x,
         CAST(((doc_id % 256) * 31 + y * 7 + x * 3
               + ((doc_id % 256) + 1) * (y * 8 + x + 1) * 2654435761
               + (f // {_AGIF_SHOT_LEN}) * 89 * (y * 8 + x + 1) + f) % 256
            AS BIGINT) AS idx
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_AGIF_FRAMES - 1})) AS f)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x)
), diffs AS (
  SELECT a.doc_id, b.f AS frame_idx,
         SUM(abs(b.idx - a.idx)) AS sad
  FROM grid a
  JOIN grid b ON b.doc_id = a.doc_id AND b.f = a.f + 1
             AND b.y = a.y AND b.x = a.x
  GROUP BY a.doc_id, b.f
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       round(sad / 64.0, 6) AS mean_abs_diff,
       CASE WHEN sad / 64.0 > 30.0 THEN 1 ELSE 0 END AS is_shot_boundary
FROM diffs
ORDER BY doc_id, frame_idx
"""


@register("multimodal_animated_gif_shots", oracle=ANIMATED_GIF_SHOTS_ORACLE)
def multimodal_animated_gif_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _AGIF_PANEL)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dataingestion_pt_ms_spark.operators import gif as G

        i = np.arange(256)
        pal = np.stack([i, i, i], -1).astype("uint8")  # identity gray
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                m = int(doc_id) % 256
                y, x = np.meshgrid(
                    np.arange(8, dtype="int64"), np.arange(8, dtype="int64"),
                    indexing="ij",
                )
                frames = [
                    (
                        m * 31 + y * 7 + x * 3
                        + (m + 1) * (y * 8 + x + 1) * 2654435761
                        + (f // _AGIF_SHOT_LEN) * 89 * (y * 8 + x + 1) + f
                    ) % 256
                    for f in range(_AGIF_FRAMES)
                ]
                rows.append(
                    (int(doc_id), bytearray(G.encode_animated_gif(frames, pal)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    clips = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")

    def demux(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dataingestion_pt_ms_spark.operators import gif as G

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                frames = G.decode_gif_frames(bytes(r["media_bytes"]))
                for f in range(frames.shape[0]):
                    # identity palette: channel 0 IS the index plane
                    rows.append(
                        (
                            int(r["doc_id"]), f,
                            frames[f, :, :, 0].astype("int64").ravel().tolist(),
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "idx"])

    grays = clips.mapInPandas(demux, "doc_id long, frame_idx int, idx array<long>")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("frame_idx")
    with_prev = grays.withColumn("prev", F.lag("idx").over(w)).filter(
        F.col("prev").isNotNull()
    )
    sad = F.aggregate(
        F.zip_with("idx", "prev", lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return with_prev.select(
        "doc_id",
        "frame_idx",
        F.round(sad / 64.0, 6).alias("mean_abs_diff"),
        F.when(sad / 64.0 > 30.0, 1).otherwise(0).alias("is_shot_boundary"),
    ).orderBy("doc_id", "frame_idx")


# --------------------------------------------------------------------------
# Mixed-format media triage (round 7 continuation, capstone): the entry
# point of every raw media dump — ONE binary column carrying seven
# payload kinds (PNG, BMP, GIF, baseline JPEG, WAV PCM16 / G.711 μ-law /
# IMA-ADPCM), content-sniffed from MAGIC BYTES (extensions lie), routed
# to the right codec-free decoder, and profiled per (media_kind, codec):
# payload count + the decoded-domain metric (mean pixel channel-sum for
# images, RMS for audio). The oracle composes every formula the
# per-format queries established — exact pixels for the lossless three,
# the JPEG DC closed form, the μ-law companding closed form, and the
# IMA-ADPCM recursive CTE — so ONE value hash covers the entire
# sniff→dispatch→decode matrix. A mis-sniff, a wrong dispatch, or any
# decoder regression moves a group's n or metric. Scale shape: pure
# mapInPandas over the binary column + a 7-group JVM aggregate.
# Beyond-reference [NS] (multimodal family capstone).
# --------------------------------------------------------------------------
_TRI_PANEL = 140  # doc_id % 7 selects the format
_TRI_WAVN, _TRI_ADPCMN = 200, 128

# public IMA ADPCM step table as a DuckDB array literal (shared by the
# triage and adpcm_roundtrip oracles' recursive CTEs)
_IMA_STEPS = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,"
    "73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,"
    "408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,"
    "1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,"
    "7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,"
    "22385,24623,27086,29794,32767]"
)

# The CTE block is shared verbatim by MEDIA_TRIAGE_ORACLE and the
# WARC-fed composition below (pipeline_warc_media_triage): one source of
# truth for the per-format closed-form metrics.
_TRIAGE_CTES = f"""
WITH RECURSIVE ids AS (
  SELECT doc_id FROM documents WHERE doc_id < {_TRI_PANEL}
), png_m AS (
  SELECT doc_id, round(avg(
           CAST((doc_id * 29 + y * 5 + x * 11 + 0) % 256
              + (doc_id * 29 + y * 5 + x * 11 + 3) % 256
              + (doc_id * 29 + y * 5 + x * 11 + 6) % 256 AS DOUBLE)), 6) AS metric
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x)
  WHERE doc_id % 7 = 0 GROUP BY doc_id
), bmp_m AS (
  SELECT doc_id, round(avg(
           CAST((doc_id * 17 + y * 3 + x * 5) % 256
              + (doc_id * 17 + y * 3 + x * 5 + 7) % 256
              + (doc_id * 17 + y * 3 + x * 5 + 14) % 256 AS DOUBLE)), 6) AS metric
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x)
  WHERE doc_id % 7 = 1 GROUP BY doc_id
), gif_m AS (
  SELECT doc_id, round(avg(CAST(
           (((doc_id * 29 + y * 5 + x * 3) % 256) * 7) % 256
         + (((doc_id * 29 + y * 5 + x * 3) % 256) * 11) % 256
         + (((doc_id * 29 + y * 5 + x * 3) % 256) * 13) % 256 AS DOUBLE)), 6) AS metric
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x)
  WHERE doc_id % 7 = 2 GROUP BY doc_id
), jpg_m AS (
  SELECT doc_id, round(avg(3 * least(255.0, greatest(0.0,
           2 * floor(((doc_id * 31 + bi * 17 + bj * 7) % 256 - 128) / 2.0 + 0.5)
           + 128))), 6) AS metric
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS bi)
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS bj)
  WHERE doc_id % 7 = 3 GROUP BY doc_id
), pcm_m AS (
  SELECT doc_id, round(sqrt(avg(CAST(
           ((doc_id * 13 + i * 7) % 2001 - 1000)
         * ((doc_id * 13 + i * 7) % 2001 - 1000) AS DOUBLE))), 6) AS metric
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_TRI_WAVN - 1})) AS i)
  WHERE doc_id % 7 = 4 GROUP BY doc_id
), mu_raw AS (
  SELECT doc_id, i,
         CAST((doc_id * 13 + i * 7) % 2001 - 1000 AS BIGINT) AS v,
         least(abs(CAST((doc_id * 13 + i * 7) % 2001 - 1000 AS BIGINT)), 32635)
           + 132 AS m
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_TRI_WAVN - 1})) AS i)
  WHERE doc_id % 7 = 5
), mu_m AS (
  SELECT doc_id, round(sqrt(avg(CAST(d * d AS DOUBLE))), 6) AS metric
  FROM (
    SELECT doc_id,
           CASE WHEN m < 256 THEN 0 WHEN m < 512 THEN 1 WHEN m < 1024 THEN 2
                WHEN m < 2048 THEN 3 WHEN m < 4096 THEN 4 WHEN m < 8192 THEN 5
                WHEN m < 16384 THEN 6 ELSE 7 END AS e,
           CASE WHEN v < 0 THEN -1 ELSE 1 END
             * ((((m // (1 << (e + 3))) % 16) * 8 + 132) * (1 << e) - 132) AS d
    FROM mu_raw
  ) GROUP BY doc_id
), st AS (
  SELECT generate_subscripts(a, 1) - 1 AS sidx, unnest(a) AS step
  FROM (SELECT {_IMA_STEPS}::BIGINT[] AS a)
), rec AS (
  SELECT doc_id, 0 AS i,
         CAST((doc_id * 13) % 64001 - 32000 AS BIGINT) AS pred,
         0 AS idx
  FROM ids WHERE doc_id % 7 = 6
  UNION ALL
  SELECT doc_id, i,
         least(32767, greatest(-32768,
           CASE WHEN diff < 0 THEN pred - delta ELSE pred + delta END)),
         least(88, greatest(0, idx +
           CASE b4 * 4 + b2 * 2 + b1
                WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
                ELSE -1 END))
  FROM (
    SELECT r.doc_id, r.i + 1 AS i, r.pred, r.idx, s.step,
           CAST((r.doc_id * 13 + (r.i + 1) * 7) % 64001 - 32000 AS BIGINT)
             - r.pred AS diff,
           abs(diff) AS ad,
           CASE WHEN ad >= step THEN 1 ELSE 0 END AS b4,
           CASE WHEN ad - b4 * step >= step // 2 THEN 1 ELSE 0 END AS b2,
           CASE WHEN ad - b4 * step - b2 * (step // 2) >= step // 4
                THEN 1 ELSE 0 END AS b1,
           step // 8 + b4 * step + b2 * (step // 2) + b1 * (step // 4) AS delta
    FROM rec r JOIN st s ON s.sidx = r.idx
    WHERE r.i + 1 < {_TRI_ADPCMN}
  ) q
), adpcm_m AS (
  SELECT doc_id, round(sqrt(avg(CAST(pred * pred AS DOUBLE))), 6) AS metric
  FROM rec GROUP BY doc_id
)"""

_TRIAGE_ALL_M = """
  SELECT 'image/png' AS media_kind, 'png' AS codec, metric FROM png_m
  UNION ALL SELECT 'image/bmp', 'bmp', metric FROM bmp_m
  UNION ALL SELECT 'image/gif', 'gif', metric FROM gif_m
  UNION ALL SELECT 'image/jpeg', 'jpeg', metric FROM jpg_m
  UNION ALL SELECT 'audio/wav', 'pcm16', metric FROM pcm_m
  UNION ALL SELECT 'audio/wav', 'mulaw', metric FROM mu_m
  UNION ALL SELECT 'audio/wav', 'ima_adpcm', metric FROM adpcm_m
"""

_TRIAGE_FINAL = """
SELECT media_kind, codec, count(*) AS n_payloads,
       round(avg(metric), 6) AS avg_metric
FROM all_m
GROUP BY media_kind, codec
ORDER BY media_kind, codec
"""

MEDIA_TRIAGE_ORACLE = (
    _TRIAGE_CTES + ", all_m AS (" + _TRIAGE_ALL_M + ")" + _TRIAGE_FINAL
)


def _triage_payload(did: int) -> bytes:
    """One deterministic media payload per panel doc, format keyed by
    ``doc_id % 7`` — shared by the direct triage query and the WARC-fed
    composition, and recomputed closed-form by ``_TRIAGE_CTES``."""
    import numpy as np

    from dataingestion_pt_ms_spark.operators import gif as G
    from dataingestion_pt_ms_spark.operators import jpeg as J

    fmt = did % 7
    if fmt == 0:
        y, x, c = np.meshgrid(
            np.arange(6), np.arange(9), np.arange(3), indexing="ij"
        )
        arr = ((did * 29 + y * 5 + x * 11 + c * 3) % 256).astype("uint8")
        return M.encode_png(arr)
    if fmt == 1:
        y, x, c = np.meshgrid(
            np.arange(8), np.arange(8), np.arange(3), indexing="ij"
        )
        arr = ((did * 17 + y * 3 + x * 5 + c * 7) % 256).astype("uint8")
        return M.encode_bmp(arr)
    if fmt == 2:
        i256 = np.arange(256)
        gif_pal = np.stack(
            [(i256 * 7) % 256, (i256 * 11) % 256, (i256 * 13) % 256], -1
        ).astype("uint8")
        y, x = np.meshgrid(np.arange(6), np.arange(9), indexing="ij")
        idx = (did * 29 + y * 5 + x * 3) % 256
        return G.encode_gif(idx, gif_pal, interlace=did % 2 == 1)
    if fmt == 3:
        gray = np.zeros((16, 32), dtype="uint8")
        for bi in range(2):
            for bj in range(4):
                gray[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8] = (
                    did * 31 + bi * 17 + bj * 7
                ) % 256
        return J.encode_jpeg(gray, quality=50)
    if fmt in (4, 5):
        i = np.arange(_TRI_WAVN)
        s = ((did * 13 + i * 7) % 2001 - 1000).astype("<i2")
        return M.encode_wav(s, 8000, "pcm16" if fmt == 4 else "mulaw")
    i = np.arange(_TRI_ADPCMN)
    s = ((did * 13 + i * 7) % 64001 - 32000).astype("<i2")
    return M.encode_wav(s, 8000, "ima_adpcm")


def _triage_row(did: int, data: bytes) -> tuple[int, str, str, float]:
    """Sniff one payload and compute its per-kind metric — images: mean
    channel-sum; audio: RMS; HTML/PDF: extracted n_chars. Shared by the
    direct and WARC-fed triage queries."""
    import struct

    import numpy as np

    kind = M.sniff_media_kind(data)
    if kind.startswith("image/"):
        arr = M.decode_image(data)
        codec = kind.split("/")[1]
        metric = float(arr.astype("int64").sum(axis=2).mean())
    elif kind == "audio/wav":
        tag = struct.unpack_from("<H", data, 20)[0]
        codec = {1: "pcm16", 6: "alaw", 7: "mulaw", 0x11: "ima_adpcm"}[tag]
        s, _rate = M.decode_wav(data)
        x = s.astype("float64")
        metric = float(np.sqrt((x * x).mean()))
    elif kind == "text/html":
        from dataingestion_pt_ms_spark.operators.htmltext import extract_text

        codec = "html"
        metric = float(len(extract_text(data.decode("utf-8"))))
    elif kind == "application/pdf":
        from dataingestion_pt_ms_spark.operators.pdf import extract_pdf_text

        codec = "pdf"
        metric = float(len(extract_pdf_text(data)))
    else:
        codec, metric = "unknown", 0.0
    return (did, kind, codec, round(metric, 6))


_TRIAGE_OUT_SCHEMA = "doc_id long, media_kind string, codec string, metric double"


@register("multimodal_media_triage", oracle=MEDIA_TRIAGE_ORACLE)
def multimodal_media_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _TRI_PANEL)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(doc_id), bytearray(_triage_payload(int(doc_id))))
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    payloads = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")

    def triage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _triage_row(int(r["doc_id"]), bytes(r["media_bytes"]))
                for _, r in pdf.iterrows()
            ]
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_kind", "codec", "metric"]
            )

    triaged = payloads.mapInPandas(triage, _TRIAGE_OUT_SCHEMA)
    return (
        triaged.groupBy("media_kind", "codec")
        .agg(
            F.count("*").alias("n_payloads"),
            F.round(F.avg("metric"), 6).alias("avg_metric"),
        )
        .orderBy("media_kind", "codec")
    )


# --------------------------------------------------------------------------
# WARC → media triage (round 9, VERDICT r8 #5): real crawl archives carry
# MIXED payloads — HTML pages next to images, audio and PDFs. This row
# composes the two already-oracled stages into one crawl-to-curated-
# multimodal pipeline: pack THREE response records per panel doc (the
# id-free HTML page shell, the doc's % 7-keyed media payload, a
# synthesized PDF) into spec-shaped WARC segments executor-side (odd
# segments per-record-gzip), split them back out with the ISO-28500
# walker, content-sniff every payload (extensions don't exist inside a
# WARC), and route each kind through its decoder: images → mean
# channel-sum, audio → RMS, HTML → extracted n_chars, PDF → extracted
# n_chars. The oracle reuses the triage CTEs verbatim and adds html_m /
# pdf_m closed forms from the source columns — a container walk slip, a
# sniff miss, or any decoder regression changes a per-kind count or
# metric. Scale shape: one applyInPandas pack + one flatMap split + one
# mapInPandas triage + one hash rollup; one archive per task in flight,
# the driver never touches a container. Beyond-reference [NS]
# (multimodal + source families).
# --------------------------------------------------------------------------
from .llm_text import PDF_LINE_SQL as _PDF_LINE_SQL  # noqa: E402 — shared with the pdf row's oracle (ADVICE r9)

_WARC_TRIAGE_ORACLE = (
    _TRIAGE_CTES
    + f""", html_m AS (
  SELECT doc_id,
         CAST(length('corpus page' || chr(10) ||
              'AT&T <terms> "apply" A' || chr(10) ||
              trim(regexp_replace(text, ' +', ' ', 'g')) || chr(10) ||
              'footer links here') AS DOUBLE) AS metric
  FROM documents WHERE doc_id < {_TRI_PANEL}
), pdf_m AS (
  SELECT doc_id,
         CAST(length('Doc ' || doc_id || ' (A) \\ B' || chr(10) ||
              'Token ' || doc_id || chr(10) ||
              {{PDF_LINE}} || chr(10) ||
              'tail ' || doc_id || ' end') AS DOUBLE) AS metric
  FROM documents WHERE doc_id < {_TRI_PANEL}
), all_m AS ("""
    + _TRIAGE_ALL_M
    + """
  UNION ALL SELECT 'text/html', 'html', metric FROM html_m
  UNION ALL SELECT 'application/pdf', 'pdf', metric FROM pdf_m
)"""
    + _TRIAGE_FINAL
).replace("{PDF_LINE}", _PDF_LINE_SQL)


@register("pipeline_warc_media_triage", oracle=_WARC_TRIAGE_ORACLE)
def pipeline_warc_media_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..sources import archives as A

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _TRI_PANEL)
        .select("doc_id", "text")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataingestion_pt_ms_spark.operators import pdf as P
        from dataingestion_pt_ms_spark.queries.curation import _page_html

        pdf = pdf.sort_values("doc_id")
        aid = int(pdf["archive_id"].iloc[0])
        recs = [
            A.encode_warc_record(
                "warcinfo",
                b"software: dataingestion-pt-ms-spark\r\n",
                record_id=f"<urn:uuid:warcinfo-mm-{aid}>",
                content_type="application/warc-fields",
            )
        ]
        for _, r in pdf.iterrows():
            did = int(r["doc_id"])
            page = _page_html(r["text"]).encode("utf-8")
            media = _triage_payload(did)
            enc = P.encode_pdf_objstm if did % 3 == 0 else P.encode_pdf
            doc_pdf = enc(
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
            for path, body, ctype in (
                ("doc", page, "text/html"),
                ("media", media, "application/octet-stream"),
                ("pdf", doc_pdf, "application/pdf"),
            ):
                recs.append(
                    A.encode_warc_record(
                        "response",
                        A.encode_http_response(body),
                        target_uri=f"http://corpus.example/{path}/{did}",
                        record_id=f"<urn:uuid:mm-{path}-{did}>",
                        content_type="application/http; msgtype=response",
                    )
                )
        blob = A.encode_warc(recs, per_record_gzip=aid % 2 == 1)
        return pd.DataFrame(
            {"archive": [f"mixed-{aid}.warc"], "content": [bytearray(blob)]}
        )

    # pin the group exchange at cluster parallelism: the panel's text rows
    # are byte-cheap, so AQE's byte-based coalescing would serialize the
    # whole Python pack→split→decode chain (r10 opt, guide §2.4/§4)
    par = spark.sparkContext.defaultParallelism
    archives_df = (
        docs.withColumn("archive_id", F.floor(F.col("doc_id") / 16))
        .repartition(par, "archive_id")
        .groupBy("archive_id")
        .applyInPandas(build, "archive string, content binary")
    )
    records = A.split_warc_records(
        archives_df, content_col="content", path_col="archive"
    )
    payloads = records.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        "payload",
    )

    def triage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _triage_row(int(r["doc_id"]), bytes(r["payload"]))
                for _, r in pdf.iterrows()
            ]
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_kind", "codec", "metric"]
            )

    triaged = payloads.mapInPandas(triage, _TRIAGE_OUT_SCHEMA)
    return (
        triaged.groupBy("media_kind", "codec")
        .agg(
            F.count("*").alias("n_payloads"),
            F.round(F.avg("metric"), 6).alias("avg_metric"),
        )
        .orderBy("media_kind", "codec")
    )


# --------------------------------------------------------------------------
# WARC → triage, TABLE-SCALING form (round 10, VERDICT r9 #5): the
# panel row above proves per-codec VALUES over all nine kinds but its
# 140-doc panel never exercises the composed crawl head's WALL on the
# stress ladder. This row scales with the documents table — EVERY doc
# contributes three records (HTML page, synthesized PDF in a doc-keyed
# mix of 1.4/1.5 framings, PNG) packed into ~16-doc WARC segments (odd
# segments per-record-gzip), split back out, content-sniffed, decoded.
# Metrics are exact BIGINTs (extracted n_chars; PNG total channel sum)
# so the rollup hashes identically at any SF — no float summation-order
# hazard — and the (kind, doc_id % 10) grain means a single dropped or
# double-counted record anywhere breaks a sum. At 100 TB: archives per
# SF, one archive per task in flight, no driver containers; the rollup
# is a map-side-combinable hash agg. Beyond-reference [NS].
# --------------------------------------------------------------------------
_WARC_SCALED_ORACLE = f"""
WITH html_m AS (
  SELECT doc_id,
         CAST(length('corpus page' || chr(10) ||
              'AT&T <terms> "apply" A' || chr(10) ||
              trim(regexp_replace(text, ' +', ' ', 'g')) || chr(10) ||
              'footer links here') AS BIGINT) AS metric
  FROM documents
), pdf_m AS (
  SELECT doc_id,
         CAST(length('Doc ' || doc_id || ' (A) \\ B' || chr(10) ||
              'Token ' || doc_id || chr(10) ||
              {{PDF_LINE}} || chr(10) ||
              'tail ' || doc_id || ' end') AS BIGINT) AS metric
  FROM documents
), png_m AS (
  SELECT doc_id,
         SUM(CAST((doc_id * 29 + y * 5 + x * 11 + 0) % 256
                + (doc_id * 29 + y * 5 + x * 11 + 3) % 256
                + (doc_id * 29 + y * 5 + x * 11 + 6) % 256 AS BIGINT)) AS metric
  FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x)
  GROUP BY doc_id
), all_m AS (
  SELECT 'text/html' AS media_kind, 'html' AS codec, doc_id, metric FROM html_m
  UNION ALL SELECT 'application/pdf', 'pdf', doc_id, metric FROM pdf_m
  UNION ALL SELECT 'image/png', 'png', doc_id, metric FROM png_m
)
SELECT media_kind, codec, doc_id % 10 AS bucket,
       count(*) AS n_payloads, CAST(SUM(metric) AS BIGINT) AS total_metric
FROM all_m
GROUP BY media_kind, codec, bucket
ORDER BY media_kind, codec, bucket
""".replace("{PDF_LINE}", _PDF_LINE_SQL)


@register("pipeline_warc_triage_scaled", oracle=_WARC_SCALED_ORACLE)
def pipeline_warc_triage_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..sources import archives as A

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from dataingestion_pt_ms_spark.operators import pdf as P
        from dataingestion_pt_ms_spark.queries.curation import _page_html

        pdf = pdf.sort_values("doc_id")
        aid = int(pdf["archive_id"].iloc[0])
        recs = [
            A.encode_warc_record(
                "warcinfo",
                b"software: dataingestion-pt-ms-spark\r\n",
                record_id=f"<urn:uuid:warcinfo-sc-{aid}>",
                content_type="application/warc-fields",
            )
        ]
        y, x, c = np.meshgrid(
            np.arange(6), np.arange(9), np.arange(3), indexing="ij"
        )
        for _, r in pdf.iterrows():
            did = int(r["doc_id"])
            page = _page_html(r["text"]).encode("utf-8")
            enc = P.encode_pdf_objstm if did % 3 == 0 else P.encode_pdf
            doc_pdf = enc(
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
            png = M.encode_png(
                ((did * 29 + y * 5 + x * 11 + c * 3) % 256).astype("uint8")
            )
            for path, body, ctype in (
                ("doc", page, "text/html"),
                ("pdf", doc_pdf, "application/pdf"),
                ("png", png, "application/octet-stream"),
            ):
                # doc_id % 4 keys the HTTP wire form — identity, chunked
                # transfer-encoding, gzip content-encoding, both — so the
                # walker's capture-decoding is proven corpus-wide: the
                # oracle sees only entity-derived metrics, which survive
                # IFF dechunk/gunzip reconstruct the exact entity bytes
                recs.append(
                    A.encode_warc_record(
                        "response",
                        A.encode_http_response(
                            body,
                            content_type=ctype,
                            chunked=did % 4 in (1, 3),
                            gzip_body=did % 4 in (2, 3),
                        ),
                        target_uri=f"http://corpus.example/{path}/{did}",
                        record_id=f"<urn:uuid:sc-{path}-{did}>",
                        content_type="application/http; msgtype=response",
                    )
                )
        blob = A.encode_warc(recs, per_record_gzip=aid % 2 == 1)
        return pd.DataFrame(
            {"archive": [f"scaled-{aid}.warc"], "content": [bytearray(blob)]}
        )

    # pin the group exchange at cluster parallelism: ~16-doc archive
    # groups are ~10 kB of text each but cost real Python CPU (PDF 1.4/1.5
    # + PNG + gzip encode per doc, then decode on the way back) — AQE's
    # byte-based coalescing ran the whole chain in ONE task (stage probe:
    # 8.4 s serial, 0.6 s JVM CPU). Explicit numPartitions on the group
    # key is reused by groupBy and never coalesced; the downstream
    # mapInPandas split/triage stages inherit it (r10 opt, guide §2.4/§4).
    par = spark.sparkContext.defaultParallelism
    archives_df = (
        docs.withColumn("archive_id", F.floor(F.col("doc_id") / 16))
        .repartition(par, "archive_id")
        .groupBy("archive_id")
        .applyInPandas(build, "archive string, content binary")
    )
    records = A.split_warc_records(
        archives_df, content_col="content", path_col="archive"
    )
    payloads = records.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        "payload",
    )

    def triage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dataingestion_pt_ms_spark.operators.htmltext import extract_text
        from dataingestion_pt_ms_spark.operators.pdf import extract_pdf_text

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                did, data = int(r["doc_id"]), bytes(r["payload"])
                kind = M.sniff_media_kind(data)
                if kind == "image/png":
                    codec = "png"
                    metric = int(M.decode_image(data).astype("int64").sum())
                elif kind == "text/html":
                    codec = "html"
                    metric = len(extract_text(data.decode("utf-8")))
                elif kind == "application/pdf":
                    codec = "pdf"
                    metric = len(extract_pdf_text(data))
                else:  # a sniff miss lands in the rollup as its own row
                    codec, metric = "unknown", 0
                rows.append((did, kind, codec, metric))
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_kind", "codec", "metric"]
            )

    triaged = payloads.mapInPandas(
        triage, "doc_id long, media_kind string, codec string, metric long"
    )
    return (
        triaged.groupBy(
            "media_kind", "codec", (F.col("doc_id") % 10).alias("bucket")
        )
        .agg(
            F.count("*").alias("n_payloads"),
            F.sum("metric").alias("total_metric"),
        )
        .orderBy("media_kind", "codec", "bucket")
    )


# --------------------------------------------------------------------------
# Cross-format re-encode dedup (round 7 continuation): the real
# web-corpus scenario byte-level dedup cannot see — the SAME image
# stored once lossless (PNG) and once as a lossy JPEG re-encode. Each of
# 120 logical images becomes two payloads: PNG of a 64×64 grid of
# constant 8×8 blocks g(m,bi,bj) (Knuth-constant mixing, the
# image_phash_dedup lesson), and a quality-50 grayscale JPEG of the same
# pixels whose DECODED blocks are the closed form clip(2·floor((g−128)/2
# + 0.5)+128) — off by ≤1 gray level per block. The format-agnostic
# box-sum aHash over decode_image therefore puts every (png, jpeg) twin
# within hamming ≤ 2 while the closest cross-image pair sits at 3
# (verified in the prototype sweep and pinned by the oracle), and the
# pipeline is the standard banded LSH: 16-bit band candidates → hamming
# verify — never all-pairs. The oracle replays pixels, BOTH decoders'
# arithmetic, hash, bands and hamming entirely in SQL. Scale shape: at
# 10⁹ images this is the image twin of dedup_simhash_banded_pairs —
# O(images) band exchange, candidate-bounded verify.
# Beyond-reference [NS] (multimodal × dedup).
# --------------------------------------------------------------------------
_XF_PANEL = 120
_XF_JKEY = 1000  # jpeg twin key offset
_XF_MAXHAM = 2

_XF_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT key, {b} AS band_idx, (ahash >> {b * 16}) & 65535 AS chunk FROM ah"
    for b in range(4)
)

CROSS_FORMAT_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < {_XF_PANEL}
), blk AS (
  SELECT doc_id, bi, bj,
         ((doc_id % 256) * 31 + bi * 7 + bj * 3
          + ((doc_id % 256) + 1) * (bi * 8 + bj + 1) * 2654435761) % 256 AS g
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bi)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bj)
), vals AS (
  SELECT doc_id AS key, bi, bj, CAST(g AS BIGINT) AS val FROM blk
  UNION ALL
  SELECT doc_id + {_XF_JKEY} AS key, bi, bj,
         CAST(least(255, greatest(0,
              2 * floor((g - 128) / 2.0 + 0.5) + 128)) AS BIGINT) AS val
  FROM blk
), tot AS (
  SELECT key, SUM(val) AS total FROM vals GROUP BY key
), ah AS (
  SELECT vals.key,
         SUM(CASE WHEN bi * 8 + bj < 63 AND 64 * val > tot.total
                  THEN (1::BIGINT << (bi * 8 + bj)) ELSE 0 END) AS ahash
  FROM vals JOIN tot ON tot.key = vals.key
  GROUP BY vals.key
), banded AS (
  {_XF_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.key AS key_a, b.key AS key_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.chunk = b.chunk
              AND a.key < b.key
)
SELECT key_a, key_b,
       bit_count(xor(ha.ahash, hb.ahash)) AS hamming
FROM cand
JOIN ah ha ON ha.key = cand.key_a
JOIN ah hb ON hb.key = cand.key_b
WHERE bit_count(xor(ha.ahash, hb.ahash)) <= {_XF_MAXHAM}
ORDER BY key_a, key_b
"""


@register("multimodal_cross_format_dedup", oracle=CROSS_FORMAT_ORACLE)
def multimodal_cross_format_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _XF_PANEL)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dataingestion_pt_ms_spark.operators import jpeg as J

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                m = did % 256
                bi, bj = np.meshgrid(
                    np.arange(8, dtype="int64"), np.arange(8, dtype="int64"),
                    indexing="ij",
                )
                g = (
                    m * 31 + bi * 7 + bj * 3 + (m + 1) * (bi * 8 + bj + 1) * 2654435761
                ) % 256
                pixels = np.repeat(np.repeat(g, 8, axis=0), 8, axis=1).astype("uint8")
                png = M.encode_png(np.stack([pixels] * 3, axis=-1))
                jpg = J.encode_jpeg(pixels, quality=50)  # grayscale re-encode
                rows.append((did, bytearray(png)))
                rows.append((did + _XF_JKEY, bytearray(jpg)))
            yield pd.DataFrame(rows, columns=["key", "media_bytes"])

    payloads = docs.select("doc_id").mapInPandas(gen, "key long, media_bytes binary")
    ah = M.image_ahash64(payloads, key_col="key")
    ah = materialize(ah)  # banding + two verify joins
    banded = ah.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            F.shiftright(F.col("ahash"), b * 16)
                            .bitwiseAND(F.lit(65535))
                        ).alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("key", "bb.band_idx", "bb.chunk")
    cand = (
        banded.select(F.col("key").alias("key_a"), "band_idx", "chunk")
        .join(banded.select(F.col("key").alias("key_b"), "band_idx", "chunk"),
              ["band_idx", "chunk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    ham = F.bit_count(
        F.col("ha.ahash").bitwiseXOR(F.col("hb.ahash"))
    ).alias("hamming")
    return (
        cand.join(ah.alias("ha"), F.col("key_a") == F.col("ha.key"))
        .join(ah.alias("hb"), F.col("key_b") == F.col("hb.key"))
        .select("key_a", "key_b", ham)
        .filter(F.col("hamming") <= _XF_MAXHAM)
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# G.711 telephony-WAV round-trip with a FULL oracle (round 7
# continuation): μ-law/A-law companding is EXACT integer arithmetic, so
# unlike JPEG the whole lossy path has a closed form — both SQL formulas
# are verified against the numpy codecs over the ENTIRE int16 domain in
# tests/test_g711.py. Per doc the codec alternates (even → μ-law format
# tag 7, odd → A-law tag 6); the decode UDF emits per-sample rows and the
# error statistics are computed JVM-side (groupBy + codegen arithmetic,
# not inside Python), so the Spark plan exercises a real
# expand-then-aggregate shape. Any bug in companding, the WAV format-tag
# dispatch, or the chunk walk breaks rms/max_abs_err/mean_abs_err.
# Beyond-reference [NS] (multimodal audio family).
# --------------------------------------------------------------------------
_G711_N = 512

_MULAW_DEC = """
  CASE WHEN v < 0 THEN -1 ELSE 1 END * (
    ((((least(abs(v), 32635) + 132) // (1 << (mue + 3))) % 16) * 8 + 132)
    * (1 << mue) - 132)
"""

_ALAW_DEC = """
  8 * (CASE WHEN x13 < 0 THEN -amagp - 1 ELSE amagp END)
"""

G711_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), s AS (
  SELECT doc_id, i,
         CAST((doc_id * 13 + i * 7) % 64001 - 32000 AS BIGINT) AS v
  FROM ids CROSS JOIN (SELECT unnest(generate_series(0, {_G711_N - 1})) AS i)
), mu AS (
  SELECT doc_id, i, v,
         CASE WHEN least(abs(v), 32635) + 132 < 256 THEN 0
              WHEN least(abs(v), 32635) + 132 < 512 THEN 1
              WHEN least(abs(v), 32635) + 132 < 1024 THEN 2
              WHEN least(abs(v), 32635) + 132 < 2048 THEN 3
              WHEN least(abs(v), 32635) + 132 < 4096 THEN 4
              WHEN least(abs(v), 32635) + 132 < 8192 THEN 5
              WHEN least(abs(v), 32635) + 132 < 16384 THEN 6
              ELSE 7 END AS mue,
         CAST(floor(v / 8.0) AS BIGINT) AS x13
  FROM s
), al AS (
  SELECT *,
         CASE WHEN x13 < 0 THEN -x13 - 1 ELSE x13 END AS amag
  FROM mu
), al2 AS (
  SELECT *,
         CASE WHEN amag < 32 THEN 0 WHEN amag < 64 THEN 1
              WHEN amag < 128 THEN 2 WHEN amag < 256 THEN 3
              WHEN amag < 512 THEN 4 WHEN amag < 1024 THEN 5
              WHEN amag < 2048 THEN 6 ELSE 7 END AS ae
  FROM al
), al3 AS (
  SELECT *,
         CASE WHEN ae < 2 THEN (amag // 2) % 16
              ELSE (amag // (1 << ae)) % 16 END AS alow
  FROM al2
), al4 AS (
  SELECT *,
         CASE WHEN ae = 0 THEN 2 * alow + 1
              ELSE (2 * alow + 33) * (1 << (ae - 1)) END AS amagp
  FROM al3
), dec AS (
  SELECT doc_id, i, v,
         CASE WHEN doc_id % 2 = 0 THEN {_MULAW_DEC} ELSE {_ALAW_DEC} END AS d
  FROM al4
)
SELECT doc_id,
       count(*) AS n_samples,
       CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS codec,
       round(sqrt(avg(CAST(d * d AS DOUBLE))), 6) AS rms_decoded,
       max(abs(d - v)) AS max_abs_err,
       round(avg(CAST(abs(d - v) AS DOUBLE)), 6) AS mean_abs_err
FROM dec
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_g711_roundtrip", oracle=G711_ORACLE)
def multimodal_g711_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                i = np.arange(_G711_N)
                s = ((did * 13 + i * 7) % 64001 - 32000).astype("<i2")
                codec = "mulaw" if did % 2 == 0 else "alaw"
                rows.append((did, bytearray(M.encode_wav(s, 8000, codec))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                samples, _rate = M.decode_wav(bytes(r["media_bytes"]))
                did = int(r["doc_id"])
                for i, d in enumerate(samples.astype("int64")):
                    out.append((did, i, int(d)))
            yield pd.DataFrame(out, columns=["doc_id", "i", "d"])

    wavs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    rows = wavs.mapInPandas(dec, "doc_id long, i long, d long")
    # original sample value recomputed JVM-side; all stats in codegen
    v = (F.col("doc_id") * 13 + F.col("i") * 7) % 64001 - 32000
    err = F.abs(F.col("d") - v)
    return (
        rows.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_samples"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("mulaw"))
            .otherwise(F.lit("alaw"))
            .alias("codec"),
            F.round(F.sqrt(F.avg(F.col("d").cast("double") * F.col("d"))), 6).alias(
                "rms_decoded"
            ),
            F.max(err).alias("max_abs_err"),
            F.round(F.avg(err.cast("double")), 6).alias("mean_abs_err"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# IMA-ADPCM round-trip with a FULL oracle (round 7 continuation): the
# STATEFUL audio codec — μ-law maps samples independently, ADPCM carries
# a (predictor, step-index) state across every sample, so the oracle
# cannot be a per-row closed form: it is a RECURSIVE CTE that replays the
# entire integer state machine (encode quantization AND decode
# reconstruction share the predictor by construction) against the public
# IMA step/index tables, 256 steps deep per doc. DuckDB's lateral column
# aliases keep the bit logic readable. The Spark side decodes real WAV
# format-tag-0x11 payloads (4-byte block header + packed nibbles) via the
# chunk walker and aggregates error stats JVM-side. Demonstrates that
# even sequential-by-spec decoders stay under full value oracles.
# Beyond-reference [NS] (multimodal audio family).
# --------------------------------------------------------------------------
_ADPCM_N = 256

ADPCM_ORACLE = f"""
WITH RECURSIVE ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), st AS (
  SELECT generate_subscripts(a, 1) - 1 AS sidx, unnest(a) AS step
  FROM (SELECT {_IMA_STEPS}::BIGINT[] AS a)
), rec AS (
  SELECT doc_id, 0 AS i,
         CAST((doc_id * 13) % 64001 - 32000 AS BIGINT) AS pred,
         0 AS idx
  FROM ids
  UNION ALL
  SELECT doc_id, i,
         least(32767, greatest(-32768,
           CASE WHEN diff < 0 THEN pred - delta ELSE pred + delta END)),
         least(88, greatest(0, idx +
           CASE b4 * 4 + b2 * 2 + b1
                WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
                ELSE -1 END))
  FROM (
    -- lateral column aliases: each line may use the ones above it
    SELECT r.doc_id, r.i + 1 AS i, r.pred, r.idx, s.step,
           CAST((r.doc_id * 13 + (r.i + 1) * 7) % 64001 - 32000 AS BIGINT)
             - r.pred AS diff,
           abs(diff) AS ad,
           CASE WHEN ad >= step THEN 1 ELSE 0 END AS b4,
           CASE WHEN ad - b4 * step >= step // 2 THEN 1 ELSE 0 END AS b2,
           CASE WHEN ad - b4 * step - b2 * (step // 2) >= step // 4
                THEN 1 ELSE 0 END AS b1,
           step // 8 + b4 * step + b2 * (step // 2) + b1 * (step // 4) AS delta
    FROM rec r JOIN st s ON s.sidx = r.idx
    WHERE r.i + 1 < {_ADPCM_N}
  ) q
), dec AS (
  SELECT r.doc_id, r.i,
         CAST((r.doc_id * 13 + r.i * 7) % 64001 - 32000 AS BIGINT) AS v,
         r.pred AS d
  FROM rec r
)
SELECT doc_id,
       count(*) AS n_samples,
       round(sqrt(avg(CAST(d * d AS DOUBLE))), 6) AS rms_decoded,
       max(abs(d - v)) AS max_abs_err,
       round(avg(CAST(abs(d - v) AS DOUBLE)), 6) AS mean_abs_err
FROM dec
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_adpcm_roundtrip", oracle=ADPCM_ORACLE)
def multimodal_adpcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                i = np.arange(_ADPCM_N)
                s = ((did * 13 + i * 7) % 64001 - 32000).astype("<i2")
                rows.append((did, bytearray(M.encode_wav(s, 8000, "ima_adpcm"))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                samples, _rate = M.decode_wav(bytes(r["media_bytes"]))
                did = int(r["doc_id"])
                for i, d in enumerate(samples.astype("int64")):
                    out.append((did, i, int(d)))
            yield pd.DataFrame(out, columns=["doc_id", "i", "d"])

    wavs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    rows = wavs.mapInPandas(dec, "doc_id long, i long, d long")
    v = (F.col("doc_id") * 13 + F.col("i") * 7) % 64001 - 32000
    err = F.abs(F.col("d") - v)
    return (
        rows.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_samples"),
            F.round(F.sqrt(F.avg(F.col("d").cast("double") * F.col("d"))), 6).alias(
                "rms_decoded"
            ),
            F.max(err).alias("max_abs_err"),
            F.round(F.avg(err.cast("double")), 6).alias("mean_abs_err"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Mutual-kNN pair mining (reciprocal nearest neighbours): keep (a, b) only
# when b is in a's top-k AND a is in b's top-k. The standard consistency
# filter for bitext / paraphrase mining (Artetxe & Schwenk's margin
# criterion uses the same reciprocal structure): unilateral neighbours are
# usually hubs, mutual ones are usually translations/duplicates. Scale
# shape: the kNN lists come from the per-cell GEMM top-k (pair space
# Σ|cell|², k-bounded output), and the reciprocity check is an equi-join of
# the k·n edge list with itself on the reversed key — never a re-scan of
# the embedding matrix. Orientation collapsed to vec_a < vec_b.
# --------------------------------------------------------------------------

MUTUAL_KNN_ORACLE = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nb, a.label AS label,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cosine_sim
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, nb, label, cosine_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine_sim DESC, nb) AS rnk
  FROM pairs
), knn AS (
  SELECT vec_id, nb, label, cosine_sim, rnk FROM ranked WHERE rnk <= 3
)
SELECT f.vec_id AS vec_a, f.nb AS vec_b, f.label,
       f.cosine_sim, f.rnk AS rnk_ab, r.rnk AS rnk_ba
FROM knn f
JOIN knn r ON r.vec_id = f.nb AND r.nb = f.vec_id
WHERE f.vec_id < f.nb
ORDER BY f.vec_id, f.nb
"""


@register("sim_mutual_knn_pairs", oracle=MUTUAL_KNN_ORACLE)
def sim_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import blocked_knn

    emb = load_table(spark, sf_dir, "embeddings")
    # r11 opt (guide §1.2 #1): the kNN table feeds both join sides of the
    # mutuality check — materialize the (n·k)-row result so the blocked
    # GEMM pipeline runs once, not twice
    knn = materialize(
        blocked_knn(emb, k=_KNN_K).select(
            "vec_id", "nb", "label", "cosine_sim", F.col("rnk").cast("int").alias("rnk")
        )
    )
    fwd = knn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("nb").alias("vec_b"),
        "label",
        "cosine_sim",
        F.col("rnk").alias("rnk_ab"),
    )
    rev = knn.select(
        F.col("nb").alias("vec_a"),
        F.col("vec_id").alias("vec_b"),
        F.col("rnk").alias("rnk_ba"),
    )
    return (
        fwd.join(rev, ["vec_a", "vec_b"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label", "cosine_sim", "rnk_ab", "rnk_ba")
        .orderBy("vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# Image near-dup via perceptual hash over REAL decoded pixels (round 4):
# the image-side analogue of the SimHash text pipeline, end to end in
# container. 8×8 arithmetic images — pixel(y,x,c) = (31·m + 7y + 3x + c
# + (m+1)·(8y+x+1)·2654435761) mod 256 with m = id mod 256; the Knuth-
# constant mixing term decorrelates distinct ids (a plain linear grid
# gave stripe patterns where HALF of all pairs landed within hamming 6 —
# the posting-geometry lesson again, in pixels) — serialized to actual
# BMP bytes, decoded back by the pure-struct parser, and fingerprinted
# with an ALL-INTEGER aHash (bit = 64·gray > Σgray — engine-exact, no
# float threshold). The grid depends on id only through m, so ids 256
# apart are planted identical images — the query must find exactly those (plus any
# near-miss) via 16-bit band candidates + hamming ≤ 6 verify, never an
# all-pairs scan. Oracle recomputes pixels, hash, bands, and hamming from
# the arithmetic alone: a decode bug anywhere breaks the value hash.
# --------------------------------------------------------------------------
_AHASH_H, _AHASH_W = 8, 8
_AHASH_PANEL = 520
_AHASH_MAXHAM = 6

_AHASH_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, (ahash >> {b * 16}) & 65535 AS chunk FROM ah"
    for b in range(4)
)

IMAGE_PHASH_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < {_AHASH_PANEL}
), px AS (
  SELECT doc_id, y, x,
         CAST(((doc_id % 256) * 31 + y * 7 + x * 3 + 0
               + ((doc_id % 256 + 1) * (y * 8 + x + 1) * 2654435761)) % 256
            + ((doc_id % 256) * 31 + y * 7 + x * 3 + 1
               + ((doc_id % 256 + 1) * (y * 8 + x + 1) * 2654435761)) % 256
            + ((doc_id % 256) * 31 + y * 7 + x * 3 + 2
               + ((doc_id % 256 + 1) * (y * 8 + x + 1) * 2654435761)) % 256
            AS BIGINT) AS gray
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_AHASH_H - 1})) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, {_AHASH_W - 1})) AS x)
), tot AS (
  SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id
), ah AS (
  SELECT px.doc_id,
         SUM(CASE WHEN y * {_AHASH_W} + x < 63 AND 64 * gray > tot.total
                  THEN (1::BIGINT << (y * {_AHASH_W} + x)) ELSE 0 END) AS ahash
  FROM px JOIN tot ON tot.doc_id = px.doc_id
  GROUP BY px.doc_id
), banded AS (
  {_AHASH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.chunk = b.chunk
              AND a.doc_id < b.doc_id
)
SELECT key_a, key_b,
       bit_count(xor(ha.ahash, hb.ahash)) AS hamming
FROM cand
JOIN ah ha ON ha.doc_id = cand.key_a
JOIN ah hb ON hb.doc_id = cand.key_b
WHERE bit_count(xor(ha.ahash, hb.ahash)) <= {_AHASH_MAXHAM}
ORDER BY key_a, key_b
"""


@register("multimodal_image_phash_dedup", oracle=IMAGE_PHASH_ORACLE)
def multimodal_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _AHASH_PANEL
    )

    def gen(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                y, x, ch = np.meshgrid(
                    np.arange(_AHASH_H, dtype="int64"),
                    np.arange(_AHASH_W, dtype="int64"),
                    np.arange(3, dtype="int64"),
                    indexing="ij",
                )
                m = int(doc_id) % 256
                arr = (
                    (m * 31 + y * 7 + x * 3 + ch
                     + (m + 1) * (y * 8 + x + 1) * 2654435761) % 256
                ).astype("uint8")
                rows.append((int(doc_id), bytearray(M.encode_bmp(arr))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    bmps = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    ah = M.bmp_ahash64(bmps)
    ah = materialize(ah)  # banding + two verify joins
    banded = ah.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            F.shiftright(F.col("ahash"), b * 16)
                            .bitwiseAND(F.lit(65535))
                        ).alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_idx", "bb.chunk")
    a = banded.select(
        F.col("doc_id").alias("key_a"), "band_idx", "chunk"
    )
    b = banded.select(
        F.col("doc_id").alias("key_b"), "band_idx", "chunk"
    )
    cand = (
        a.join(b, ["band_idx", "chunk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    ha = ah.select(F.col("doc_id").alias("key_a"), F.col("ahash").alias("h_a"))
    hb = ah.select(F.col("doc_id").alias("key_b"), F.col("ahash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.join(ha, "key_a")
        .join(hb, "key_b")
        .select("key_a", "key_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= _AHASH_MAXHAM)
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic deduplication = cluster the
# embedding space, then drop near-identical neighbours WITHIN each
# cluster — the published recipe for pruning web-scale pretraining
# corpora beyond lexical dedup (MinHash catches copies; this catches
# re-phrasings that embed together). Blocking = the engine's own
# deterministic 2-round Lloyd clustering (so the oracle replays it
# exactly); within-cluster pairs come from the sanctioned per-block numpy
# GEMM (Σ|cluster|², never n²); the survivor rule is SemDeDup's keep-one:
# a vector is dropped iff a LOWER-id τ-neighbour shares its cluster, and
# reports its smallest kept neighbour. τ = 0.35 on the synthetic space
# (the fixture's embedding near-dup threshold; 0.99+ on real text
# embeddings).
# --------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.35

SEMDEDUP_ORACLE = f"""
WITH assign AS ({KMEANS_ORACLE}
), pairs AS (
  SELECT a.vec_id AS key_a, b.vec_id AS key_b, ca.cluster,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a
  JOIN assign ca ON ca.vec_id = a.vec_id
  JOIN assign cb ON cb.cluster = ca.cluster
  JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 6)
        >= {_SEMDEDUP_TAU}
)
SELECT key_b AS vec_id, cluster, key_a AS kept_neighbor, cos
FROM (
  SELECT key_a, key_b, cluster, cos,
         row_number() OVER (PARTITION BY key_b ORDER BY key_a) AS rn
  FROM pairs
) WHERE rn = 1
ORDER BY vec_id
"""


@register("dedup_semdedup_clusters", oracle=SEMDEDUP_ORACLE)
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd
    from ..operators.similarity import blocked_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(emb, "embedding", "vec_id", k=4, iters=2).select(
        "vec_id", "cluster"
    )
    from pyspark.sql import Window as _W

    corpus = emb.join(assign, "vec_id")
    pairs = blocked_cosine_pairs(
        corpus, threshold=_SEMDEDUP_TAU, block_col="cluster"
    )
    w = _W.partitionBy("key_b").orderBy("key_a")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("key_b").alias("vec_id"),
            F.col("label").alias("cluster"),
            F.col("key_a").alias("kept_neighbor"),
            F.col("cosine_sim").alias("cos"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Audio spectral features over REAL decoded samples (round 4): extends
# the WAV triage stats (RMS/ZCR) with an actual spectrum — 16 DFT bins
# computed as explicit Σ s·cos / Σ s·sin sums over the decoded PCM16
# stream (NOT an FFT: the oracle replays the identical product sums from
# the arithmetic sample formula, and butterfly rounding would diverge),
# reduced to spectral centroid + dominant bin. Output roundings are
# scale-aware: the centroid lives in [1, 16] (6 dp safe), magnitudes are
# ~1e5 (2 dp — far above the ~1e-9 cross-engine summation noise).
# --------------------------------------------------------------------------

WAV_SPECTRAL_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 100
), s AS (
  SELECT doc_id, i,
         CAST((doc_id * 13 + i * 7) % 2001 - 1000 AS DOUBLE) AS x
  FROM ids CROSS JOIN (SELECT unnest(generate_series(0, {_WAV_N - 1})) AS i)
), bins AS (
  SELECT doc_id, k,
         SUM(x * cos(2.0 * pi() * k * i / {_WAV_N})) AS re,
         SUM(x * sin(2.0 * pi() * k * i / {_WAV_N})) AS im
  FROM s CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS k)
  GROUP BY doc_id, k
), mags AS (
  SELECT doc_id, k, sqrt(re * re + im * im) AS mag FROM bins
), agg AS (
  SELECT doc_id,
         SUM(k * mag) / SUM(mag) AS centroid
  FROM mags GROUP BY doc_id
), dom AS (
  SELECT doc_id, k AS dominant_bin, mag,
         row_number() OVER (PARTITION BY doc_id ORDER BY mag DESC, k) AS rn
  FROM mags
)
SELECT agg.doc_id, {_WAV_N} AS n_samples,
       round(agg.centroid, 6) AS spectral_centroid,
       CAST(dom.dominant_bin AS INTEGER) AS dominant_bin,
       round(dom.mag, 2) AS dominant_mag
FROM agg JOIN dom ON dom.doc_id = agg.doc_id AND dom.rn = 1
ORDER BY agg.doc_id
"""


@register("multimodal_wav_spectral", oracle=WAV_SPECTRAL_ORACLE)
def multimodal_wav_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def gen(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = np.arange(_WAV_N)
                s = ((int(doc_id) * 13 + i * 7) % 2001 - 1000).astype("<i2")
                rows.append((int(doc_id), bytearray(M.encode_wav(s, _WAV_RATE))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_bytes"])

    wavs = docs.select("doc_id").mapInPandas(gen, "doc_id long, media_bytes binary")
    feats = M.wav_spectral_features(wavs)
    return feats.select(
        "doc_id",
        "n_samples",
        F.round("spectral_centroid", 6).alias("spectral_centroid"),
        "dominant_bin",
        F.round("dominant_mag", 2).alias("dominant_mag"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Embedding isotropy audit (Mu & Viswanath 2018 / IsoScore lineage):
# anisotropic embedding spaces — a dominant mean direction, a few
# high-variance axes — silently break cosine-based retrieval and dedup
# thresholds. Three one-pass diagnostics: (1) ‖mean vector‖ / mean ‖v‖
# (≈0 when centered), (2) dimension-variance concentration = max var_d /
# Σ var_d (= 1/d when isotropic), (3) mean pairwise cosine on the linear
# (v, v+1) panel (≈0 when isotropic). All from ONE dims aggregation +
# the existing panel join — no covariance eigendecomposition needed for
# a go/no-go audit (emb_covariance_matrix / PCA carry the full account).
# --------------------------------------------------------------------------

ISOTROPY_ORACLE = """
WITH dims AS (
  SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
), dstats AS (
  SELECT d, avg(x) AS mu, var_samp(x) AS v FROM dims GROUP BY d
), mean_norm AS (
  SELECT sqrt(sum(mu * mu)) AS mnorm, max(v) / sum(v) AS var_conc,
         count(*) AS n_dims
  FROM dstats
), vnorms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM dims GROUP BY vec_id
), avg_norm AS (
  SELECT avg(nrm) AS anorm FROM vnorms
), pairs AS (
  SELECT round(avg(round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)), 6)
           AS mean_pair_cos
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT CAST(n_dims AS BIGINT) AS n_dims,
       round(mnorm / anorm, 6) AS mean_to_norm_ratio,
       round(var_conc, 6) AS var_concentration,
       mean_pair_cos
FROM mean_norm CROSS JOIN avg_norm CROSS JOIN pairs
"""


@register("emb_isotropy_audit", oracle=ISOTROPY_ORACLE)
def emb_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
    )
    dstats = dims.groupBy("d").agg(
        F.avg("x").alias("mu"), F.var_samp("x").alias("v")
    )
    mean_norm = dstats.agg(
        F.sqrt(F.sum(F.col("mu") * F.col("mu"))).alias("mnorm"),
        (F.max("v") / F.sum("v")).alias("var_conc"),
        F.count(F.lit(1)).cast("long").alias("n_dims"),
    )
    avg_norm = (
        dims.groupBy("vec_id")
        .agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
        .agg(F.avg("nrm").alias("anorm"))
    )
    a = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = (
        a.join(b, "vec_id")
        .agg(
            F.round(
                F.avg(F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)), 6
            ).alias("mean_pair_cos")
        )
    )
    return (
        mean_norm.crossJoin(F.broadcast(avg_norm))
        .crossJoin(F.broadcast(pairs))
        .select(
            "n_dims",
            F.round(F.col("mnorm") / F.col("anorm"), 6).alias("mean_to_norm_ratio"),
            F.round("var_conc", 6).alias("var_concentration"),
            "mean_pair_cos",
        )
    )


# --------------------------------------------------------------------------
# Video shot-boundary detection over REAL decoded frames (round 4): the
# video-curation primitive beyond frame SAMPLING (multimodal_frame_sample
# slices bytes; this decodes pixels and finds scene cuts). Each doc gets
# a 12-frame synthetic clip — 3 "shots" of 4 frames; within a shot,
# consecutive frames differ by a +1 luminance jitter, across shots the
# pattern jumps by 89·(pixel-mix) — every frame serialized to an actual
# BMP and decoded back by the struct parser. Boundary metric: mean
# absolute gray difference between consecutive decoded frames — INTEGER
# pixel sums, so both engines agree exactly; a cut is mad > 30. The
# pytest asserts the planted cuts (frames 4 and 8) are found for every
# doc and nothing else fires.
# --------------------------------------------------------------------------
_VID_FRAMES, _VID_SHOT_LEN, _VID_PANEL = 12, 4, 50

VIDEO_SHOTS_ORACLE = f"""
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < {_VID_PANEL}
), grid AS (
  SELECT doc_id, f, y, x,
         CAST(((doc_id % 256) * 31 + y * 7 + x * 3 + 0
               + ((doc_id % 256 + 1) * (y * 8 + x + 1) * 2654435761)
               + (f // {_VID_SHOT_LEN}) * 89 * (y * 8 + x + 1) + f) % 256
            + ((doc_id % 256) * 31 + y * 7 + x * 3 + 1
               + ((doc_id % 256 + 1) * (y * 8 + x + 1) * 2654435761)
               + (f // {_VID_SHOT_LEN}) * 89 * (y * 8 + x + 1) + f) % 256
            + ((doc_id % 256) * 31 + y * 7 + x * 3 + 2
               + ((doc_id % 256 + 1) * (y * 8 + x + 1) * 2654435761)
               + (f // {_VID_SHOT_LEN}) * 89 * (y * 8 + x + 1) + f) % 256
            AS BIGINT) AS gray
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, {_VID_FRAMES - 1})) AS f)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x)
), diffs AS (
  SELECT a.doc_id, b.f AS frame_idx,
         SUM(abs(b.gray - a.gray)) AS sad
  FROM grid a
  JOIN grid b ON b.doc_id = a.doc_id AND b.f = a.f + 1
             AND b.y = a.y AND b.x = a.x
  GROUP BY a.doc_id, b.f
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       round(sad / 64.0, 6) AS mean_abs_diff,
       CASE WHEN sad / 64.0 > 30.0 THEN 1 ELSE 0 END AS is_shot_boundary
FROM diffs
ORDER BY doc_id, frame_idx
"""


@register("multimodal_video_shot_boundaries", oracle=VIDEO_SHOTS_ORACLE)
def multimodal_video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _VID_PANEL)

    def gen(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                m = int(doc_id) % 256
                y, x, ch = np.meshgrid(
                    np.arange(8, dtype="int64"),
                    np.arange(8, dtype="int64"),
                    np.arange(3, dtype="int64"),
                    indexing="ij",
                )
                for f in range(_VID_FRAMES):
                    arr = (
                        (m * 31 + y * 7 + x * 3 + ch
                         + (m + 1) * (y * 8 + x + 1) * 2654435761
                         + (f // _VID_SHOT_LEN) * 89 * (y * 8 + x + 1) + f) % 256
                    ).astype("uint8")
                    rows.append((int(doc_id), f, bytearray(M.encode_bmp(arr))))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "media_bytes"])

    frames = docs.select("doc_id").mapInPandas(
        gen, "doc_id long, frame_idx int, media_bytes binary"
    )

    def grayify(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = M.decode_bmp(bytes(r["media_bytes"]))
                gray = arr.astype("int64").sum(axis=2).ravel()
                rows.append((r["doc_id"], r["frame_idx"], gray.tolist()))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "gray"])

    grays = frames.mapInPandas(grayify, "doc_id long, frame_idx int, gray array<long>")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("frame_idx")
    with_prev = grays.withColumn("prev", F.lag("gray").over(w)).filter(
        F.col("prev").isNotNull()
    )
    sad = F.aggregate(
        F.zip_with("gray", "prev", lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return with_prev.select(
        "doc_id",
        "frame_idx",
        F.round(sad / 64.0, 6).alias("mean_abs_diff"),
        F.when(sad / 64.0 > 30.0, 1).otherwise(0).alias("is_shot_boundary"),
    ).orderBy("doc_id", "frame_idx")
