"""Similarity search over embedding columns (SURVEY.md §2.B).

- brute-force cosine top-k (the correctness baseline; block-partitioned scan,
  ends in TakeOrderedAndProject — no full sort);
- random-hyperplane LSH bucketing (the scale path: candidates come from one
  bucket instead of the whole corpus);
- label-blocked nearest neighbor (IVF-style: a coarse partitioner bounds the
  pair space — here the ``label`` column stands in for a learned coarse
  quantizer's cell assignment).

All vector math uses higher-order functions in double precision
(functions/vectors.py) — JVM-side, no UDFs, deterministic fold order.
Ranking ties are broken on (rounded score, key) so results are stable across
engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm
from ..session import materialize


def _dvec(col_name: str = "embedding"):
    return F.col(col_name).cast("array<double>")


def _unit_rows(vecs):
    """Row-normalize a 2-D float array with the zero-norm guard (ADVICE r6):
    a zero vector keeps cosine 0 against everything instead of producing
    NaN — Spark sorts NaN as the LARGEST double, so an unguarded NaN would
    win the tiled operators' cross-tile window merge while numpy's lexsort
    ranks it last, making tiling output-visible for zero-norm inputs. Same
    guard as ``bipartite_margin_pairs``."""
    import numpy as np

    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs / np.where(norms == 0.0, 1.0, norms)


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of ``corpus`` against a 1-row ``query``.

    The query side is broadcast (one row); the corpus is scanned once with
    the score computed in-line, then TakeOrderedAndProject keeps k rows per
    partition before the final merge — no global sort materializes.
    """
    q = F.broadcast(
        query.select(F.col(vec_col).cast("array<double>").alias("_qvec"))
    )
    scored = corpus.crossJoin(q).select(
        key_col,
        F.round(cosine_similarity(_dvec(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), key_col).limit(k)


def hyperplane_signs(vec, planes: list[list[float]]):
    """Bucket id from the sign pattern of dot(vec, plane_j): bit j set iff
    the dot is positive. Planes are literal arrays → pure expression."""
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(dot(vec, p) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def make_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from integer hashing (no RNG
    state — reproducible in any engine, embeddable as SQL literals)."""
    return [
        [(((j * 73_856_093 + k * 19_349_663 + 83) % 2001) - 1000) / 1000.0 for k in range(dim)]
        for j in range(n_planes)
    ]


def ann_lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: exact top-k *within the query's LSH bucket*.

    At scale the bucket column is what you partition/cluster by, so a query
    touches one partition instead of the corpus. Returns the bucket id so
    recall vs brute force is inspectable.
    """
    bucketed = corpus.withColumn("bucket", hyperplane_signs(_dvec(vec_col), planes))
    qb = F.broadcast(
        query.select(
            F.col(vec_col).cast("array<double>").alias("_qvec"),
        ).withColumn("q_bucket", hyperplane_signs(F.col("_qvec"), planes))
    )
    return (
        bucketed.join(qb, F.col("bucket") == F.col("q_bucket"))
        .select(
            key_col,
            "bucket",
            F.round(cosine_similarity(_dvec(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), key_col)
        .limit(k)
    )


def label_centroids(corpus: DataFrame, block_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-block mean vector (the coarse quantizer codebook of an IVF index;
    here the ``label`` column is the cell assignment). posexplode →
    per-position avg → reassembled ordered array: one narrow shuffle of
    (block, pos) pairs, codegen'd aggregation."""
    exploded = corpus.select(
        F.col(block_col).alias("blk"),
        F.posexplode(_dvec(vec_col)).alias("pos", "val"),
    )
    per_pos = exploded.groupBy("blk", "pos").agg(F.avg("val").alias("avg_val"))
    return per_pos.groupBy("blk").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "avg_val"))),
            lambda s: s.avg_val,
        ).alias("centroid")
    )


def ann_ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 5,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: score the query against the per-block centroids, pick
    the ``nprobe`` nearest cells, exact top-k inside those cells only.

    At scale the corpus is clustered/partitioned by cell id, so the probe
    reads ``nprobe`` cells' partitions instead of the corpus. nprobe > 1 is
    the standard recall knob: a query landing near a cell boundary misses
    true neighbors in the adjacent cell at nprobe=1; probing the next-best
    cells recovers them for a linear (not corpus-sized) extra read. The
    probe set arrives as a broadcast semi-join on the cell id, so the scan
    stays partition-pruned.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    q = F.broadcast(query.select(_dvec(vec_col).alias("_qvec")))
    best = (
        label_centroids(corpus, block_col, vec_col)
        .crossJoin(q)
        .select(
            "blk",
            F.round(cosine_similarity(F.col("centroid"), F.col("_qvec")), 6).alias("c_sim"),
        )
        .orderBy(F.col("c_sim").desc(), "blk")
        .limit(nprobe)
        .select(F.col("blk").alias("best_blk"))
    )
    return (
        corpus.join(F.broadcast(best), F.col(block_col) == F.col("best_blk"))
        .crossJoin(q)
        .select(
            key_col,
            F.col(block_col).alias("label"),
            F.round(cosine_similarity(_dvec(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), key_col)
        .limit(k)
    )


def centroid_distance_outliers(
    corpus: DataFrame,
    k: int = 20,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-space outlier pruning: the k vectors FARTHEST (lowest
    cosine) from their own block's centroid — the standard "drop
    embedding outliers before training" curation gate (cluster-then-prune).

    Shape: one narrow (block, pos) shuffle for centroids, then the
    centroids broadcast back onto the corpus scan — cost is one corpus
    pass regardless of block count, and the final global top-k is
    TakeOrderedAndProject, never a full sort.
    """
    cents = F.broadcast(
        label_centroids(corpus, block_col, vec_col).select(
            F.col("blk"), F.col("centroid")
        )
    )
    return (
        corpus.join(cents, corpus[block_col] == cents["blk"])
        .select(
            key_col,
            F.col(block_col).alias("label"),
            F.round(cosine_similarity(_dvec(vec_col), F.col("centroid")), 6).alias(
                "centroid_sim"
            ),
        )
        .orderBy(F.col("centroid_sim").asc(), key_col)
        .limit(k)
    )


def blocked_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    block_col: str = "label",
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (a, b) with a < b in the
    same block whose cosine similarity clears ``threshold``.

    Same IVF-cell blocking as :func:`blocked_nearest_neighbor` — the pair
    space is Σ|block|², never n², and the pairwise math is numpy GEMM over
    Arrow batches (the sanctioned Pandas-UDF case: O(|block|²·d) float math
    loses badly to interpreted array expressions).

    Within a block the work is TILED (round 6, found by the 100× stress
    ladder): vectors hash into ⌈|block|/tile_rows⌉ tiles and each unordered
    tile pair (lo ≤ hi) is one applyInPandas group — the diagonal group
    emits its within-tile upper-triangle pairs, off-diagonal groups emit
    cross-tile pairs, so every (a, b) pair surfaces exactly once and no
    task ever materializes more than a tile_rows² similarity matrix. The
    pre-tile shape (one group = one block = one n² matrix in one task)
    OOMed the moment a block grew with the corpus: cells are only as
    bounded as the quantizer that made them, and a skewed or data-sized
    cell must degrade into more tasks, not into a bigger task. Blocks at
    or below tile_rows keep a single diagonal group, so small-block plans
    and outputs are unchanged.
    """
    import numpy as np
    import pandas as pd

    _empty = pd.DataFrame(
        columns=["key_a", "key_b", "label", "cosine_sim"]
    ).astype({"key_a": "int64", "key_b": "int64",
              "label": "int64", "cosine_sim": "float64"})

    def _unit(pdf: pd.DataFrame) -> "np.ndarray":
        vecs = np.stack(pdf["_v"].to_numpy()).astype("float64")
        return _unit_rows(vecs)

    def tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["_lo"].iat[0]), int(pdf["_hi"].iat[0])
        label = pdf[block_col].to_numpy()
        if lo == hi:  # diagonal: within-tile upper triangle
            n = len(pdf)
            if n < 2:
                return _empty
            order = np.argsort(pdf[key_col].to_numpy())
            ids = pdf[key_col].to_numpy()[order]
            sims = np.round(_unit(pdf)[order] @ _unit(pdf)[order].T, 6)
            ia, ib = np.triu_indices(n, k=1)
            keep = sims[ia, ib] >= threshold
            if not keep.any():
                return _empty
            return pd.DataFrame(
                {
                    "key_a": ids[ia[keep]],
                    "key_b": ids[ib[keep]],
                    "label": label[order][ia[keep]],
                    "cosine_sim": sims[ia[keep], ib[keep]],
                }
            )
        in_lo = pdf["_t"].to_numpy() == lo
        a_pdf, b_pdf = pdf[in_lo], pdf[~in_lo]
        if not len(a_pdf) or not len(b_pdf):
            return _empty
        sims = np.round(_unit(a_pdf) @ _unit(b_pdf).T, 6)
        ia, ib = np.nonzero(sims >= threshold)
        if not len(ia):
            return _empty
        a_ids = a_pdf[key_col].to_numpy()[ia]
        b_ids = b_pdf[key_col].to_numpy()[ib]
        return pd.DataFrame(
            {
                "key_a": np.minimum(a_ids, b_ids),
                "key_b": np.maximum(a_ids, b_ids),
                "label": a_pdf[block_col].to_numpy()[ia],
                "cosine_sim": sims[ia, ib],
            }
        )

    prepared = corpus.select(
        F.col(key_col), F.col(block_col), _dvec(vec_col).alias("_v")
    )
    tiled = _tile_blocks(prepared, block_col, key_col, tile_rows)
    return tiled.groupBy(block_col, "_lo", "_hi").applyInPandas(
        tile_pairs, "key_a long, key_b long, label long, cosine_sim double"
    )


def _tile_blocks(
    prepared: DataFrame, block_col: str, key_col: str, tile_rows: int
) -> DataFrame:
    """Replicate each vector into its block's tile-pair groups.

    Vectors hash into ⌈|block|/tile_rows⌉ tiles; each vector emits one row
    per other-tile index ``_o``, keyed by the unordered pair
    (_lo, _hi) = (min(_t, _o), max(_t, _o)). Group (lo, hi) then holds
    every participant exactly once — tile-lo members arrive via o = hi,
    tile-hi members via o = lo, and the diagonal group (t, t) gets each
    tile-t member from o = t — so per-group GEMMs over the tiles cover
    every in-block pair exactly once with task memory capped at
    tile_rows². Blocks at or below tile_rows keep their single group.
    """
    cnts = prepared.groupBy(block_col).agg(F.count(F.lit(1)).alias("_n"))
    tiled = (
        prepared.join(F.broadcast(cnts), block_col)
        .withColumn(
            "_nt",
            F.ceil(F.col("_n") / F.lit(tile_rows)).cast("int"),
        )
        .withColumn(
            "_t", F.pmod(F.xxhash64(F.col(key_col)), F.col("_nt")).cast("int")
        )
        .withColumn("_o", F.explode(F.sequence(F.lit(0), F.col("_nt") - 1)))
        .withColumn("_lo", F.least("_t", "_o"))
        .withColumn("_hi", F.greatest("_t", "_o"))
    )
    # Pin the group exchange at full width (r10 opt §1a, the C2 archive
    # idiom): every consumer groupBy(block, _lo, _hi).applyInPandas's
    # shuffle carries a few MB of vectors, which AQE's byte-based
    # coalescing collapses to 1-2 tasks — serializing exactly the numpy
    # GEMM stage. Same keys + explicit count ⇒ the groupBy reuses this
    # exchange (one shuffle total) and AQE never coalesces it. Per-group
    # output is order-canonicalized (lexsort / row_number with full tie
    # order), so partitioning cannot change results.
    return tiled.repartition(
        prepared.sparkSession.sparkContext.defaultParallelism,
        block_col,
        "_lo",
        "_hi",
    )


def blocked_nearest_neighbor(
    corpus: DataFrame,
    block_col: str = "label",
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 2048,
) -> DataFrame:
    """For every vector: its nearest neighbor within its block (IVF cell).

    The pair space is blocked on ``block_col`` — the join shuffles both
    sides on the block key, so cost is Σ|block|² instead of n². Winner is
    deterministic: max (rounded cosine, then smallest neighbor key).

    Like :func:`blocked_cosine_pairs`, the in-block GEMM is tiled (round
    6): each tile-pair group emits a per-vector best-in-group candidate
    and a final per-key reduce picks the block-wide winner under the same
    (rounded score DESC, neighbor key ASC) order — associative, so the
    output is identical to the one-matrix-per-block shape that OOMed the
    100× stress ladder, while no task holds more than a tile² matrix.
    """
    from pyspark.sql import Window as W

    # The O(|block|²·d) pairwise work is the one place array expressions
    # lose badly to vectorized math (higher-order lambdas are interpreted
    # per element — ~25M evals at sf0.1). This is the sanctioned Pandas-UDF
    # use: one Arrow batch per tile-pair, a numpy GEMM for the cosine
    # tile, deterministic (rounded-score, smallest-key) winner per row.
    import numpy as np
    import pandas as pd

    _empty = pd.DataFrame(
        columns=["vec_id", "label", "nn_vec_id", "cosine_sim"]
    ).astype({"vec_id": "int64", "label": "int64",
              "nn_vec_id": "int64", "cosine_sim": "float64"})

    def _best(ids_q, labels_q, ids_c, sims) -> pd.DataFrame:
        # per query row: max rounded score, then smallest candidate id —
        # identical to the SQL row_number() ORDER BY score DESC, id
        nq = len(ids_q)
        order = np.lexsort((ids_c[np.newaxis, :].repeat(nq, 0), -sims), axis=1)
        nn_idx = order[:, 0]
        return pd.DataFrame(
            {
                "vec_id": ids_q,
                "label": labels_q,
                "nn_vec_id": ids_c[nn_idx],
                "cosine_sim": sims[np.arange(nq), nn_idx],
            }
        )

    def tile_nn(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["_lo"].iat[0]), int(pdf["_hi"].iat[0])
        ids = pdf[key_col].to_numpy()
        labels = pdf[block_col].to_numpy()
        vecs = np.stack(pdf["_v"].to_numpy()).astype("float64")
        unit = _unit_rows(vecs)
        if lo == hi:
            if len(pdf) < 2:
                return _empty
            sims = np.round(unit @ unit.T, 6)
            np.fill_diagonal(sims, -np.inf)
            return _best(ids, labels, ids, sims)
        in_lo = pdf["_t"].to_numpy() == lo
        if not in_lo.any() or in_lo.all():
            return _empty
        sims = np.round(unit[in_lo] @ unit[~in_lo].T, 6)
        return pd.concat(
            [
                _best(ids[in_lo], labels[in_lo], ids[~in_lo], sims),
                _best(ids[~in_lo], labels[~in_lo], ids[in_lo], sims.T),
            ],
            ignore_index=True,
        )

    prepared = corpus.select(
        F.col(key_col), F.col(block_col), _dvec(vec_col).alias("_v")
    )
    tiled = _tile_blocks(prepared, block_col, key_col, tile_rows)
    cand = tiled.groupBy(block_col, "_lo", "_hi").applyInPandas(
        tile_nn, "vec_id long, label long, nn_vec_id long, cosine_sim double"
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("nn_vec_id").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def covariance_sums(
    corpus: DataFrame,
    vec_col: str = "embedding",
    d: int = 8,
    method: str = "expr",
) -> DataFrame:
    """Upper-triangle second-moment sums over an embedding column: one row
    per dimension pair ``0 <= i <= j < d`` with the global aggregates
    ``(i, j, n, sxi, sxj, sxij)`` — everything the unbiased covariance
    ``(sxij - sxi*sxj/n) / (n-1)`` (or a correlation / whitening matrix)
    needs. Symmetry is exploited: d(d+1)/2 pairs, never d².

    Two physical strategies (VERDICT r3 #5):

    - ``method="expr"``: per-row struct explode of the pair list, pure
      codegen, full map-side partial aggregation. Right for small d (the
      8-dim fixture) and keeps arithmetic bit-comparable to a SQL oracle.
    - ``method="numpy"``: ``mapInPandas`` per-ARROW-BATCH partials — one
      ``V.T @ V`` GEMM and a column sum per batch, emitting d(d+1)/2 tiny
      partial rows per batch, then one (i, j) rollup. Per-row cost is the
      O(d) Arrow transfer; no d² struct materialization ever happens. This
      is the 100 TB path for production dims (d=768: the expr path would
      build ~295k structs PER ROW; here the same work is one 768×768 GEMM
      per ~10k-row batch). Same sanctioned-numpy rationale as
      ``blocked_cosine_pairs`` above.

    Both paths return identical values up to double summation order
    (engine-tested equal after 6 dp rounding at d=8).
    """
    if method == "expr":
        pair_expr = f"""
          flatten(transform(sequence(0, {d - 1}), i ->
            transform(sequence(i, {d - 1}), j -> struct(
              i AS i, j AS j,
              CAST(element_at({vec_col}, i + 1) AS DOUBLE) AS xi,
              CAST(element_at({vec_col}, j + 1) AS DOUBLE) AS xj))))
        """
        pairs = corpus.select(F.explode(F.expr(pair_expr)).alias("p")).select(
            F.col("p.i").cast("bigint").alias("i"),
            F.col("p.j").cast("bigint").alias("j"),
            "p.xi",
            "p.xj",
        )
        return pairs.groupBy("i", "j").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xi").alias("sxi"),
            F.sum("xj").alias("sxj"),
            F.sum(F.col("xi") * F.col("xj")).alias("sxij"),
        )
    if method != "numpy":
        raise ValueError(f"method must be 'expr' or 'numpy', got {method!r}")

    import numpy as np
    import pandas as pd

    iu_i, iu_j = np.triu_indices(d)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["_v"].to_numpy()).astype("float64")
            s = v.sum(axis=0)
            ss = v.T @ v
            yield pd.DataFrame(
                {
                    "i": iu_i.astype("int64"),
                    "j": iu_j.astype("int64"),
                    "n": np.int64(len(pdf)),
                    "sxi": s[iu_i],
                    "sxj": s[iu_j],
                    "sxij": ss[iu_i, iu_j],
                }
            )

    prepared = corpus.select(_dvec(vec_col).alias("_v"))
    part = prepared.mapInPandas(
        partials, "i long, j long, n long, sxi double, sxj double, sxij double"
    )
    return part.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sxi").alias("sxi"),
        F.sum("sxj").alias("sxj"),
        F.sum("sxij").alias("sxij"),
    )


def blocked_knn(
    corpus: DataFrame,
    k: int = 3,
    block_col: str = "label",
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 2048,
) -> DataFrame:
    """Top-``k`` cosine neighbours per vector WITHIN its block — the
    generalization of :func:`blocked_nearest_neighbor` from top-1 to
    top-k, same tiled numpy-GEMM strategy and the same deterministic
    ordering (rounded cosine DESC, neighbour key ASC). Returns
    (key, nb, block, cosine_sim, rnk) with rnk 1..k.

    Pair space is Σ|block|² by construction; the per-tile-pair GEMM emits
    each vector's top-k *within the group* and the per-key reduce keeps
    the global top-k — any block-wide top-k neighbour is necessarily in
    its group's top-k, so the output matches the one-matrix-per-block
    shape (which OOMed the 100× ladder once blocks grew with the corpus)
    while task memory stays capped at tile². No interpreted per-element
    cosine (measured ~7 s → ~1 s at sf0.1 for the kNN-graph query).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window as W

    _empty = pd.DataFrame(
        columns=[key_col, "nb", block_col, "cosine_sim"]
    ).astype({key_col: "int64", "nb": "int64", block_col: "int64",
              "cosine_sim": "float64"})

    def _topk(ids_q, labels_q, ids_c, sims) -> pd.DataFrame:
        nq, nc = sims.shape
        kk = min(k, nc)
        # full lexsort per row: (-sim, nb) — deterministic tie order
        order = np.lexsort((ids_c[np.newaxis, :].repeat(nq, 0), -sims), axis=1)
        top = order[:, :kk]
        rows = np.repeat(np.arange(nq), kk)
        cols = top.ravel()
        return pd.DataFrame(
            {
                key_col: ids_q[rows],
                "nb": ids_c[cols],
                block_col: labels_q[rows],
                "cosine_sim": sims[rows, cols],
            }
        )

    def tile_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["_lo"].iat[0]), int(pdf["_hi"].iat[0])
        ids = pdf[key_col].to_numpy()
        labels = pdf[block_col].to_numpy()
        vecs = np.stack(pdf["_v"].to_numpy()).astype("float64")
        unit = _unit_rows(vecs)
        if lo == hi:
            if len(pdf) < 2:
                return _empty
            sims = np.round(unit @ unit.T, 6)
            np.fill_diagonal(sims, -np.inf)
            out = _topk(ids, labels, ids, sims)
            # drop the -inf self rows a 1-neighbour tile can surface
            return out[np.isfinite(out["cosine_sim"].to_numpy())]
        in_lo = pdf["_t"].to_numpy() == lo
        if not in_lo.any() or in_lo.all():
            return _empty
        sims = np.round(unit[in_lo] @ unit[~in_lo].T, 6)
        return pd.concat(
            [
                _topk(ids[in_lo], labels[in_lo], ids[~in_lo], sims),
                _topk(ids[~in_lo], labels[~in_lo], ids[in_lo], sims.T),
            ],
            ignore_index=True,
        )

    prepared = corpus.select(
        F.col(key_col), F.col(block_col), _dvec(vec_col).alias("_v")
    )
    tiled = _tile_blocks(prepared, block_col, key_col, tile_rows)
    cand = tiled.groupBy(block_col, "_lo", "_hi").applyInPandas(
        tile_topk,
        f"{key_col} long, nb long, {block_col} long, cosine_sim double",
    )
    w = W.partitionBy(key_col).orderBy(
        F.col("cosine_sim").desc(), F.col("nb").asc()
    )
    # cast matches the pre-tiling Arrow schema (rnk was a pandas int64)
    return cand.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def save_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> None:
    """Persist an IVF index: per-cell centroids (tiny, one row per cell)
    plus the corpus PARTITIONED BY cell id on disk. This is the
    build-once / probe-many contract a 100 TB vector corpus needs — the
    clustering pass runs once, and every later probe reads ``nprobe``
    cells' partition directories instead of re-scanning (and
    re-clustering) the corpus. The layout is plain parquet, so the
    probe-side partition pruning is ordinary Hive-partition pruning
    (asserted in the engine test) and the index is readable by any
    engine, not just this one.

    Mirror of the MinHash signature-store pattern
    (operators/dedup.py:incremental_minhash_dedup): persist the expensive
    derived structure, never re-derive it per query.
    """
    label_centroids(corpus, block_col, vec_col).write.mode("overwrite").parquet(
        f"{index_dir}/centroids"
    )
    corpus.select(
        key_col, vec_col, F.col(block_col).alias("blk")
    ).write.mode("overwrite").partitionBy("blk").parquet(
        f"{index_dir}/cells"
    )


def probe_ivf_index(
    spark,
    index_dir: str,
    query: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: centroids load broadcast (one row per
    cell), the ``nprobe`` best cells become a partition filter on the
    cells dataset (``blk IN (...)`` prunes to those directories — a
    bounded driver-side collect of nprobe cell ids, same exemption as
    the ANN cell pick), exact top-k inside. Output schema matches
    ``ann_ivf_topk`` row for row (engine-tested)."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    q = F.broadcast(query.select(_dvec(vec_col).alias("_qvec")))
    cents = spark.read.parquet(f"{index_dir}/centroids")
    best = [
        r.blk
        for r in cents.crossJoin(q)
        .select(
            "blk",
            F.round(
                cosine_similarity(F.col("centroid"), F.col("_qvec")), 6
            ).alias("c_sim"),
        )
        .orderBy(F.col("c_sim").desc(), "blk")
        .limit(nprobe)
        .collect()
    ]
    cells = spark.read.parquet(f"{index_dir}/cells").where(F.col("blk").isin(best))
    return (
        cells.crossJoin(q)
        .select(
            key_col,
            F.col("blk").cast("int").alias("label"),
            F.round(
                cosine_similarity(_dvec(vec_col), F.col("_qvec")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), key_col)
        .limit(k)
    )


def bipartite_margin_pairs(
    a: DataFrame,
    b: DataFrame,
    k: int = 4,
    n_blocks: int = 8,
    key_a: str = "xa",
    key_b: str = "xb",
    vec_a: str = "va",
    vec_b: str = "vb",
    b_tile_rows: int = 2048,
) -> DataFrame:
    """Ratio-margin mutual-argmax bitext mining (Artetxe & Schwenk ACL'19)
    without EVER materializing the |A|·|B| pair space (VERDICT r4 #2).

    Two streaming blocked-GEMM passes over (A-chunk × B-tile) groups — A
    is hash-split into ``n_blocks`` chunks and B into
    ⌈|B|/b_tile_rows⌉ hash tiles (round 6: the 100× ladder showed any
    group holding a full corpus-sized side must OOM eventually — the old
    shape replicated ALL of B into every chunk, so raising ``n_blocks``
    shrank only the A slice while the |B|-wide similarity rows grew with
    the corpus; a fat side degrades into more tasks, not a bigger task):

    1. top-``k`` cosine lists per endpoint (per-xa and per-xb group
       partials, each merged by a k-bounded window) → the neighborhood
       means ax / ay;
    2. with ax/ay joined back in, per-group margin argmax — per-xa
       partials merged by a deterministic struct-max, per-xb likewise.

    Mutual pairs = fwd ∩ bwd. Rows that ever hit a shuffle:
    Θ((|A|·nbt + |B|·n_blocks)·(1 + k)) where nbt = ⌈|B|/b_tile_rows⌉ —
    the O(|A|·|B|) cosine FLOPs are inherent to EXACT mining and stay
    inside per-task numpy GEMMs bounded by (|A|/n_blocks) × b_tile_rows;
    nothing pair-shaped is checkpointed or exchanged. At 100 TB swap B
    for each chunk's nprobe IVF cells (ann_ivf_topk) to go sub-quadratic
    at a recall cost. Determinism: cosines and margins rounded to 6dp,
    all argmax ties broken on the partner id ascending — the merges use
    the same order as the in-group lexsorts, so tiling is invisible in
    the output.

    Returns (key_a, key_b, c, margin) for the mutual pairs.
    """
    import numpy as np
    import pandas as pd

    blocks = F.explode(F.array(*[F.lit(i) for i in range(n_blocks)]))

    def _sides(pdf: pd.DataFrame):
        sa = pdf[pdf["side"] == 0]
        sb = pdf[pdf["side"] == 1]
        if len(sa) == 0 or len(sb) == 0:
            return None
        ids_a = sa["id"].to_numpy()
        ids_b = sb["id"].to_numpy()
        ua = np.stack(sa["_v"].to_numpy()).astype("float64")
        ub = np.stack(sb["_v"].to_numpy()).astype("float64")
        # zero-norm guard (ADVICE r5): a zero vector keeps cosine 0 instead
        # of NaN, whose lexsort placement is engine-dependent
        norm_a = np.linalg.norm(ua, axis=1, keepdims=True)
        norm_b = np.linalg.norm(ub, axis=1, keepdims=True)
        ua = ua / np.where(norm_a == 0, 1.0, norm_a)
        ub = ub / np.where(norm_b == 0, 1.0, norm_b)
        sims = np.round(ua @ ub.T, 6)
        return sa, sb, ids_a, ids_b, sims

    def topk_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=["kind", "xa", "xb", "c"]).astype(
            {"kind": "int32", "xa": "int64", "xb": "int64", "c": "float64"}
        )
        sides = _sides(pdf)
        if sides is None:
            return empty
        _, _, ids_a, ids_b, sims = sides
        na, nb = len(ids_a), len(ids_b)
        out = []
        kk = min(k, nb)
        order = np.lexsort((ids_b[np.newaxis, :].repeat(na, 0), -sims), axis=1)
        top = order[:, :kk]
        rows = np.repeat(np.arange(na), kk)
        out.append(
            pd.DataFrame(
                {
                    "kind": np.int32(0),
                    "xa": ids_a[rows],
                    "xb": ids_b[top.ravel()],
                    "c": sims[rows, top.ravel()],
                }
            )
        )
        kkc = min(k, na)
        orderc = np.lexsort(
            (ids_a[np.newaxis, :].repeat(nb, 0), -sims.T), axis=1
        )
        topc = orderc[:, :kkc]
        cols = np.repeat(np.arange(nb), kkc)
        out.append(
            pd.DataFrame(
                {
                    "kind": np.int32(1),
                    "xa": ids_a[topc.ravel()],
                    "xb": ids_b[cols],
                    "c": sims[topc.ravel(), cols],
                }
            )
        )
        return pd.concat(out, ignore_index=True)

    def margin_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            columns=["kind", "xa", "xb", "c", "margin"]
        ).astype(
            {"kind": "int32", "xa": "int64", "xb": "int64",
             "c": "float64", "margin": "float64"}
        )
        sides = _sides(pdf)
        if sides is None:
            return empty
        sa, sb, ids_a, ids_b, sims = sides
        na, nb = len(ids_a), len(ids_b)
        ax = sa["aux"].to_numpy()
        ay = sb["aux"].to_numpy()
        # zero-denominator guard (ADVICE r5): (ax+ay)/2 == 0 would give
        # inf/NaN margins with engine-dependent argmax placement — such
        # pairs get margin 0 (same rule in the crossjoin twin + oracle)
        den = (ax[:, None] + ay[None, :]) / 2.0
        margins = np.round(
            np.where(den == 0, 0.0, sims / np.where(den == 0, 1.0, den)), 6
        )
        j = np.lexsort((ids_b[np.newaxis, :].repeat(na, 0), -margins), axis=1)[:, 0]
        fwd = pd.DataFrame(
            {
                "kind": np.int32(0),
                "xa": ids_a,
                "xb": ids_b[j],
                "c": sims[np.arange(na), j],
                "margin": margins[np.arange(na), j],
            }
        )
        i = np.lexsort(
            (ids_a[np.newaxis, :].repeat(nb, 0), -margins.T), axis=1
        )[:, 0]
        bwd = pd.DataFrame(
            {
                "kind": np.int32(1),
                "xa": ids_a[i],
                "xb": ids_b,
                "c": sims[i, np.arange(nb)],
                "margin": margins[i, np.arange(nb)],
            }
        )
        return pd.concat([fwd, bwd], ignore_index=True)

    # B tile count as a broadcast 1-row frame so the operator stays lazy;
    # greatest(..., 1) keeps sequence(0, nbt-1) well-formed on empty B
    bcnt = b.agg(F.count(F.lit(1)).alias("_bn")).select(
        F.greatest(
            F.ceil(F.col("_bn") / F.lit(b_tile_rows)), F.lit(1)
        ).cast("int").alias("_nbt")
    )
    a_pre = a.crossJoin(F.broadcast(bcnt)).select(
        F.pmod(F.xxhash64(F.col(key_a)), F.lit(n_blocks)).alias("ablk"),
        F.explode(F.sequence(F.lit(0), F.col("_nbt") - 1)).alias("_bt"),
        F.lit(0).alias("side"),
        F.col(key_a).alias("id"),
        F.col(vec_a).cast("array<double>").alias("_v"),
        F.lit(0.0).alias("aux"),
    )
    b_tile = F.pmod(F.xxhash64(F.col(key_b)), F.col("_nbt")).cast("int")
    b_rep = b.crossJoin(F.broadcast(bcnt)).select(
        blocks.alias("ablk"),
        b_tile.alias("_bt"),
        F.lit(1).alias("side"),
        F.col(key_b).alias("id"),
        F.col(vec_b).cast("array<double>").alias("_v"),
        F.lit(0.0).alias("aux"),
    )
    _par = a.sparkSession.sparkContext.defaultParallelism
    pass1 = materialize(
        a_pre.unionByName(b_rep)
        # pin the group exchange wide (r10 opt §1a): the vector shuffle is
        # byte-cheap and AQE would coalesce the GEMM stage to 1-2 tasks;
        # in-group lexsort + deterministic merges make partitioning inert
        .repartition(_par, "ablk", "_bt")
        .groupBy("ablk", "_bt")
        .applyInPandas(topk_block, "kind int, xa long, xb long, c double")
    )  # ax / ay branches
    from pyspark.sql import Window as W

    # per-endpoint k-bounded merges of the per-group top-k partials — the
    # window order matches the in-group lexsort (c DESC, partner id ASC),
    # so the merged top-k equals the untiled single-group top-k exactly
    wrow = W.partitionBy("xa").orderBy(F.col("c").desc(), "xb")
    ax = (
        pass1.where(F.col("kind") == 0)
        .withColumn("r", F.row_number().over(wrow))
        .where(F.col("r") <= k)
        .groupBy("xa")
        .agg(F.avg("c").alias("ax"))
    )
    wcol = W.partitionBy("xb").orderBy(F.col("c").desc(), "xa")
    ay = (
        pass1.where(F.col("kind") == 1)
        .withColumn("r", F.row_number().over(wcol))
        .where(F.col("r") <= k)
        .groupBy("xb")
        .agg(F.avg("c").alias("ay"))
    )
    ax = ax.select(F.col("xa").alias("_axid"), "ax")
    ay = ay.select(F.col("xb").alias("_ayid"), "ay")
    a_m = (
        a.join(F.broadcast(ax), F.col(key_a) == F.col("_axid"))
        .crossJoin(F.broadcast(bcnt))
        .select(
            F.pmod(F.xxhash64(F.col(key_a)), F.lit(n_blocks)).alias("ablk"),
            F.explode(F.sequence(F.lit(0), F.col("_nbt") - 1)).alias("_bt"),
            F.lit(0).alias("side"),
            F.col(key_a).alias("id"),
            F.col(vec_a).cast("array<double>").alias("_v"),
            F.col("ax").alias("aux"),
        )
    )
    b_m = (
        b.join(F.broadcast(ay), F.col(key_b) == F.col("_ayid"))
        .crossJoin(F.broadcast(bcnt))
        .select(
            blocks.alias("ablk"),
            b_tile.alias("_bt"),
            F.lit(1).alias("side"),
            F.col(key_b).alias("id"),
            F.col(vec_b).cast("array<double>").alias("_v"),
            F.col("ay").alias("aux"),
        )
    )
    pass2 = materialize(
        a_m.unionByName(b_m)
        .repartition(_par, "ablk", "_bt")  # same §1a pin as pass1
        .groupBy("ablk", "_bt")
        .applyInPandas(
            margin_block, "kind int, xa long, xb long, c double, margin double"
        )
    )  # fwd / bwd branches
    # struct-max merges: (margin DESC, partner ASC) — same tie order as
    # the in-group argmax lexsorts
    fwd = (
        pass2.where(F.col("kind") == 0)
        .groupBy("xa")
        .agg(
            F.max(
                F.struct(
                    F.col("margin"),
                    (-F.col("xb")).alias("nxb"),
                    F.col("xb"),
                    F.col("c"),
                )
            ).alias("s")
        )
        .select(
            "xa",
            F.col("s.xb").alias("xb"),
            F.col("s.c").alias("c"),
            F.col("s.margin").alias("margin"),
        )
    )
    bwd = (
        pass2.where(F.col("kind") == 1)
        .groupBy("xb")
        .agg(
            F.max(
                F.struct(F.col("margin"), (-F.col("xa")).alias("nxa"))
            ).alias("s")
        )
        .select((-F.col("s.nxa")).alias("xa"), "xb")
    )
    return (
        fwd.join(bwd, ["xa", "xb"])
        .select(
            F.col("xa").alias(key_a),
            F.col("xb").alias(key_b),
            "c",
            "margin",
        )
    )
