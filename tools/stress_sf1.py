"""sf1 stress sweep for the heavy dedup / graph / similarity family
(VERDICT r4 #6): synthesize a ~10× dataset from sf0.1 (the driver ships
no sf1 and the test data is read-only), run the heavy queries on it,
and compare each wall time against 10× the same query's sf0.1 wall,
timed in the same run with the same ``--repeats`` — any query whose
cost grows faster than input is a candidate-bill bug, the exact class
the round-4 posting-geometry lessons (178 s prefix filter, 11.7 s ER)
were caught by.

Synthesis preserves the structures the heavy family actually measures:

- every table is 10 disjoint key-shifted replicas of sf0.1, so graph
  components, per-order baskets, and FK integrity replicate exactly;
- ``documents.text`` gets a per-replica BIJECTIVE character map
  (translate) — within-replica shingle/duplicate geometry is untouched
  (equal shingles stay equal, distinct stay distinct, lengths keep),
  while cross-replica shingles collide only by chance, so the duplicate
  structure grows LINEARLY like a real corpus, not quadratically like
  naive row duplication would force;
- ``embeddings.embedding`` is rotated by ``replica`` positions — norms
  and within-replica cosines are preserved exactly; cross-replica
  cosines decorrelate;
- name columns used by the ER / fuzzy-join family get the same
  translate treatment so blocking keys don't collapse 10 replicas into
  one 10×-deep block.

Usage:
    python tools/stress_sf1.py [--regen] [--repeats 2] [--factor 10|100]
                               [name ...]

Writes parquet under .benchdata/sf1x/ (factor 10, bit-identical to the
round-5 synthesis) or .benchdata/sf10x/ (factor 100: the third char-map
band and the modulo embedding rotation only engage for replicas ≥ 25 /
≥ dim, so the first 10 replicas of both factors coincide) and prints a
markdown table ready for BENCH.md §13; the acceptance bar scales with
the factor (wall ≤ factor × the sf0.1 wall).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from dataingestion_pt_ms_spark.queries import registry
from dataingestion_pt_ms_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
_BENCHDATA = Path(__file__).resolve().parent.parent / ".benchdata"


def _dst(factor: int) -> str:
    """factor-10 keeps the historical ``sf1x`` name (synthesized sf1);
    factor-100 is ``sf10x`` (synthesized sf10)."""
    return str(_BENCHDATA / ("sf1x" if factor == 10 else f"sf{factor // 10}x"))

# per-replica bijective character maps: rotate vowels by r mod 5 and a
# consonant band by r // 5 — composition is a bijection on the alphabet,
# so equality of any two strings (hence any two shingles) is preserved
# within a replica and broken across replicas for most tokens
_V, _C = "aeiou", "bcdfg"
_C2 = "hjklm"  # third band: only rotates for r >= 25, so factor-10
# synthesis (r < 10) is bit-identical to the round-5 sf1x output while
# factor-100 keeps all 125 composite maps distinct (no accidental
# identical-text replicas beyond chance shingle collisions)


def _cmap(r: int) -> tuple[str, str]:
    src = _V + _C + _C2 + _V.upper() + _C.upper() + _C2.upper()
    rot_v = _V[r % 5:] + _V[: r % 5]
    rot_c = _C[r // 5 % 5:] + _C[: r // 5 % 5]
    rot_c2 = _C2[r // 25 % 5:] + _C2[: r // 25 % 5]
    dst = (
        rot_v + rot_c + rot_c2
        + rot_v.upper() + rot_c.upper() + rot_c2.upper()
    )
    return src, dst


def _translate(col, r: int):
    src, dst = _cmap(r)
    return F.translate(col, src, dst)


# (table, [(col, kind)]) — kind: shift-N = add r*N; translate; rotate
SPEC: dict[str, dict[str, tuple]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": ("shift", 10**7), "c_name": ("translate",)},
    "supplier": {"s_suppkey": ("shift", 10**5), "s_name": ("translate",)},
    "part": {"p_partkey": ("shift", 10**6), "p_name": ("translate",)},
    "orders": {"o_orderkey": ("shift", 10**7), "o_custkey": ("shift", 10**7)},
    "lineitem": {
        "l_orderkey": ("shift", 10**7),
        "l_partkey": ("shift", 10**6),
        "l_suppkey": ("shift", 10**5),
    },
    "events": {"event_id": ("shift", 10**9), "user_id": ("shift", 10**9)},
    "documents": {"doc_id": ("shift", 10**7), "text": ("translate",)},
    "embeddings": {"vec_id": ("shift", 10**7), "embedding": ("rotate",)},
}

# the heavy family: the slowest queries at sf0.1 (min-of-3 hot) when drawn
HEAVY = [
    "dedup_cluster_near_dups",
    "pipeline_curation_v3",
    "dedup_blocking_quality_audit",
    "text_trigram_langid",
    "pipeline_entity_resolution",
    "sim_dbscan_cells",
    "dedup_cross_corpus_minhash_md5",
    "join_fuzzy_name_match",
    "graph_lp_training_set",
    "sketch_histogram_quantiles",
    "dedup_minhash_lsh_pairs",
    "dedup_incremental_minhash",
    # §13b next tier (round 5)
    "sim_pq_adc_topk",
    "dedup_cross_corpus_minhash",
    "dedup_winnowing_overlap",
    "graph_degree_assortativity",
    "text_retrieval_eval_ndcg",
    "dedup_semdedup_clusters",
    "graph_cheapest_path_rounds",
    "graph_hits_nation_trade",
    "emb_pca_power_iteration",
    "dedup_simhash_banded_pairs",
    "rec_als_rank2_round",
    "sql_recursive_cte_reachability",
    "orders_spearman_rank_corr",
    "lineitem_conformal_intervals",
    # §13c next tier (round 6, VERDICT r5 #8): the 1-2 s band —
    # graph/copurchase remainder, the rest of the pair-dedup family, the
    # AMS sketch, and the band-join count twin added this round
    "join_fuzzy_name_match_counts",
    "graph_copurchase_link_prediction",
    "dedup_minhash_lsh_pairs_md5",
    "dedup_containment_pairs",
    "graph_clustering_coefficient",
    "dedup_estimator_error_profile",
    "dedup_prefix_filter_pairs",
    "dedup_cluster_keep_longest",
    "dedup_cluster_assignment",
    "dedup_simhash_pairs",
    "graph_bfs_copurchase_hops",
    "multimodal_wav_decode",
    "pipeline_curation_v2",
    "orders_abc_migration",
    "orders_wasserstein_drift",
    "graph_copurchase_communities",
    "sketch_ams_f2_selfjoin",
    # round 7 (VERDICT r6 #2): the bounded-degree DBSCAN production twin —
    # the one operator family whose FULL form is excluded at 100×
    "sim_dbscan_capped",
    # round-7 continuation: the two new TABLE-SCALING text queries (the
    # codec queries are fixed panels by design — scale-independent)
    "text_html_extraction",
    "pipeline_web_curation",
    # round 8 (VERDICT r7 #2/#7): the count-grain audit twins — same
    # heavy pipelines as their pair-grain parents, bounded output so the
    # §13e VALUE tier reaches them — and the archive-container heads
    "dedup_minhash_lsh_pairs_counts",
    "dedup_containment_pairs_counts",
    "dedup_winnowing_overlap_counts",
    "dedup_cross_corpus_minhash_counts",
    "sim_dbscan_capped_counts",
    "warc_record_inventory",
    "pipeline_web_curation_warc",
    "archive_tar_members_audit",
    # round 9 (VERDICT r8 #4/#5): PDF extraction scales with the table
    # (one synthesized PDF per doc); the WARC media-triage composition is
    # a fixed 140-doc panel by design (codec-query class) but rides the
    # ladder for its VALUE row — the oracle recomputes from the scaled
    # documents table and must stay green
    "multimodal_pdf_extract",
    "pipeline_warc_media_triage",
    # round 9 continuation: the txn-log table format's ladder rung — two
    # MERGEs + CHECKPOINT + replay + MERGE over the scaled orders table;
    # wall is write-dominated, value = three snapshot profiles the oracle
    # recomputes from the scaled table
    "warehouse_txnlog_time_travel",
    "warehouse_txnlog_checkpoint_travel",
    # round 10 (VERDICT r9 #5): the crawl head's TABLE-SCALING form —
    # archives per SF, exact-BIGINT rollup, so the composed
    # pack->split->sniff->decode pipeline gets a real ladder wall
    "pipeline_warc_triage_scaled",
]


def synthesize(spark, factor: int) -> None:
    dst = _dst(factor)
    Path(dst).mkdir(parents=True, exist_ok=True)
    for table, cols in SPEC.items():
        out = f"{dst}/{table}.parquet"
        if Path(out).exists():
            continue
        base = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not cols:
            base.write.mode("overwrite").parquet(out)
            print(f"# {table}: copied", file=sys.stderr)
            continue
        parts = []
        for r in range(factor):
            df = base
            for col, spec in cols.items():
                if spec[0] == "shift":
                    df = df.withColumn(col, F.col(col) + F.lit(r * spec[1]))
                elif spec[0] == "translate":
                    df = df.withColumn(col, _translate(F.col(col), r))
                elif spec[0] == "rotate":
                    # rotate array left by r mod len: for r < dim this is
                    # concat(slice(r+1..), slice(1..r)) exactly as round 5
                    # wrote sf1x; the modulo only matters for factor-100
                    # replicas beyond the embedding dim. Length derived
                    # from the data (ADVICE r5): a hardcoded dim silently
                    # truncates if the fixture dim ever changes.
                    if r:
                        sz = F.size(F.col(col))
                        sh = F.lit(r) % sz
                        df = df.withColumn(
                            col,
                            F.when(sh == 0, F.col(col)).otherwise(
                                F.concat(
                                    F.slice(F.col(col), sh + 1, sz - sh),
                                    F.slice(F.col(col), 1, sh),
                                )
                            ),
                        )
            parts.append(df)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(32 if factor <= 10 else 64).write.mode(
            "overwrite"
        ).parquet(out)
        print(f"# {table}: {factor} replicas written", file=sys.stderr)


def _best_wall(fn, spark, sf_dir: str, repeats: int) -> tuple[float, int]:
    """Best-of-``repeats`` wall of ``count()`` on ``sf_dir``, and the count."""
    best = n = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best, n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument(
        "--factor",
        type=int,
        default=10,
        choices=(10, 100),
        help="replicas of sf0.1 to synthesize: 10 (sf1x) or 100 (sf10x)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    dst = _dst(args.factor)
    label = Path(dst).name

    spark = get_spark("stress-sf1")
    if args.regen:
        import shutil

        shutil.rmtree(dst, ignore_errors=True)
    synthesize(spark, args.factor)

    specs = registry()
    names = args.names or HEAVY
    print(
        f"| query | sf0.1 wall (s) | {label} wall (s) | ratio "
        f"| rows sf0.1 → {label} | rows ratio | verdict |"
    )
    print("|---|---|---|---|---|---|---|")
    for name in names:
        fn = specs[name].fn
        fn(spark, "/root/testdata/sf0.001").count()  # plan/codegen warmup
        ref, n01 = _best_wall(fn, spark, SRC, args.repeats)
        best, n = _best_wall(fn, spark, dst, args.repeats)
        ratio = best / ref
        rows_ratio = f"{n / n01:.1f}x" if n01 else "n/a"
        verdict = "ok" if ratio <= args.factor else "SUPERLINEAR"
        print(
            f"| {name} | {ref:.2f} | {best:.2f} | {ratio:.1f}x "
            f"| {n01} → {n} | {rows_ratio} | {verdict} |"
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
