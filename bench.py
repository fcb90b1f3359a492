#!/usr/bin/env python
"""Headline-query benchmark. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Runs the corpus headline queries at ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 fixture directory) on ``local[$SPARK_GRAFT_CPUS]``, once each after
a catalog and Python-worker warm-up that is not counted.  A query's
number is the wall time of the repo benchmark's primitive
(``perfbench/run.py``): its ``fn()`` call plus a full ``noop`` write of
the result, so every column is computed.  Each run appends one record
(commit, tree id of the measured code, host, per-query walls, total,
conf) to ``BENCH_LEDGER.jsonl`` and never rewrites an earlier one; the
printed line names the ledger.
"""

from __future__ import annotations

import datetime
import importlib.util
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import run as perfbench  # noqa: E402  (perfbench/run.py: the timing primitive's helpers)

from high_energy_gamma_ray_search_in_kascade_array_data_spark import get_spark  # noqa: E402
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus  # noqa: E402

_spec = importlib.util.spec_from_file_location("bench_ab", os.path.join(REPO, "scripts", "bench_ab.py"))
bench_ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_ab)

# Headline set: the flagship physics query plus the heaviest relational /
# text / vector queries — the ones whose plans matter at 100 TB.
HEADLINE = [
    "survival_curve",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_volume",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "dynamic_partition_pruning_join",
    "runtime_bloom_filter_join",
    "aqe_skew_join_split",
    "cdc_merge_apply",
    "compact_latest_per_key",
    "stat_corr_covar_suffstats",
    "stratified_split",
    "augment_rotations",
    "window_topk_per_group",
    "sessionize_events",
    "asof_last_click",
    "dedup_exact",
    "minhash_lsh_neardup",
    "minhash_lsh_neardup_fast",
    "embedding_near_dup_scaled",
    "neardup_components",
    "resample_ffill",
    "ngram_jaccard_adjacent",
    "cosine_topk",
    "ann_lsh_probe_topk",
    "ivf_probe_topk",
    "ann_int8_quantized_topk",
    "text_token_stats",
    "bpe_merge_training",
    "doc_fingerprint",
    "multimodal_decode_features",
    "multimodal_resize",
    "pandas_udf_inference",
    "cnn_artifact_inference",
    "image_phash_neardup",
    "pq_adc_topk",
    "pagerank_mass",
    "bfs_shortest_hops",
    "bfs_shortest_hops_rcte",
    "bellman_ford_min_cost",
    "spatial_grid_pair_histogram",
    "repeated_passage_mining",
    "basket_pair_support",
    "kmeans_lloyd_integer",
    "skyline_pareto",
    "session_window_batch",
    "gram_matrix_embeddings",
    "count_min_sketch_estimate",
    "bloom_semijoin_reduction",
    "golden_record_survivorship",
    "weighted_median_price",
    "two_phase_exact_percentile",
    "heavy_hitters_exact_recount",
    "topk_per_group_two_phase",
    "interval_coalesce_islands",
    "compaction_binpack_plan",
    "stream_tumbling_counts",
    "stream_stream_join",
    "stream_stream_left_outer_join",
    "stream_late_data_accounting",
    "stream_survival_curve",
    # round-6 additions: training loops, real audio/video codecs, z-order
    "distributed_adam_training",
    "distributed_pocket_training",
    "multimodal_decode_jpeg",
    "multimodal_decode_wav",
    "multimodal_video_frame_sample",
    "zorder_clustering_stats",
    "grouped_percentile_report",
    "hll_distinct_estimate",
    # round-7 additions: real conv-stack backprop, segmented model eval,
    # retrieval/curation ops (BM25, SemDeDup, CDC chunking, unigram LM, RRF)
    "distributed_cnn_training",
    "grouped_auc_by_band",
    "bm25_topk_retrieval",
    "semdedup_cluster_prune",
    "cdc_chunk_dedup",
    "unigram_logprob_score",
    "reciprocal_rank_fusion",
    "kaplan_meier_conversion",
    "rake_keyword_scores",
    "gini_activity_inequality",
    "trimmed_mean_robust",
    "colbert_maxsim_retrieval",
    "colbert_two_stage",
    # round-8 additions: comms-efficient training, curation reporting
    "distributed_topk_grad_compression",
    "distributed_signsgd_majority",
    "stream_calibration_ece",
    "neardup_cross_source_matrix",
    "dataset_mixture_temperature",
    "calibration_reliability_bins",
    "dataset_datasheet_report",
    "zipf_exponent_fit",
    # round-9 additions: exact substring dedup (Lee et al. 2022 shape),
    # streaming dup-rate, MI feature relevance, pigeonhole linkage
    "substring_dedup_lcp",
    "substring_dedup_lcp_fast",
    "substring_dedup_clean",
    "stream_substring_dup_rate",
    "mutual_information_features",
    "fuzzy_blocked_linkage",
]


LEDGER = os.path.join(REPO, bench_ab.LEDGER)


def git_state() -> dict:
    """HEAD, the tree id of the code this run measured and whether that
    differs from HEAD's; the ledger is left out of both trees
    (``scripts/bench_ab.py::code_trees``)."""
    try:
        head_tree, tree = bench_ab.code_trees(REPO)
        return {"head": bench_ab.git("rev-parse", "HEAD", repo=REPO), "tree": tree, "dirty": tree != head_tree}
    except (OSError, subprocess.CalledProcessError):
        return {"head": None, "tree": None, "dirty": None}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    sc = spark.sparkContext
    reg = corpus()
    names = [n for n in HEADLINE if n in reg]
    # prime: JVM + catalog warm (not counted), and one Python worker per core
    reg[names[0]].fn(spark, sf_dir).limit(1).write.format("noop").mode("overwrite").save()
    perfbench.prime_workers(spark)
    timings: dict[str, float] = {}
    for name in names:
        sc.setJobGroup(f"bench:{name}", name)
        t0 = time.perf_counter()
        reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    record = {
        "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "git": git_state(),
        "cpus": perfbench.cpus(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "sf": sf,
        "sf_dir": sf_dir,
        "action": "noop",
        "queries": timings,
        "total": total,
        "conf": perfbench.conf_snapshot(spark),
    }
    with open(LEDGER, "a") as fh:
        fh.write(json.dumps(record) + "\n")
    # the full per-query map lives in the ledger: the printed line stays
    # within a ~2 KB stdout tail (the flagship and the ten slowest)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {"survival_curve": timings.get("survival_curve")}
    compact.update(slowest)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": {k: v for k, v in compact.items() if v is not None},
                "n_queries": len(timings),
                "sf": sf,
                "detail": os.path.basename(LEDGER),
                "action": "noop",
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
