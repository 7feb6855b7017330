"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each headline query is executed once to warm the JVM/scan caches and
then timed over ``RUNS`` runs (best-of to reduce local-mode jitter);
``value`` is the sum of per-query best times. ``provenance`` says how
the numbers were taken: the timing policy, the Spark and host CPU
counts, the 1-minute load average at start and end, and the commit.
The bench writes no file.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nova_pulsar_spark.registry import all_queries
from nova_pulsar_spark.session import default_parallelism, get_spark

RUNS = 3  # best-of-3: local-mode timings jitter up to 2x under load
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Headline set: the flagship aggregation plus one representative from
# each heavyweight operator family (join, window, dedup, similarity).
HEADLINE = [
    "pricing_summary",
    "llm_dedup_lsh_cap_recover",
    "llm_dedup_lsh_cap_recover_prod",
    "join_inner",
    "join_multiway_star",
    "agg_cube",
    "window_running_sum",
    "window_sessionize",
    "stream_tumbling",
    "topk_per_group",
    "median_exact",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_dedup_simhash",
    "llm_dedup_verify",
    "llm_simsearch_topk",
    "llm_simsearch_ivf",
    "llm_text_stats",
    "llm_text_fingerprint",
    "llm_dedup_embedding_lsh",
    "llm_contamination",
    "sched_rounds",
    "agg_pulse",
    "tpch_q3",
    "tpch_q5",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "llm_pack_sequences",
    "llm_shard_balance",
    "llm_shard_assign",
    "llm_corpus_layout",
    "llm_quality_repetition",
    "llm_dedup_clusters",
    "ts_gapfill",
    "ts_rolling_active",
    "llm_chunk_overlap",
    "fn_zorder",
    "agg_corr_exact",
    "llm_dedup_substring_scrub",
    "llm_winnowing",
    "llm_simsearch_rrf",
    "llm_simsearch_ivfpq",
    "llm_bpe_encode",
    "llm_dedup_winnow",
    "llm_mix_apply",
    "llm_judge_quality",
    "llm_quality_gate",
    "llm_dedup_keep_best",
    "llm_simsearch_batch",
    "llm_dedup_rate_by_source",
    "llm_dedup_substring",
    "llm_setsim_prefix",
    "llm_sample_weighted",
    "llm_simsearch_range",
    "cdc_scd2_intervals",
    "stream_interval_join",
    "agg_mad_outliers",
    "dq_constraints",
    "dq_checksum",
    "agg_cov_matrix",
    "llm_kmeans_step",
    "llm_simsearch_mmr",
    "llm_bpe_merge_step",
    "llm_perplexity_proxy",
    "ts_downsample_ohlc",
    "ts_ewma",
    "llm_simsearch_pq",
    "llm_dedup_semdedup",
    "llm_bm25_score",
    "cdc_snapshot_diff",
    "llm_dedup_lsh_cap_loss",
    "fn_duration_format",
    "ts_funnel",
    "llm_pca_power_step",
    "llm_bitext_margin",
    "llm_dsir_weights",
    "llm_dedup_pagerank",
    "llm_contamination_rate",
    "dq_winsorize",
    "dq_benford",
    "agg_skew_kurtosis",
    "graph_triangles",
    "llm_token_coverage",
    "ts_holt",
    "llm_simsearch_ivf_recall",
    "topk_skyline",
    "graph_components",
    "graph_jaccard_edges",
    "ts_holt_winters",
    "agg_ab_ttest",
    "agg_chi_square",
    "llm_simsearch_pq_distortion",
    "ts_acf",
    "ts_forecast_backtest",
    "dq_referential",
    "graph_degree_hist",
    "llm_collocations",
    "ts_xcorr",
    "agg_mannwhitney",
    "agg_bootstrap_ci",
    "ts_lttb",
    "ts_drawdown",
    "dq_drift",
    "llm_mix_budget",
    "graph_triangles_sampled",
    "agg_histogram_equidepth",
    "llm_quality_percentile",
    "llm_minhash_jaccard_est",
    "llm_split_leakage_rate",
    "llm_ngram_novelty",
    "llm_postings_stats",
    "llm_ingest_rekey",
    "llm_dedup_embedding_recall",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    prov = _provenance_start()
    spark = get_spark("nova-pulsar-bench")
    regs = all_queries()

    per_query: dict[str, float] = {}
    for name in (n for n in HEADLINE if n in regs):
        fn = regs[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        per_query[name] = round(best, 4)

    prov["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
    doc = {
        "metric": "headline_queries_total_time",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "provenance": prov,
    }
    print(json.dumps(doc))


def _provenance_start() -> dict:
    load1 = os.getloadavg()[0]
    # Loud, not fatal: a loaded host inflates best-of-N by well over
    # the +-12% noise band; the provenance records it either way.
    if load1 > 0.25 * (os.cpu_count() or 1):
        print(
            f"BENCH WARNING: 1m load average {load1:.2f} at start on "
            f"{os.cpu_count()} cpus — timings may be inflated",
            file=sys.stderr,
        )
    return {
        "policy": f"warm-up run discarded, then best-of-{RUNS} per query; "
        "value = sum of per-query bests",
        "runs": RUNS,
        "cpus": default_parallelism(),
        "host_cpus": os.cpu_count(),
        "loadavg_1m_start": round(load1, 2),
        "git_sha": _git_sha(),
    }


def _git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
