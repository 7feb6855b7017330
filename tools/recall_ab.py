"""Attribute the recall ledger's above-linear decade ratio (VERDICT r7 #4).

SCALING2_r07 measured `llm_dedup_embedding_recall` at 13.95x for a 10x
data step (sf0.1 -> x10, 2k -> 20k vecs) — off the superlinear list,
but the ~1.4x excess over linear was asserted ("the 12->16-bit rung
shift in its candidate probe"), not measured. This tool measures it,
decomposing the steady-state per-run time at the big corpus into:

- the candidate-PROBE component: full query vs the same query with the
  candidate frame patched to an empty (pre-checkpointed) frame — the
  difference is exactly the left-join against the banded candidates;
- the RUNG component: candidates rebuilt with the ladder rung PINNED
  to the small corpus's width vs DERIVED (the judge's suggested A/B) —
  both at the big corpus, cache cleared between variants so the probe
  frame really is rebuilt at the pinned rung.

Everything else (the anchors x corpus exact-cosine truth stage, the
anchor count job, the final agg) is the remainder. The truth stage is
~ANCHOR_BUDGET x n folds and is the designed linear term; the probe
and rung components are the candidates for the excess.

All timings use the bench.py method: noop-write materialization,
warm-up run discarded, best-of-RUNS. Monkeypatches are tool-local and
restored; registered plans are untouched.

Usage:
    python tools/recall_ab.py [base_sf_dir] [merge_into.json]

Prints one JSON line; with a second arg, merges itself under
``recall_ab`` in that artifact and extends its note.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nova_pulsar_spark.operators import ann_index, similarity  # noqa: E402
from nova_pulsar_spark.registry import all_queries  # noqa: E402
from nova_pulsar_spark.session import get_spark  # noqa: E402

RUNS = 3


def _best(fn, spark, sf_dir: str) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _clear_cand_cache() -> None:
    ann_index._MEMO.clear()


def main(base: str, merge_into: str | None = None) -> dict:
    spark = get_spark("recall-ab")
    spark.sparkContext.setLogLevel("ERROR")
    fn = all_queries()["llm_dedup_embedding_recall"].fn

    big = tempfile.mkdtemp(prefix="recall_ab_x10_")
    try:
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "make_scaled_sf.py"), base, big, "10"],
            check=True,
            capture_output=True,
        )

        from nova_pulsar_spark.operators.similarity import _bits_for, _corpus_count
        from nova_pulsar_spark.sources.tables import load_table

        n_small = _corpus_count(spark, load_table(spark, base, "embeddings"), base)
        n_big = _corpus_count(spark, load_table(spark, big, "embeddings"), big)
        rung_small, rung_big = _bits_for(n_small), _bits_for(n_big)

        out = {
            "n_vecs_small": n_small,
            "n_vecs_big": n_big,
            "rung_small_bits": rung_small,
            "rung_big_bits": rung_big,
        }

        # stock, derived rung — the SCALING2 measurement reproduced
        _clear_cand_cache()
        out["small_stock"] = _best(fn, spark, base)
        _clear_cand_cache()
        out["big_stock"] = _best(fn, spark, big)
        out["cand_rows_big_derived"] = similarity._sign_lsh_candidates(
            spark, load_table(spark, big, "embeddings"), big
        ).count()
        out["ratio_stock"] = round(out["big_stock"] / out["small_stock"], 2)

        # A/B 1 (judge's): rung PINNED to the small corpus's width at
        # the big corpus — cache cleared so the probe frame rebuilds
        orig_bits_for = similarity._bits_for
        try:
            similarity._bits_for = lambda n: rung_small
            _clear_cand_cache()
            out["big_rung_pinned"] = _best(fn, spark, big)
            out["cand_rows_big_pinned"] = similarity._sign_lsh_candidates(
                spark, load_table(spark, big, "embeddings"), big
            ).count()
        finally:
            similarity._bits_for = orig_bits_for

        # A/B 2: probe-component isolation — same query, candidate
        # frame replaced by an empty checkpointed frame, so the run
        # times ONLY truth stage + anchor count + agg
        from pyspark.sql import functions as F

        empty = (
            load_table(spark, big, "embeddings")
            .select(F.col("vec_id").alias("vec_a"), F.col("vec_id").alias("vec_b"))
            .limit(0)
            .localCheckpoint()
        )
        orig_cand = similarity._sign_lsh_candidates
        try:
            similarity._sign_lsh_candidates = lambda spark, e, sf_dir=None: empty
            out["big_no_probe"] = _best(fn, spark, big)
            out["small_no_probe"] = _best(fn, spark, base)
        finally:
            similarity._sign_lsh_candidates = orig_cand
        _clear_cand_cache()

        out["probe_cost_big"] = round(out["big_stock"] - out["big_no_probe"], 4)
        out["probe_cost_small"] = round(out["small_stock"] - out["small_no_probe"], 4)
        out["rung_shift_cost_big"] = round(out["big_stock"] - out["big_rung_pinned"], 4)
        out["ratio_truth_only"] = round(out["big_no_probe"] / out["small_no_probe"], 2)
        out["note"] = (
            "big_no_probe/small_no_probe is the truth stage's own decade ratio "
            "(~ANCHOR_BUDGET x n folds, the designed linear term + fixed job "
            "overhead); probe_cost_* is the left-join against the banded "
            "candidate frame; rung_shift_cost_big is derived-vs-pinned rung at "
            "the big corpus (the r7 note's asserted attribution, now measured)"
        )
    finally:
        shutil.rmtree(big, ignore_errors=True)

    print(json.dumps(out))
    if merge_into:
        doc = json.load(open(merge_into))
        doc["recall_ab"] = out
        doc["note"] = (
            doc.get("note", "")
            + " | recall_ab (r8, VERDICT r7 #4): the excess over linear is "
            f"measured, not asserted — truth-only decade ratio {out['ratio_truth_only']}x "
            f"vs full-query {out['ratio_stock']}x; candidate-probe join costs "
            f"{out['probe_cost_big']}s at the big corpus (vs {out['probe_cost_small']}s small); "
            f"the {out['rung_small_bits']}->{out['rung_big_bits']}-bit rung shift itself "
            f"costs {out['rung_shift_cost_big']}s (derived vs pinned A/B)"
        )
        with open(merge_into, "w") as f:
            json.dump(doc, f, indent=1)
    return out


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
        sys.argv[2] if len(sys.argv) > 2 else None,
    )
