"""Profiling harness: per-query timing + plan capture.

For each named query (default: the full bench HEADLINE list) this
times, separately,

- ``build``  — the ``fn(spark, sf_dir)`` call (DataFrame construction:
  py4j round-trips + analysis), and
- ``exec``   — the noop-sink write (optimization + codegen + run),
  best-of-``--runs`` after one warm-up,

and optionally writes ``.explain('formatted')`` to
``plans/r12/<query>_<tag>.txt`` (guide §1: measure first, keep the
plan evidence). Usage:

    python tools/profile_queries.py [--runs N] [--plans TAG] [query ...]

Prints one line per query: ``name build_s exec_s total_s``. Spark
jobs per query (actions inside the query function — count()s,
fixpoint probes) are counted by the traced perfbench run, as
``operators.jobs`` (``python3 perfbench/run.py --workload pipeline
--trace 1``).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nova_pulsar_spark.registry import all_queries
from nova_pulsar_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="write plans/r12/<q>_<TAG>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("nova-pulsar-profile")
    sc = spark.sparkContext
    regs = all_queries()
    names = args.queries
    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in regs]
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12")
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)

    results = []
    for name in names:
        fn = regs[name].fn
        sc.setJobDescription(f"profile:{name}")
        # warm-up (builds any index-store artifacts, fills codegen cache)
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        best_build = best_exec = float("inf")
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            best_build = min(best_build, t1 - t0)
            best_exec = min(best_exec, t2 - t1)
        if args.plans:
            df = fn(spark, args.sf_dir)
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        sc.setJobDescription(None)
        results.append((name, best_build, best_exec))
        print(f"{name:36s} build={best_build:7.3f}s exec={best_exec:7.3f}s total={best_build+best_exec:7.3f}s", flush=True)

    results.sort(key=lambda r: -(r[1] + r[2]))
    print("\n== slowest (build+exec) ==")
    for name, b, e in results[:25]:
        print(f"{b+e:8.3f}s  {name} (build {b:.3f} / exec {e:.3f})")
    print(f"\nTOTAL build={sum(r[1] for r in results):.2f}s exec={sum(r[2] for r in results):.2f}s")


if __name__ == "__main__":
    main()
