"""Self-test of the benchmark at a tiny size (sf0.001, one plan).

    python3 perfbench/selftest.py

For every workload it runs the benchmark untraced and traced, and
asserts that the result line carries exactly the metrics BENCHMARK.json
names, each with its unit, and that no operation failed. It then
damages one result before its check (``--corrupt``) and asserts that the
run reports the failure. Exits non-zero on the first broken assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            res = _run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want[trace]))} differ"
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            print(f"ok {w} trace={trace}: {len(got)} metrics, {res['attempted']} attempted")
        bad = _run(w, 0, "--corrupt")
        assert not bad["correct"] and bad["failed"] > 0, f"{w}: corrupted result not caught: {bad}"
        print(f"ok {w} corrupted: failed_frac {bad['failed'] / bad['attempted']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
