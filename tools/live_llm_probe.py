#!/usr/bin/env python
"""S11/L1 live-LLM probe — run the dispatch seam through the REAL
external LLM CLI and commit the transcript.

The reference's signature operator shells out to an LLM for the
dispatch choice (`scripts/starry-daemon.sh:136-151`: `claude -p ...
--model haiku --max-turns 5`), validates the reply against a
`project:plan_id` pattern + queue membership, and falls back to the
deterministic O1 ordering on any failure (`agents/orbiter.md:25-33`).
This tool measures that seam against a real CLI:

probe A ("reference policy"): the scorer prompt states the O1 policy
  (lowest priority, oldest first) — the live model should agree with
  the deterministic pick, proving a valid end-to-end reply.
probe B ("override policy"): the prompt states the OPPOSITE policy
  (newest created_at wins) — the live model's validated reply must
  OVERRIDE the O1 pick, proving the dispatched plan came from the
  external process, not the fallback branch.

Each probe runs the full daemon path (`dispatch_once` → `select_plan`
→ `subprocess_scorer`) against the two-project fixture from
tests/test_daemon.py, with every byte of the exchange recorded:
candidates JSON (stdin), argv, raw stdout reply, the dispatched plan,
and the O1 pick for contrast, in the JSON file named by ``--out``.
On a host without the CLI (or without auth/network) the
failure output is recorded verbatim instead — either way the
acceptance is evidence, not assumption.

Usage: python tools/live_llm_probe.py --out artifacts/<dir>/S11_LIVE.json [--model haiku]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nova_pulsar_spark.session import get_spark  # noqa: E402


def _plan(pid, project, ptype, created, phases, mode="background"):
    return {
        "id": pid,
        "title": pid,
        "project": project,
        "type": ptype,
        "execution_mode": mode,
        "created_at": created,
        "n_phases": len(phases),
        "phases": [
            {"phase": i + 1, "title": f"ph{i+1}", "files": files, "complexity": "Low"}
            for i, files in enumerate(phases)
        ],
    }


def _setup_queues(root):
    from nova_pulsar_spark.streaming.topics import QueueNamespace

    for proj in ("alpha", "beta"):
        QueueNamespace(root=root, project=proj).setup()
    alpha = QueueNamespace(root=root, project="alpha")
    beta = QueueNamespace(root=root, project="beta")
    # beta's bug is oldest-queued -> waited-longest boost -> O1 pick
    beta.enqueue_plan(_plan("plan-20260226-0900", "beta", "bug", "2026-02-26T09:00:00", [["b.py"]]))
    alpha.enqueue_plan(
        _plan("plan-20260228-1000", "alpha", "feature", "2026-02-28T10:00:00", [["a.py"]])
    )


REFERENCE_POLICY = (
    "You are the dispatch scorer for a plan queue (one-shot). The input on "
    "stdin is a JSON list of candidate plans, each with fields id, project, "
    "type, priority (lower number = more urgent) and created_at. Choose the "
    "single plan to dispatch next: the LOWEST priority number, breaking ties "
    "by OLDEST created_at, then lexicographically smallest id. Reply with "
    "EXACTLY one line of the form project:id (for example alpha:plan-1) and "
    "absolutely no other text."
)

OVERRIDE_POLICY = (
    "You are the dispatch scorer for a plan queue (one-shot). The input on "
    "stdin is a JSON list of candidate plans, each with fields id, project, "
    "type, priority and created_at. Policy for this queue: the NEWEST plan "
    "wins — choose the candidate with the most recent created_at, ignoring "
    "priority entirely. Reply with EXACTLY one line of the form project:id "
    "(for example alpha:plan-1) and absolutely no other text."
)


def run_probe(spark, name, prompt, model, now, timeout):
    """One dispatch_once cycle through the live CLI; returns the record."""
    from datetime import datetime

    from nova_pulsar_spark.plans.daemon import dispatch_once
    from nova_pulsar_spark.plans.scheduler import subprocess_scorer

    argv = ["claude", "-p", prompt, "--model", model, "--max-turns", "5"]
    inner = subprocess_scorer(argv, timeout=timeout)
    exchange = {}

    def recording_scorer(candidates):
        exchange["candidates"] = candidates
        t0 = time.time()
        try:
            reply = inner(candidates)
            exchange["raw_reply"] = reply
            return reply
        except subprocess.CalledProcessError as e:  # auth/network/CLI failure
            exchange["error"] = {
                "returncode": e.returncode,
                "stdout": (e.stdout or "")[-2000:],
                "stderr": (e.stderr or "")[-2000:],
            }
            raise
        except Exception as e:  # timeout etc.
            exchange["error"] = {"type": type(e).__name__, "msg": str(e)[:2000]}
            raise
        finally:
            exchange["latency_sec"] = round(time.time() - t0, 3)

    root = tempfile.mkdtemp(prefix=f"s11_probe_{name}_")
    try:
        _setup_queues(root)
        t0 = time.time()
        d = dispatch_once(spark, root, now, scorer=recording_scorer)
        return {
            "probe": name,
            # ADVICE r10: keep the "-p" flag (argv[1]) in the redacted
            # record — only the prompt payload (argv[2]) is replaced.
            "argv": argv[:2] + ["<prompt>"] + argv[3:],  # prompt recorded below
            "prompt": prompt,
            "model": model,
            "candidates_sent": exchange.get("candidates"),
            "raw_reply": exchange.get("raw_reply"),
            "scorer_error": exchange.get("error"),
            "scorer_latency_sec": exchange.get("latency_sec"),
            "dispatch_latency_sec": round(time.time() - t0, 3),
            "dispatched": {"project": d.get("project"), "plan_id": d.get("plan_id")},
            "action": d.get("action"),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    from datetime import datetime

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="path of the JSON transcript")
    ap.add_argument("--model", default="haiku")
    ap.add_argument("--timeout", type=float, default=120.0)
    args = ap.parse_args()

    now = datetime(2026, 3, 1, 12, 0, 0)
    o1_pick = {"project": "beta", "plan_id": "plan-20260226-0900"}  # oldest bug
    override_pick = {"project": "alpha", "plan_id": "plan-20260228-1000"}  # newest

    out = {
        "artifact": "S11_LIVE",
        "generated_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "host_cli": None,
        "o1_deterministic_pick": o1_pick,
        "probes": [],
        "verdict": None,
    }

    cli = shutil.which("claude")
    if cli is None:
        out["host_cli"] = {"present": False}
        out["verdict"] = "cli_absent"
    else:
        try:
            v = subprocess.run(
                ["claude", "--version"], capture_output=True, text=True, timeout=30
            )
            out["host_cli"] = {
                "present": True,
                "path": cli,
                "version": (v.stdout or v.stderr).strip()[:200],
            }
        except Exception as e:
            out["host_cli"] = {"present": True, "path": cli, "version_error": str(e)[:500]}

    if out["verdict"] != "cli_absent":
        spark = get_spark("s11-live-probe")
        a = run_probe(spark, "reference_policy", REFERENCE_POLICY, args.model, now, args.timeout)
        a["expected"] = o1_pick
        a["live_reply_validated_and_won"] = (
            a["scorer_error"] is None
            and a["raw_reply"] is not None
            and a["dispatched"] == o1_pick
        )
        out["probes"].append(a)

        b = run_probe(spark, "override_policy", OVERRIDE_POLICY, args.model, now, args.timeout)
        b["expected"] = override_pick
        # the ONLY way the newest plan gets dispatched is a validated
        # live reply overriding O1 — the fallback branch picks o1_pick.
        b["live_reply_validated_and_won"] = (
            b["scorer_error"] is None
            and b["raw_reply"] is not None
            and b["dispatched"] == override_pick
        )
        out["probes"].append(b)

        if all(p["live_reply_validated_and_won"] for p in out["probes"]):
            out["verdict"] = "live_llm_dispatch_demonstrated"
        elif any(p.get("scorer_error") for p in out["probes"]):
            out["verdict"] = "cli_present_but_invocation_failed"
        else:
            out["verdict"] = "cli_replied_but_pick_unexpected"

    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({"verdict": out["verdict"], "artifact": args.out}))
    return 0 if out["verdict"] == "live_llm_dispatch_demonstrated" else 1


if __name__ == "__main__":
    sys.exit(main())
