"""End-to-end dispatcher/monitor cycle over real queue directories —
the reference's §3.3 daemon path on Spark."""

from __future__ import annotations

import json
import os
from datetime import datetime

from nova_pulsar_spark.plans.daemon import dispatch_once, monitor_once
from nova_pulsar_spark.streaming.topics import QueueNamespace, atomic_write_json
from tests.conftest import _jobs_in

NOW = datetime(2026, 3, 1, 12, 0, 0)


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
    for proj in ("alpha", "beta"):
        ns = QueueNamespace(root=root, project=proj)
        ns.setup()
    alpha = QueueNamespace(root=root, project="alpha")
    beta = QueueNamespace(root=root, project="beta")
    # beta's bug is oldest-queued → waited-longest boost → priority 1
    beta.enqueue_plan(_plan("plan-20260226-0900", "beta", "bug", "2026-02-26T09:00:00", [["b.py"]]))
    alpha.enqueue_plan(_plan("plan-20260228-1000", "alpha", "feature", "2026-02-28T10:00:00", [["a.py"]]))
    return alpha, beta


def test_dispatch_picks_best_and_moves_file(spark, tmp_path):
    root = str(tmp_path / "comms")
    _setup_queues(root)
    d = dispatch_once(spark, root, NOW)
    assert d["action"] == "dispatch"
    assert d["plan_id"] == "plan-20260226-0900" and d["project"] == "beta"
    # file physically moved queued → active
    assert os.path.exists(os.path.join(root, "beta", "active", "plan-20260226-0900.json"))
    assert not os.path.exists(
        os.path.join(root, "beta", "queued", "background", "plan-20260226-0900.json")
    )
    # board updated
    board = json.load(open(os.path.join(root, "board.json")))
    assert board["entries"][0]["status"] == "active"
    # log appended
    assert "dispatch" in open(os.path.join(root, "daemon.log")).read()


def test_dispatch_gate_blocks_second_cycle(spark, tmp_path):
    root = str(tmp_path / "comms2")
    _setup_queues(root)
    assert dispatch_once(spark, root, NOW)["action"] == "dispatch"
    # one plan is now active → at-most-one-active gate
    d2 = dispatch_once(spark, root, NOW)
    assert d2["action"] == "wait"
    assert d2["n_active"] == 1


def test_dispatch_idle_when_empty(spark, tmp_path):
    """Empty state dirs, interactive-only plans and a root without
    projects all log idle, never scan_error."""
    from nova_pulsar_spark.plans.daemon import scan_namespaces

    root = str(tmp_path / "comms3")
    QueueNamespace(root=root, project="alpha").setup()
    only_interactive = str(tmp_path / "comms3_ia")
    ns = QueueNamespace(root=only_interactive, project="alpha")
    ns.setup()
    ns.enqueue_plan(_plan("plan-ia", "alpha", "bug", "2026-02-20T09:00:00", [["a.py"]]), interactive=True)
    no_projects = str(tmp_path / "comms3_none")
    for r in (root, only_interactive, no_projects):
        assert dispatch_once(spark, r, NOW)["action"] == "idle", r
        last = open(os.path.join(r, "daemon.log")).read().strip().splitlines()[-1]
        assert json.loads(last.split(" - ", 1)[1])["action"] == "idle"
    assert scan_namespaces(spark, no_projects) is None


def test_watcher_auto_exit(spark, tmp_path):
    from nova_pulsar_spark.plans.daemon import watcher_should_exit

    root = str(tmp_path / "comms_exit")
    _setup_queues(root)
    # queued-only → nothing to watch → exit
    assert watcher_should_exit(spark, root) is True
    dispatch_once(spark, root, NOW)
    # one plan active → keep watching
    assert watcher_should_exit(spark, root) is False


def test_monitor_writes_pulse_and_incidents(spark, tmp_path):
    root = str(tmp_path / "comms4")
    ns = QueueNamespace(root=root, project="alpha")
    ns.setup()
    status_dir = ns.dir_for("status")
    base = {
        "task_id": "phase-1-p1",
        "project": "alpha",
        "plan_id": "p1",
        "phase": 1,
        "thread_id": "th",
        "last_tool": "Edit",
        "last_file": "x.py",
        "started_at": "2026-03-01T11:00:00",
        "completed_at": None,
    }
    atomic_write_json(status_dir, "p1-1.json", {**base, "status": "running", "tool_count": 4, "updated_at": "2026-03-01T11:40:00"})
    atomic_write_json(status_dir, "p1-2.json", {**base, "task_id": "phase-2-p1", "phase": 2, "status": "running", "tool_count": 9, "updated_at": "2026-03-01T11:58:00"})
    pulse = monitor_once(spark, root, NOW)
    assert pulse["rounds"][0]["plan_id"] == "p1"
    flags = {p["phase"]: p["stalled"] for p in pulse["rounds"][0]["phases"]}
    assert flags[1] is True and flags[2] is False  # 20 min vs 2 min silence
    assert len(pulse["incidents"]) == 1
    assert pulse["incidents"][0]["stalled_for_minutes"] == 20
    # pulse.json atomically published
    assert json.load(open(os.path.join(root, "pulse.json")))["incidents"]


# --- S11/L1: the external-scorer seam ------------------------------------


def test_dispatch_with_external_scorer_overrides_deterministic(spark, tmp_path):
    """An injected scorer (the `claude -p` seam) picks a DIFFERENT
    eligible plan than the O1 ordering — its validated choice wins."""
    root = str(tmp_path / "comms_llm")
    _setup_queues(root)
    seen = {}

    def scorer(candidates):
        seen["candidates"] = candidates
        # deterministically pick the NON-top choice to prove the seam
        return "alpha:plan-20260228-1000"

    d = dispatch_once(spark, root, NOW, scorer=scorer)
    assert d["action"] == "dispatch"
    assert (d["project"], d["plan_id"]) == ("alpha", "plan-20260228-1000")
    assert os.path.exists(os.path.join(root, "alpha", "active", "plan-20260228-1000.json"))
    # the scorer saw both eligible finalists with their scores
    ids = {c["id"] for c in seen["candidates"]}
    assert ids == {"plan-20260226-0900", "plan-20260228-1000"}
    assert all("priority" in c and "project" in c for c in seen["candidates"])


def test_dispatch_scorer_invalid_output_falls_back_to_o1(spark, tmp_path):
    """Malformed reply, nonexistent plan, or scorer crash → the
    deterministic O1 choice (the reference daemon's fallback branch)."""
    for i, bad_scorer in enumerate(
        [
            lambda c: "not a valid dispatch line",     # fails the regex
            lambda c: "ghost:plan-99999999-0000",      # existence check fails
            lambda c: (_ for _ in ()).throw(RuntimeError("llm down")),  # crash
        ]
    ):
        root = str(tmp_path / f"comms_fb{i}")
        _setup_queues(root)
        d = dispatch_once(spark, root, NOW, scorer=bad_scorer)
        assert d["action"] == "dispatch"
        # O1 deterministic pick: beta's oldest bug plan
        assert (d["project"], d["plan_id"]) == ("beta", "plan-20260226-0900")


def test_dispatch_subprocess_scorer_end_to_end(spark, tmp_path):
    """The scorer as a real external process (stdin JSON → stdout
    reply), matching the reference's subprocess invocation shape."""
    import sys

    from nova_pulsar_spark.plans.scheduler import subprocess_scorer

    root = str(tmp_path / "comms_proc")
    _setup_queues(root)
    # echo back the LAST candidate project:id (≠ the deterministic top)
    prog = (
        "import json, sys; c = json.load(sys.stdin); "
        "print(c[-1]['project'] + ':' + c[-1]['id'])"
    )
    d = dispatch_once(spark, root, NOW, scorer=subprocess_scorer([sys.executable, "-c", prog]))
    assert d["action"] == "dispatch"
    assert (d["project"], d["plan_id"]) == ("alpha", "plan-20260228-1000")


def test_live_llm_transcript_replays_deterministically(spark, tmp_path):
    """The committed live-CLI transcript (S11_LIVE_r10.json, recorded
    by tools/live_llm_probe.py against a real external LLM process) is
    a REPLAYABLE regression: feeding each probe's recorded raw reply
    through the same dispatch path via an injected scorer must
    dispatch the same plan the live run dispatched. Pins that the
    validation seam (regex + candidate membership + fallback) still
    treats the recorded replies identically — no CLI needed."""
    import glob

    transcripts = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "artifacts", "r*", "S11_LIVE_r*.json")))
    if not transcripts:
        import pytest

        pytest.skip("no committed live-LLM transcript")
    doc = json.load(open(transcripts[-1]))
    assert doc["verdict"] == "live_llm_dispatch_demonstrated"
    for i, probe in enumerate(doc["probes"]):
        root = str(tmp_path / f"replay{i}")
        _setup_queues(root)
        d = dispatch_once(spark, root, NOW, scorer=lambda cands, r=probe["raw_reply"]: r)
        assert d["action"] == "dispatch"
        assert {"project": d["project"], "plan_id": d["plan_id"]} == probe["dispatched"], (
            f"probe {probe['probe']}: replayed reply {probe['raw_reply']!r} no longer "
            f"dispatches what the live run dispatched"
        )
        # the recorded candidate set matches what this fixture produces
        assert {c["id"] for c in probe["candidates_sent"]} == {
            "plan-20260226-0900",
            "plan-20260228-1000",
        }


def test_pid_alive_probe_real_process_table():
    """VERDICT r8 #2 / ADVICE r8: the production default probes the
    process table like the reference's `ps -p` (starry-daemon.sh:77-85)
    — alive for this interpreter, dead for an exited child, dead for
    non-positive pids."""
    import subprocess

    from nova_pulsar_spark.plans.daemon import pid_alive_probe

    assert pid_alive_probe(os.getpid()) is True
    child = subprocess.Popen(["true"])
    child.wait()  # reaped by Popen → the pid is gone from the table
    assert pid_alive_probe(child.pid) is False
    assert pid_alive_probe(0) is False
    assert pid_alive_probe(-1) is False
    # ADVICE r9: a pid beyond C-int range makes os.kill raise
    # OverflowError (not OSError) — the probe must report dead, not
    # let one garbage pid file halt the whole dispatch cycle
    assert pid_alive_probe(2**63) is False


def test_stale_pid_file_redispatches_under_default_probe(spark, tmp_path):
    """The regression the old presence-equals-alive default would fail:
    a consumer that died between spawn and activation leaves a stale
    pid file, and a cycle with NO injected pid_alive must re-dispatch
    (crashed-consumer recovery) instead of parking in wait_in_flight
    forever."""
    import subprocess

    from nova_pulsar_spark.plans.pulsar import pulsar_auto

    root = str(tmp_path / "comms_stale")
    _setup_queues(root)
    dead = subprocess.Popen(["true"])
    dead.wait()
    handoffs = []

    def handoff(r, p, pl):
        rec = pulsar_auto(r, p, pl, now=NOW, pid=dead.pid)
        handoffs.append(rec)
        return rec

    d1 = dispatch_once(spark, root, NOW, handoff=handoff)
    assert d1["action"] == "dispatch"
    # consumer crashed before activating: plan still queued, pid dead.
    # Default probe (no pid_alive arg) must detect it and re-dispatch.
    d2 = dispatch_once(spark, root, NOW, handoff=handoff)
    assert d2["action"] == "dispatch"
    assert d2["plan_id"] == d1["plan_id"]
    assert len(handoffs) == 2


def test_live_pid_file_waits_under_default_probe(spark, tmp_path):
    """Counterpart: a genuinely live consumer pid parks the next cycle
    in wait_in_flight under the default probe."""
    import subprocess
    import sys

    from nova_pulsar_spark.plans.pulsar import pulsar_auto

    root = str(tmp_path / "comms_live")
    _setup_queues(root)
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        d1 = dispatch_once(
            spark, root, NOW, handoff=lambda r, p, pl: pulsar_auto(r, p, pl, now=NOW, pid=live.pid)
        )
        assert d1["action"] == "dispatch"
        d2 = dispatch_once(
            spark, root, NOW, handoff=lambda r, p, pl: pulsar_auto(r, p, pl, now=NOW, pid=live.pid)
        )
        assert d2["action"] == "wait_in_flight"
        assert d2["in_flight"] == [d1["plan_id"]]
    finally:
        live.kill()
        live.wait()


def test_finalize_removes_pid_file(tmp_path):
    """ADVICE r8 (documented choice): finalize_plan cleans up the
    handoff pid file so logs/ never accumulates stale pids and a
    recycled OS pid cannot make a finished plan look in-flight."""
    from nova_pulsar_spark.plans.pulsar import finalize_plan

    root = str(tmp_path / "comms_fin")
    ns = QueueNamespace(root=root, project="alpha")
    ns.setup()
    ns.enqueue_plan(_plan("plan-x", "alpha", "bug", "2026-02-26T09:00:00", [["a.py"]]))
    ns.move_plan("plan-x", "queued_background", "active")
    logs = os.path.join(root, "alpha", "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, "plan-x.pid"), "w") as f:
        f.write("12345\n")
    with open(os.path.join(logs, "plan-x.log"), "w") as f:
        f.write("{}\n")
    finalize_plan(root, "alpha", "plan-x", NOW)
    assert not os.path.exists(os.path.join(logs, "plan-x.pid"))
    assert os.path.exists(os.path.join(logs, "plan-x.log"))  # audit trail stays


def test_corrupt_scan_logs_scan_error_not_idle(spark, tmp_path):
    """ADVICE r8: a FAILFAST scan crash must be visible in daemon.log
    as scan_error (with the exception string), never recorded as a
    normal idle cycle."""
    import pytest

    # every scanned state dir is read FAILFAST, not only the queue
    for sub in ("queued/background", "active", "completed"):
        root = str(tmp_path / "comms_corrupt" / sub.replace("/", "_"))
        _setup_queues(root)
        bad = os.path.join(root, "alpha", sub, "zz-corrupt.json")
        with open(bad, "w") as f:
            f.write('{"id": "broken", ')  # truncated JSON
        with pytest.raises(Exception):
            dispatch_once(spark, root, NOW)
        last = open(os.path.join(root, "daemon.log")).read().strip().splitlines()[-1]
        rec = json.loads(last.split(" - ", 1)[1])
        assert rec["action"] == "scan_error"
        assert rec["error"]


# --- the one-listing scan and the cycle's Spark job budget ---------------


def test_scan_reads_three_state_dirs_in_one_listing(spark, tmp_path):
    """Each plan's status comes from its state dir; interactive plans and
    atomic-write temp files are not scanned."""
    from nova_pulsar_spark.plans.daemon import scan_namespaces

    root = str(tmp_path / "comms_scan")
    alpha, beta = _setup_queues(root)
    beta.move_plan("plan-20260226-0900", "queued_background", "active")
    beta.enqueue_plan(_plan("plan-done", "beta", "docs", "2026-02-20T09:00:00", [["d.md"]]))
    beta.move_plan("plan-done", "queued_background", "completed")
    alpha.enqueue_plan(_plan("plan-ia", "alpha", "bug", "2026-02-20T09:00:00", [["a.py"]]), interactive=True)
    # temp files of writes caught before their rename (partial JSON)
    for name in (".tmp-x7k2-0a1b2c3d", ".tmp-partial.json"):
        with open(os.path.join(alpha.dir_for("queued_background"), name), "w") as f:
            f.write('{"id": "half-written", ')
    got = {(r.id, r.project, r.status) for r in scan_namespaces(spark, root).collect()}
    assert got == {
        ("plan-20260228-1000", "alpha", "queued"),
        ("plan-20260226-0900", "beta", "active"),
        ("plan-done", "beta", "completed"),
    }


def test_cycle_stays_within_job_budget(spark, tmp_path):
    """One listing, one counts aggregate and one selection plan per
    dispatch cycle (≤ 12 Spark jobs); one status rollup per watcher
    cycle (≤ 6). The budget holds up to 10 projects, while Spark lists
    the projects × 3 state dirs without a job (`daemon._read_plans`)."""
    root = str(tmp_path / "comms_budget")
    projects = [QueueNamespace(root=root, project=p) for p in ("alpha", "beta", "gamma")]
    for i, ns in enumerate(projects):
        ns.setup()
        for k in range(3):
            files = [[f"src/{ns.project}/m{k}.py", "src/shared/auth.py" if k == 0 else f"t{k}.py"]]
            ns.enqueue_plan(_plan(f"plan-{ns.project}-{k}", ns.project, ("bug", "feature", "chore")[k],
                                  f"2026-02-2{i + 1}T0{k}:00:00", files))
        ns.enqueue_plan(_plan(f"plan-{ns.project}-old", ns.project, "docs", "2026-02-01T09:00:00", [["README.md"]]))
        ns.move_plan(f"plan-{ns.project}-old", "queued_background", "completed")
    d, jobs = _jobs_in(spark, f"budget-dispatch-{tmp_path.name}", lambda: dispatch_once(spark, root, NOW))
    assert d["action"] == "dispatch"
    assert jobs <= 12, f"dispatch_once ran {jobs} Spark jobs"
    ns = next(p for p in projects if p.project == d["project"])
    atomic_write_json(ns.dir_for("status"), "s1.json", {
        "task_id": "phase-1", "project": d["project"], "plan_id": d["plan_id"], "phase": 1,
        "thread_id": "th", "status": "running", "tool_count": 3, "last_tool": "Edit",
        "last_file": "x.py", "updated_at": "2026-03-01T11:30:00", "started_at": "2026-03-01T11:00:00",
        "completed_at": None,
    })
    pulse, jobs = _jobs_in(spark, f"budget-monitor-{tmp_path.name}", lambda: monitor_once(spark, root, NOW))
    assert pulse["incidents"] and pulse["rounds"]
    assert jobs <= 6, f"monitor_once ran {jobs} Spark jobs"
