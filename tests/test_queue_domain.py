"""Behavioral assertions for the queue-domain semantics (SURVEY.md §2.9,
FIXTURES.md §B scenarios) — beyond oracle equality, these pin the
*expected* reference behaviors to concrete fixture outcomes."""

from __future__ import annotations

import random
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from nova_pulsar_spark.plans import scheduler as S
from nova_pulsar_spark.plans.fixtures import NOW, PHASES, PLANS, STATUS_EVENTS, Fixture


def test_dep_satisfied_blocks_on_active_and_failed_deps(spark):
    eligible = {r.id for r in S.dep_satisfied(PLANS.spark_df(spark), PHASES.spark_df(spark)).collect()}
    # search overlaps the ACTIVE payments plan; gamma-1300 overlaps the FAILED ingest plan
    assert "plan-20260228-1000" not in eligible
    assert "plan-20260228-1300" not in eligible
    # refactor's deps are both completed
    assert "plan-20260228-0900" in eligible


def test_best_plan_is_oldest_waiting_bug(spark):
    best = S.best_plan(PLANS.spark_df(spark), PHASES.spark_df(spark)).collect()
    assert len(best) == 1
    # bug (base 2) with waited-longest boost (−1) beats security (1) on created tie-break
    assert best[0].id == "plan-20260226-0900"
    assert best[0].priority == 1


def test_completed_guard_suppresses_regression(spark):
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    row = latest.filter(
        (F.col("plan_id") == "plan-20260227-1100") & (F.col("phase") == 1)
    ).collect()[0]
    # a stray `running` update 1 min after `completed` must not regress
    assert row.status == "completed"


def test_stall_detection_10min_boundary(spark):
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    now = F.to_timestamp(F.lit(NOW.strftime("%Y-%m-%d %H:%M:%S")))
    flags = {
        (r.plan_id, r.phase): r.stalled
        for r in S.stalled(latest, now).filter(F.col("plan_id") == "plan-20260227-1100").collect()
    }
    assert flags[("plan-20260227-1100", 2)] is True  # silent 15 min
    assert flags[("plan-20260227-1100", 3)] is False  # 30 s old
    assert flags[("plan-20260227-1100", 4)] is False  # 1 min old
    assert flags[("plan-20260227-1100", 1)] is False  # completed, never stalled


def test_phase_rounds_serialize_conflicts(spark):
    rounds = {
        (r.plan_id, r.phase): r.round
        for r in S.phase_rounds(PHASES.spark_df(spark)).collect()
    }
    # gamma dashboard: phase 4 shares ui/state.ts with phase 3 → round 2
    assert rounds[("plan-20260228-1200", 3)] == 1
    assert rounds[("plan-20260228-1200", 4)] == 2
    # independent phases all round 1
    assert rounds[("plan-20260228-0900", 1)] == 1
    assert rounds[("plan-20260228-0900", 2)] == 1


def test_phase_rounds_raises_on_uncapped_depth(spark):
    """A conflict chain deeper than max_iters must raise, not silently
    truncate: the DuckDB twin (_ROUNDS_SQL) is an unbounded recursive
    CTE, so a silent cap would be a cross-engine divergence (ADVICE r7)."""
    import pytest

    chain = spark.createDataFrame(
        [("p", i, f"phase {i}", [f"f{i}.py", f"f{i+1}.py"], "Low", "a") for i in range(1, 6)],
        "plan_id string, phase int, title string, files array<string>, complexity string, agent string",
    )
    with pytest.raises(ValueError, match="fixpoint"):
        S.phase_rounds(chain, max_iters=2)
    # generous cap converges fine on the same input
    depths = {r.phase: r.round for r in S.phase_rounds(chain, max_iters=16).collect()}
    assert depths == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_model_routing_backward_compat_default(spark):
    routed = {
        (r.plan_id, r.phase): r.model
        for r in PHASES.spark_df(spark)
        .select("plan_id", "phase", S.route_model(F.col("complexity")).alias("model"))
        .collect()
    }
    assert routed[("plan-20260227-1100", 1)] == "opus"  # High (Architectural)
    assert routed[("plan-20260227-1100", 4)] == "sonnet"  # Low
    assert routed[("plan-20260228-0900", 2)] == "sonnet"  # missing complexity → default


def test_critical_files_adjustment_flips_chore_rank(spark):
    """orbiter.md:82 — 'Plan touches critical files (auth, security,
    payments) → -1'. The security-keys chore (created LAST) must rank
    ahead of the earlier-created plain chore purely because of the
    critical-files adjustment."""
    scores = {
        r.id: r.priority
        for r in S.priority_scores(PLANS.spark_df(spark), PHASES.spark_df(spark)).collect()
    }
    assert scores["plan-20260228-1400"] == 4  # chore 5 − critical 1
    assert scores["plan-20260228-1100"] == 5  # chore, no critical files
    assert scores["plan-20260228-1400"] < scores["plan-20260228-1100"]
    # auth-refactor gets the same −1 (base 4 → 3)
    assert scores["plan-20260228-0900"] == 3


def test_stale_heartbeat_active_plan_is_not_live(spark):
    """S10 (starry-daemon.sh:77-85): an active plan file whose agent
    stopped heartbeating days ago is stale state — not activity."""
    from nova_pulsar_spark.plans.queue_queries import scan_active_live

    rows = {r.plan_id: r.live for r in scan_active_live(spark, "unused").collect()}
    assert rows["plan-20260227-1100"] is True  # heartbeat 30 s before NOW
    assert rows["plan-20260224-0850"] is False  # heartbeat days old


def test_resolve_plan_corrupt_queue_file_raises(spark, tmp_path):
    """ADVICE r7 follow-through, closed properly in r8: a corrupt plan
    file must RAISE out of resolve_plan, not be PERMISSIVE-parsed into
    an all-null row that resolves as `load plan None`. The read is
    FAILFAST; only a missing queue DIRECTORY means 'empty queue'."""
    import os

    import pytest

    from nova_pulsar_spark.plans.pulsar import resolve_plan
    from nova_pulsar_spark.streaming.topics import QueueNamespace

    root = str(tmp_path / "comms")
    ns = QueueNamespace(root=root, project="p")
    ns.setup()
    with open(os.path.join(ns.dir_for("queued_interactive"), "bad.json"), "w") as f:
        f.write('{"id": "plan-x", "created_at": TRUNCATED')
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        resolve_plan(spark, root, "p")
    # explicit-id lookup scans the same dir and must also raise
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        resolve_plan(spark, root, "p", "plan-x")


def test_dispatch_corrupt_plan_file_raises(spark, tmp_path):
    """The daemon scan is FAILFAST too — an unreadable plan must not
    silently become an all-null Orbiter candidate (r8, same class)."""
    import json
    import os

    import pytest

    from nova_pulsar_spark.plans.daemon import dispatch_once
    from nova_pulsar_spark.streaming.topics import QueueNamespace

    root = str(tmp_path / "comms")
    ns = QueueNamespace(root=root, project="p")
    ns.setup()
    with open(os.path.join(ns.dir_for("queued_background"), "bad.json"), "w") as f:
        f.write("not json at all")
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        dispatch_once(spark, root)


# --- randomized oracle: the one-pass selection against its SQL twins -----

_STAMPS = [datetime(2026, 2, 24, 9), datetime(2026, 2, 25, 9), datetime(2026, 2, 26, 10),
           datetime(2026, 2, 27, 8), None, None]
_FILES = ["src/auth/api.py", "src/pay/gateway.py", "src/io/writer.py", "README.md",
          "etl/load.py", "docs/security.md"]
_TYPES = ["security", "bug", "feature", "refactor", "chore", "docs", None, "spike"]


def _random_queue(seed: int, with_queued: bool = True) -> tuple[Fixture, Fixture]:
    """Seeded plans/phases tables: few timestamps (ties) plus NULL, a small
    shared file pool (overlaps), plans with no phase rows, phases with no
    or NULL files, phases of an id missing from plans, and three ids in
    two rows each (another project). The two rows of an id never tie on
    created_at, so the O1 order stays total and top-1 is deterministic."""
    rng = random.Random(seed)
    statuses = ["queued"] * 4 + ["active", "completed", "completed", "failed"]
    if not with_queued:
        statuses = [s for s in statuses if s != "queued"]
    plans = [
        (f"plan-{i}", rng.choice(["alpha", "beta"]), rng.choice(_TYPES), rng.choice(statuses),
         rng.choice(_STAMPS), rng.choice([None, 1, 2, 4, 5]))
        for i in range(rng.randint(8, 14))
    ]
    for twin in rng.sample(plans, 3):
        plans.append((twin[0], "gamma", rng.choice(_TYPES), rng.choice(statuses),
                      rng.choice([s for s in _STAMPS if s != twin[4]]), twin[5]))
    phases = []
    for pid in sorted({p[0] for p in plans} | {"plan-orphan"}):
        for ph in range(rng.choice([0, 1, 1, 2, 3])):
            files = None if rng.random() < 0.1 else rng.sample(_FILES, rng.choice([0, 1, 1, 2]))
            phases.append((pid, ph + 1, files))
    return (
        Fixture("plans", (("id", "string"), ("project", "string"), ("type", "string"),
                          ("status", "string"), ("created_at", "timestamp"), ("n_phases", "int")),
                tuple(plans)),
        Fixture("phases", (("plan_id", "string"), ("phase", "int"), ("files", "array<string>")),
                tuple(phases)),
    )


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=lambda r: [(v is None, v if v is not None else 0) for v in r])


@pytest.mark.parametrize("seed,with_queued", [(s, True) for s in range(12)] + [(100, False)])
def test_selection_matches_sql_twins_on_random_queues(spark, seed, with_queued):
    """`dep_satisfied`, `priority_scores` and `best_plan` equal the DuckDB
    bodies of filter_dep_satisfied, project_priority and topk_best_plan
    over the same random tables."""
    import duckdb

    from nova_pulsar_spark.plans import queue_queries as Q

    plans, phases = _random_queue(seed, with_queued)
    p, ph = plans.spark_df(spark), phases.spark_df(spark)
    con = duckdb.connect()

    def oracle(body: str) -> list[tuple]:
        return _sorted_rows(con.execute(Q._sql(body, plans, phases, ctes=(Q.PLAN_FILES_CTE, Q.EDGES_CTE))).fetchall())

    got = {
        "dep_satisfied": S.dep_satisfied(p, ph).select(F.col("id").alias("plan_id"), "project", "type", "created_at"),
        "priority": S.priority_scores(p, ph).select("id", "project", "type", "created_at", "priority"),
        "best": S.best_plan(p, ph).select("id", "project", "type", "created_at", "priority"),
    }
    want = {"dep_satisfied": Q.DEP_SATISFIED_SQL, "priority": Q.PRIORITY_SQL, "best": Q.BEST_PLAN_SQL}
    for name, df in got.items():
        assert _sorted_rows(df.collect()) == oracle(want[name]), name
    if not with_queued:
        assert not oracle(Q.PRIORITY_SQL)
