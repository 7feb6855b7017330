"""Queue-domain engine primitives: dependency graph, priority scoring,
eligibility, best-plan selection, round partitioning.

These are the Spark renditions of the reference's Orbiter scheduler
(`agents/orbiter.md:37-89`: scan queue → dependency detection →
priority scoring → sort → top-1) and the Pulsar round planner
(`commands/pulsar.md:104-157`). They are engine API — reusable
DataFrame transforms over any conforming plans/phases/status tables
(fixture-fed in tests, file/stream-fed in production).

Scale notes: plan/phase metadata is small relative to the data a plan
processes, but the same transforms hold if the queue itself is huge.
Selection (`dep_satisfied`, `priority_scores`, `best_plan`) takes one
pass over the exploded (plan, file) rows: a per-id aggregate broadcast
onto them, one window over ``file`` (shuffle on file) that keeps each
file's best and runner-up creation times, and one ``groupBy(plan_id)``
back to per-plan flags — no edge table, no self-join, never an O(n²)
cross join. `dep_edges` (the explicit edge list, an equi-join on the
file key) is kept for the edge and closure queries. The top-1 is a
``limit`` over an ordering, which Spark runs as a per-partition top-k,
not a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from nova_pulsar_spark.fixpoint import fixpoint

# Reference type→priority table (agents/orbiter.md:68-77).
TYPE_PRIORITY = {"security": 1, "bug": 2, "feature": 3, "refactor": 4, "chore": 5, "docs": 5}

# "Plan touches critical files (auth, security, payments) → -1"
# (agents/orbiter.md:82). Substring patterns over the plan's file set.
CRITICAL_FILE_RE = "auth|security|pay"

# Reference complexity→model routing (commands/pulsar.md:114-137):
# High*/Medium → opus, Low → sonnet, missing → sonnet (backward compat).
def route_model(complexity_col):
    return (
        F.when(complexity_col.startswith("High"), "opus")
        .when(complexity_col == "Medium", "opus")
        .when(complexity_col == "Low", "sonnet")
        .otherwise("sonnet")
    )


def plan_files(phases: DataFrame) -> DataFrame:
    """Distinct (plan_id, file) pairs — a plan's touched-file set."""
    return phases.select("plan_id", F.explode("files").alias("file")).distinct()


def dep_edges(plans: DataFrame, phases: DataFrame) -> DataFrame:
    """Inter-plan dependency edges (J4, `agents/orbiter.md:57-62`):
    B depends on A iff their file sets overlap and A was created first.

    Equi-join on the exploded file key — at scale this shuffles on
    `file`, not all-pairs.
    """
    pf = plan_files(phases)
    a = pf.alias("a").join(plans.select(F.col("id").alias("a_id"), F.col("created_at").alias("a_created")), F.col("a.plan_id") == F.col("a_id"))
    b = pf.alias("b").join(plans.select(F.col("id").alias("b_id"), F.col("created_at").alias("b_created")), F.col("b.plan_id") == F.col("b_id"))
    return (
        a.join(b, (F.col("a.file") == F.col("b.file")) & (F.col("a_id") != F.col("b_id")))
        .filter(F.col("a_created") < F.col("b_created"))
        .select(F.col("a_id").alias("dep_id"), F.col("b_id").alias("plan_id"))
        .distinct()
    )


def plan_flags(plans: DataFrame, phases: DataFrame) -> DataFrame:
    """Per-id dependency flags, from ONE pass over the exploded
    (plan, file) rows — the shared input of `dep_satisfied`,
    `priority_scores` and `best_plan`. One row per plan id that has
    files:

    - ``blocked``: some edge ``dep_id → id`` has a dep with a row that
      is not completed (P1);
    - ``unblocks``: some edge ``id → plan_id`` exists (P9);
    - ``critical``: the plan touches a critical file (P9).

    Same edges as `dep_edges`, without materializing them: over ids, an
    edge A → B on a shared file exists iff min(created_at of A's rows) <
    max(created_at of B's rows). So per file it is enough to know the
    earliest creation among not-completed ids and the latest creation
    among all ids — each as best and runner-up over DISTINCT ids, so a
    row never pairs with its own id (`a.plan_id <> b.plan_id`) even when
    that id sits in several plans rows. One window over ``file``, one
    ``groupBy(plan_id)``; NULL ``created_at``/``file`` never match, as
    in the SQL twin.
    """
    ids = plans.groupBy(F.col("id").alias("plan_id")).agg(
        F.min("created_at").alias("first_created"),
        F.max("created_at").alias("last_created"),
        F.max(F.col("status") != "completed").alias("live"),
    )
    rows = (
        phases.select("plan_id", F.explode("files").alias("file"))
        .filter(F.col("file").isNotNull())
        .join(ids, "plan_id")
    )
    w = W.partitionBy("file")
    dep_c = F.when(F.col("live"), F.col("first_created"))

    def top(value, agg):
        # (value, plan_id) of the per-file extreme over rows with a value
        return agg(F.when(value.isNotNull(), F.struct(value.alias("v"), F.col("plan_id").alias("id")))).over(w)

    def runner_up(value, agg, best):
        return agg(F.when(F.col("plan_id") != F.col(f"{best}.id"), value)).over(w)

    last_c = F.col("last_created")
    rows = (
        rows.withColumn("dep1", top(dep_c, F.min))
        .withColumn("last1", top(last_c, F.max))
        .withColumn("dep2", runner_up(dep_c, F.min, "dep1"))
        .withColumn("last2", runner_up(last_c, F.max, "last1"))
    )
    # earliest not-completed / latest creation among the OTHER ids on this file
    other_dep = F.when(F.col("plan_id") == F.col("dep1.id"), F.col("dep2")).otherwise(F.col("dep1.v"))
    other_last = F.when(F.col("plan_id") == F.col("last1.id"), F.col("last2")).otherwise(F.col("last1.v"))
    return rows.groupBy(F.col("plan_id").alias("id")).agg(
        F.bool_or(other_dep < last_c).alias("blocked"),
        F.bool_or(F.col("first_created") < other_last).alias("unblocks"),
        F.bool_or(F.col("file").rlike(CRITICAL_FILE_RE)).alias("critical"),
    )


def _flag(name: str):
    return F.coalesce(F.col(name), F.lit(False))


def _scored(plans: DataFrame, phases: DataFrame) -> DataFrame:
    """Queued plans with their priority (P9, `agents/orbiter.md:68-83`)
    and ``blocked`` flag: base(type) − 1 if the plan unblocks others −
    1 if it waited longest among queued − 1 if it touches critical
    files (auth/security/payments, orbiter.md:82) + 1 if large (≥4
    phases)."""
    base = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in TYPE_PRIORITY.items() for x in kv]),
            F.col("type"),
        ),
        F.lit(5),
    )
    queued = plans.filter(F.col("status") == "queued")
    waited = queued.select(F.min("created_at").alias("oldest_created"))
    return (
        queued.join(plan_flags(plans, phases), "id", "left")
        .crossJoin(waited)
        .select(
            "id",
            "project",
            "type",
            "created_at",
            (
                base
                - _flag("unblocks").cast("int")
                - F.when(F.col("created_at") == F.col("oldest_created"), 1).otherwise(0)
                - _flag("critical").cast("int")
                + F.when(F.col("n_phases") >= 4, 1).otherwise(0)
            ).cast("int").alias("priority"),
            _flag("blocked").alias("blocked"),
        )
    )


def dep_satisfied(plans: DataFrame, phases: DataFrame) -> DataFrame:
    """Queued plans whose every dependency is completed (P1)."""
    blocked = plan_flags(plans, phases).filter(F.col("blocked")).select("id")
    return plans.filter(F.col("status") == "queued").join(blocked, "id", "left_anti")


def priority_scores(plans: DataFrame, phases: DataFrame) -> DataFrame:
    """Priority projection (P9) of every queued plan; see `_scored`."""
    return _scored(plans, phases).drop("blocked")


# O1 order: lowest priority, then oldest, then id — NULLs last, as in
# the DuckDB twin's ORDER BY (Spark's ascending default puts them first).
def _top(scored: DataFrame, n: int) -> DataFrame:
    return scored.orderBy(
        *(F.col(c).asc_nulls_last() for c in ("priority", "created_at", "id"))
    ).limit(n)


def _eligible_scored(plans: DataFrame, phases: DataFrame) -> DataFrame:
    return _scored(plans, phases).filter(~F.col("blocked")).drop("blocked")


def best_plan(plans: DataFrame, phases: DataFrame) -> DataFrame:
    """Top-1 dispatch choice (O1, `agents/orbiter.md:85-89`): among
    dependency-satisfied queued plans, lowest priority then oldest."""
    return _top(_eligible_scored(plans, phases), 1)


# --- S11/L1: the external-LLM scorer seam --------------------------------
# The reference's signature operator delegates the dispatch choice to an
# external LLM process (`scripts/starry-daemon.sh:136-151`: `claude -p
# ... --model haiku --max-turns 5`), validates the reply against a
# `project:plan_id` pattern, checks the named plan actually exists in
# the queue, and falls back to the deterministic priority ordering when
# anything is off (`agents/orbiter.md:25-33`). `select_plan` reproduces
# that contract with the scorer injectable (any callable — subprocess,
# HTTP, in-process model); no external binary is assumed.
#
# The seam is demonstrated LIVE against a real `claude` CLI
# (tools/live_llm_probe.py → artifacts/r10/S11_LIVE_r10.json): a
# reference-policy probe whose validated reply agreed with O1, and an
# override-policy probe whose validated reply provably OVERRODE the
# deterministic pick — both through the full dispatch_once path in the
# reference's `claude -p … --model haiku --max-turns 5` shape, with
# candidates on stdin instead of embedded in the prompt (ADVICE r10:
# the reference daemon inlines the queue listing in the prompt, adds
# `--allowedTools`/`--output-format text`, and greps `project:plan_id`
# anywhere in the output; the probe takes the first stdout line — same
# CLI contract, simplified transport).

DISPATCH_RE = re.compile(r"^([A-Za-z0-9_.\-]+):([A-Za-z0-9_.\-]+)$")

# Candidates shown to the scorer: the top-N by the deterministic
# ordering. Bounds the prompt/driver footprint no matter the queue size
# (the distributed ordering does the heavy lifting; the scorer picks
# among finalists, same shape as the reference's truncated queue list).
SCORER_CANDIDATES = 16


def select_plan(plans: DataFrame, phases: DataFrame, scorer=None) -> DataFrame:
    """Dispatch selection with the external-scorer seam (S11/L1).

    ``scorer``: ``Callable[[list[dict]], str] | None`` — receives the
    top-``SCORER_CANDIDATES`` eligible plans (as dicts with id/project/
    type/priority/created_at) and returns ``"project:plan_id"``. The
    reply is validated exactly as the reference daemon validates the
    LLM's: pattern match, then membership in the eligible candidate
    set; a scorer exception, malformed reply, or unknown plan falls
    back to the deterministic O1 top-1 (the md-spec's own algorithm).
    With ``scorer=None`` this IS ``best_plan``.
    """
    if scorer is None:
        return best_plan(plans, phases)
    scored = _eligible_scored(plans, phases)
    best = _top(scored, 1)
    finalists = _top(scored, SCORER_CANDIDATES)
    candidates = [
        {k: (v.isoformat() if hasattr(v, "isoformat") else v) for k, v in r.asDict().items()}
        for r in finalists.collect()
    ]
    if not candidates:
        return best
    try:
        reply = scorer(candidates)
    except Exception:
        return best  # scorer crash → deterministic
    m = DISPATCH_RE.match((reply or "").strip())
    if m is None:
        return best  # malformed reply → deterministic
    project, plan_id = m.group(1), m.group(2)
    if not any(c["project"] == project and c["id"] == plan_id for c in candidates):
        return best  # nonexistent plan → deterministic
    return scored.filter((F.col("project") == project) & (F.col("id") == plan_id)).limit(1)


def subprocess_scorer(argv: list[str], timeout: float = 30.0):
    """Adapter running the scorer as an external process — the exact
    shape of the reference's `claude -p` invocation: candidates are
    written to stdin as JSON lines, the first stdout line is the
    reply. Returns a callable for ``select_plan(..., scorer=...)``."""
    import json as _json
    import subprocess as _subprocess

    def _score(candidates: list[dict]) -> str:
        out = _subprocess.run(
            argv,
            input=_json.dumps(candidates),
            capture_output=True,
            text=True,
            timeout=timeout,
            check=True,
        )
        return out.stdout.strip().splitlines()[0] if out.stdout.strip() else ""

    return _score


def phase_conflicts(phases: DataFrame) -> DataFrame:
    """Within-plan phase pairs sharing files (J5,
    `commands/pulsar.md:106-112`): (plan_id, earlier, later)."""
    pf = phases.select("plan_id", "phase", F.explode("files").alias("file"))
    a, b = pf.alias("a"), pf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.plan_id") == F.col("b.plan_id"))
            & (F.col("a.file") == F.col("b.file"))
            & (F.col("a.phase") < F.col("b.phase")),
        )
        .select(F.col("a.plan_id").alias("plan_id"), F.col("a.phase").alias("earlier"), F.col("b.phase").alias("later"))
        .distinct()
    )


def phase_rounds(phases: DataFrame, max_iters: int = 16) -> DataFrame:
    """Round/barrier partitioning (Q4, `commands/pulsar.md:230-268`):
    round(phase) = longest conflict-chain depth; phases in the same
    round run fully parallel, rounds are barriers.

    Iterative frontier relaxation over the conflict DAG — the plan-level
    analog of Spark's own stage scheduling — run by `fixpoint.fixpoint`:
    each step is a distributed join, and the probe is the deepest round
    so far. Depth ≤ max phase count bounds it; a chain deeper than
    ``max_iters`` raises.
    """
    # The conflict edge set is loop-invariant: checkpoint it ONCE so the
    # explode + self-join behind phase_conflicts runs one time, not once
    # per depth level inside every iteration's join plan.
    conflicts = phase_conflicts(phases).localCheckpoint(eager=False)

    def step(rounds: DataFrame) -> DataFrame:
        bumped = (
            conflicts.alias("c")
            .join(
                rounds.alias("r"),
                (F.col("c.plan_id") == F.col("r.plan_id")) & (F.col("c.earlier") == F.col("r.phase")),
            )
            .select(
                F.col("c.plan_id").alias("plan_id"),
                F.col("c.later").alias("phase"),
                (F.col("r.round") + 1).alias("round"),
            )
        )
        return rounds.unionByName(bumped).groupBy("plan_id", "phase").agg(F.max("round").alias("round"))

    start = phases.select("plan_id", "phase").withColumn("round", F.lit(1))
    return fixpoint(start, step, F.max("round"), max_iters, "phase_rounds")


def latest_status(status_events: DataFrame) -> DataFrame:
    """Effective latest status per (project, plan_id, phase) with the
    completed-guard (P3, `hooks/status-tracker.sh:129-138`): terminal
    states are sticky — a stray `running` update arriving after
    `completed` must not regress the phase.

    Implemented as a rank over (terminal DESC, updated_at DESC,
    tool_count DESC): one shuffle on the phase key.
    """
    terminal = F.when(F.col("status").isin("completed", "failed"), 1).otherwise(0)
    w = W.partitionBy("project", "plan_id", "phase").orderBy(
        terminal.desc(), F.col("updated_at").desc(), F.col("tool_count").desc()
    )
    return (
        status_events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def stalled(latest: DataFrame, now_col, threshold_minutes: int = 10) -> DataFrame:
    """Stall detection (W1, `agents/orbiter.md:176-181`): running and
    silent longer than the threshold. ``now_col`` is injected — the
    reference couples to wall clock; tests inject a fixed NOW."""
    age_s = F.unix_timestamp(now_col) - F.unix_timestamp(F.col("updated_at"))
    return latest.withColumn(
        "stalled",
        (F.col("status") == "running") & (age_s > threshold_minutes * 60),
    )
