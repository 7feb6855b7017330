"""Queue-domain operators (SURVEY.md §2.1-§2.7 reference parity),
oracle-checked on the deterministic fixtures in
:mod:`nova_pulsar_spark.plans.fixtures`.

Every query here is the Spark rendition of a concrete reference
behavior (citations on each). The Spark side builds DataFrames from
the fixtures and applies engine primitives from
:mod:`nova_pulsar_spark.plans.scheduler`; the oracle side runs the
same fixture rows as DuckDB VALUES CTEs — so the driver's t2 gate
checks real queue semantics, not just TPC-H shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nova_pulsar_spark.fixpoint import fixpoint
from nova_pulsar_spark.plans import scheduler as S
from nova_pulsar_spark.plans.fixtures import (
    BOARD,
    CONFIGS,
    MARKERS,
    NOW,
    NOW_SQL,
    PHASES,
    PLAN_DOCS,
    PLANS,
    STATUS_EVENTS,
)
from nova_pulsar_spark.registry import register


def _sql(body: str, *fixtures, ctes: tuple[str, ...] = ()) -> str:
    parts = [f.values_cte() for f in fixtures] + list(ctes)
    return "WITH\n  " + ",\n  ".join(parts) + "\n" + body


PLAN_FILES_CTE = (
    "plan_files AS (SELECT DISTINCT plan_id, UNNEST(files) AS file FROM phases)"
)
EDGES_CTE = """edges AS (
    SELECT DISTINCT a.plan_id AS dep_id, b.plan_id AS plan_id
    FROM plan_files a
    JOIN plan_files b ON a.file = b.file AND a.plan_id <> b.plan_id
    JOIN plans pa ON a.plan_id = pa.id
    JOIN plans pb ON b.plan_id = pb.id
    WHERE pa.created_at < pb.created_at)"""
LATEST_CTE = """latest AS (
    SELECT task_id, project, plan_id, phase, thread_id, status, tool_count,
           last_tool, last_file, updated_at, started_at, completed_at
    FROM (
      SELECT se.*, ROW_NUMBER() OVER (
        PARTITION BY project, plan_id, phase
        ORDER BY CASE WHEN status IN ('completed','failed') THEN 1 ELSE 0 END DESC,
                 updated_at DESC, tool_count DESC) AS rn
      FROM status_events se) t
    WHERE rn = 1)"""


# ---------------------------------------------------------------------------
# Scans (S1-S6)
# ---------------------------------------------------------------------------


@register(
    "scan_queue",
    sql=_sql(
        """
        SELECT project, id AS plan_id,
               '/comms/plans/' || project || '/queued/background/' || id || '.md' AS path
        FROM plans WHERE status = 'queued' AND execution_mode = 'background'
        """,
        PLANS,
    ),
    doc="S1: queue directory scan → (project, plan_id) pairs (starry-daemon.sh:91-103)",
)
def scan_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    return p.filter((F.col("status") == "queued") & (F.col("execution_mode") == "background")).select(
        "project",
        F.col("id").alias("plan_id"),
        F.concat(
            F.lit("/comms/plans/"), F.col("project"), F.lit("/queued/background/"), F.col("id"), F.lit(".md")
        ).alias("path"),
    )


@register(
    "scan_active",
    sql=_sql(
        """
        SELECT project,
               CAST(SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
               CASE WHEN SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END) > 0
                    THEN TRUE ELSE FALSE END AS any_active
        FROM plans GROUP BY project
        """,
        PLANS,
    ),
    doc="S3: active-plan scan per project (starry-daemon.sh:66-88)",
)
def scan_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    n_active = F.sum(F.when(F.col("status") == "active", 1).otherwise(0))
    return p.groupBy("project").agg(
        n_active.alias("n_active"), (n_active > 0).alias("any_active")
    )


@register(
    "scan_active_live",
    sql=_sql(
        f"""
        SELECT p.project, p.id AS plan_id,
               CASE WHEN hb.last_beat IS NOT NULL
                     AND EPOCH_US({NOW_SQL}) - EPOCH_US(hb.last_beat) <= 600000000
                    THEN TRUE ELSE FALSE END AS live
        FROM plans p
        LEFT JOIN hb ON hb.plan_id = p.id
        WHERE p.status = 'active'
        """,
        PLANS,
        STATUS_EVENTS,
        ctes=(
            "hb AS (SELECT plan_id, MAX(updated_at) AS last_beat FROM status_events GROUP BY plan_id)",
        ),
    ),
    doc="S10: PID-liveness analog (starry-daemon.sh:77-85) — an active plan "
    "counts as LIVE only with a heartbeat fresher than the stall window; "
    "a present plan file with a dead agent is stale state, not activity",
)
def scan_active_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference probes `ps -p $(cat pid)`; the engine's analog is
    the W1 age predicate over the plan's newest status heartbeat — the
    same signal the stall detector uses, evaluated at the injected NOW.
    """
    p = PLANS.spark_df(spark)
    hb = (
        STATUS_EVENTS.spark_df(spark)
        .groupBy("plan_id")
        .agg(F.max("updated_at").alias("last_beat"))
    )
    now_col = F.to_timestamp(F.lit(NOW.strftime("%Y-%m-%d %H:%M:%S")))
    live = (
        F.col("last_beat").isNotNull()
        & ((F.unix_micros(now_col) - F.unix_micros(F.col("last_beat"))) <= 600_000_000)
    )
    return (
        p.filter(F.col("status") == "active")
        .join(hb, p.id == hb.plan_id, "left")
        .select("project", F.col("id").alias("plan_id"), live.alias("live"))
    )


@register(
    "scan_status",
    sql=_sql(
        "SELECT project, plan_id, phase, status, tool_count, last_tool, updated_at FROM latest",
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="S4: effective latest status per phase, completed-guard applied (pulsar-status.md:155-165 + status-tracker.sh:129-138)",
)
def scan_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    return latest.select("project", "plan_id", "phase", "status", "tool_count", "last_tool", "updated_at")


@register(
    "plan_metadata_extract",
    sql=_sql(
        r"""
        SELECT
          plan_id,
          regexp_extract(md_text, '\*\*Project Path\*\*: (.+)', 1) AS project_path,
          NULLIF(regexp_extract(md_text, '\*\*Thread ID\*\*: (.+)', 1), 'null') AS thread_id,
          regexp_extract(md_text, '\*\*Type\*\*: (\w+)', 1) AS plan_type
        FROM plan_docs
        """,
        PLAN_DOCS,
    ),
    doc="S5: semi-structured metadata extraction from plan markdown (pulsar-auto.sh:50-62)",
)
def plan_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = PLAN_DOCS.spark_df(spark)
    return d.select(
        "plan_id",
        F.regexp_extract("md_text", r"\*\*Project Path\*\*: (.+)", 1).alias("project_path"),
        F.nullif(
            F.regexp_extract("md_text", r"\*\*Thread ID\*\*: (.+)", 1), F.lit("null")
        ).alias("thread_id"),
        F.regexp_extract("md_text", r"\*\*Type\*\*: (\w+)", 1).alias("plan_type"),
    )


@register(
    "board_upsert",
    sql=_sql(
        """
        SELECT
          COALESCE(b.id, p.id) AS id,
          COALESCE(b.project, p.project) AS project,
          COALESCE(p.status, b.status) AS status,
          COALESCE(b.path,
            '/comms/plans/' || p.project || '/' ||
            CASE WHEN p.status = 'queued' AND p.execution_mode = 'interactive' THEN 'queued/interactive'
                 WHEN p.status = 'queued' THEN 'queued/background'
                 ELSE p.status END || '/' || p.id || '.md') AS path,
          CASE WHEN b.id IS NULL THEN TRUE ELSE FALSE END AS is_new
        FROM board b FULL OUTER JOIN plans p ON b.id = p.id
        """,
        BOARD,
        PLANS,
    ),
    doc="S6: board MERGE-style upsert (nova.md:281,475-491; pulsar.md:160-165)",
)
def board_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = BOARD.spark_df(spark).alias("b")
    p = PLANS.spark_df(spark).alias("p")
    queue_dir = (
        F.when(
            (F.col("p.status") == "queued") & (F.col("p.execution_mode") == "interactive"),
            "queued/interactive",
        )
        .when(F.col("p.status") == "queued", "queued/background")
        .otherwise(F.col("p.status"))
    )
    new_path = F.concat(
        F.lit("/comms/plans/"), F.col("p.project"), F.lit("/"), queue_dir, F.lit("/"), F.col("p.id"), F.lit(".md")
    )
    return b.join(p, F.col("b.id") == F.col("p.id"), "full_outer").select(
        F.coalesce(F.col("b.id"), F.col("p.id")).alias("id"),
        F.coalesce(F.col("b.project"), F.col("p.project")).alias("project"),
        F.coalesce(F.col("p.status"), F.col("b.status")).alias("status"),
        F.coalesce(F.col("b.path"), new_path).alias("path"),
        F.col("b.id").isNull().alias("is_new"),
    )


# ---------------------------------------------------------------------------
# Filters / projections (P1-P11)
# ---------------------------------------------------------------------------


# The Orbiter's three selection bodies (P1, P9, O1) over `plans` and
# `phases` plus PLAN_FILES_CTE/EDGES_CTE; module constants so tests can
# run them over other fixture tables.
DEP_SATISFIED_SQL = """
        SELECT p.id AS plan_id, p.project, p.type, p.created_at
        FROM plans p
        WHERE p.status = 'queued'
          AND NOT EXISTS (
            SELECT 1 FROM edges e JOIN plans d ON e.dep_id = d.id
            WHERE e.plan_id = p.id AND d.status <> 'completed')
        """
_PRIORITY_EXPR = """CAST(
            CASE p.type WHEN 'security' THEN 1 WHEN 'bug' THEN 2 WHEN 'feature' THEN 3
                        WHEN 'refactor' THEN 4 ELSE 5 END
            - CASE WHEN EXISTS (SELECT 1 FROM edges e WHERE e.dep_id = p.id) THEN 1 ELSE 0 END
            - CASE WHEN p.created_at = (SELECT MIN(created_at) FROM plans WHERE status = 'queued')
                   THEN 1 ELSE 0 END
            - CASE WHEN EXISTS (SELECT 1 FROM plan_files f WHERE f.plan_id = p.id
                                AND regexp_matches(f.file, 'auth|security|pay'))
                   THEN 1 ELSE 0 END
            + CASE WHEN p.n_phases >= 4 THEN 1 ELSE 0 END
          AS INTEGER)"""
PRIORITY_SQL = f"""
        SELECT
          p.id, p.project, p.type, p.created_at,
          {_PRIORITY_EXPR} AS priority
        FROM plans p WHERE p.status = 'queued'
        """
BEST_PLAN_SQL = f"""
        SELECT id, project, type, created_at, priority FROM (
          SELECT
            p.id, p.project, p.type, p.created_at,
            {_PRIORITY_EXPR} AS priority
          FROM plans p
          WHERE p.status = 'queued'
            AND NOT EXISTS (
              SELECT 1 FROM edges e JOIN plans d ON e.dep_id = d.id
              WHERE e.plan_id = p.id AND d.status <> 'completed')
        ) scored
        ORDER BY priority, created_at, id LIMIT 1
        """


@register(
    "filter_dep_satisfied",
    sql=_sql(DEP_SATISFIED_SQL, PLANS, PHASES, ctes=(PLAN_FILES_CTE, EDGES_CTE)),
    doc="P1: dependency-satisfied filter — semi/anti join pipeline (orbiter.md:57-66,85-87)",
)
def filter_dep_satisfied(spark: SparkSession, sf_dir: str) -> DataFrame:
    eligible = S.dep_satisfied(PLANS.spark_df(spark), PHASES.spark_df(spark))
    return eligible.select(F.col("id").alias("plan_id"), "project", "type", "created_at")


@register(
    "gate_single_active",
    sql=_sql(
        """
        SELECT
          CAST(SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
          CAST(SUM(CASE WHEN status = 'queued' THEN 1 ELSE 0 END) AS BIGINT) AS n_queued,
          CASE WHEN SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END) > 0
               THEN 'wait' ELSE 'dispatch' END AS decision
        FROM plans
        """,
        PLANS,
    ),
    doc="P2: global at-most-one-active admission gate (starry-daemon.sh:182-185)",
)
def gate_single_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    n_active = F.sum(F.when(F.col("status") == "active", 1).otherwise(0))
    n_queued = F.sum(F.when(F.col("status") == "queued", 1).otherwise(0))
    return p.agg(
        n_active.alias("n_active"),
        n_queued.alias("n_queued"),
        F.when(n_active > 0, "wait").otherwise("dispatch").alias("decision"),
    )


@register(
    "guard_completed",
    sql=_sql(
        """
        SELECT l.project, l.plan_id, l.phase,
               l.status AS effective_status,
               r.status AS raw_latest_status,
               CASE WHEN l.status <> r.status THEN TRUE ELSE FALSE END AS regression_suppressed
        FROM latest l
        JOIN (
          SELECT project, plan_id, phase, status FROM (
            SELECT se.*, ROW_NUMBER() OVER (
              PARTITION BY project, plan_id, phase
              ORDER BY updated_at DESC, tool_count DESC) AS rn
            FROM status_events se) t WHERE rn = 1) r
          ON l.project = r.project AND l.plan_id = r.plan_id AND l.phase = r.phase
        """,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="P3: completed-status write guard — terminal states sticky (status-tracker.sh:129-138)",
)
def guard_completed(spark: SparkSession, sf_dir: str) -> DataFrame:
    se = STATUS_EVENTS.spark_df(spark)
    guarded = S.latest_status(se).select("project", "plan_id", "phase", F.col("status").alias("effective_status"))
    w = W.partitionBy("project", "plan_id", "phase").orderBy(
        F.col("updated_at").desc(), F.col("tool_count").desc()
    )
    raw = (
        se.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("project", "plan_id", "phase", F.col("status").alias("raw_latest_status"))
    )
    return guarded.join(raw, ["project", "plan_id", "phase"]).select(
        "project",
        "plan_id",
        "phase",
        "effective_status",
        "raw_latest_status",
        (F.col("effective_status") != F.col("raw_latest_status")).alias("regression_suppressed"),
    )


@register(
    "filter_marker_claim",
    sql=_sql(
        """
        SELECT session_id, project, plan_id, phase, pid,
               CASE WHEN pid = '40002' THEN 'mine'
                    WHEN pid IS NULL THEN 'claimable'
                    ELSE 'other' END AS claim_kind
        FROM markers
        WHERE pid = '40002' OR pid IS NULL
        """,
        MARKERS,
    ),
    doc="P4: marker-claim predicate — own pid or unclaimed (status-tracker.sh:49-69, session-start.sh:44-70)",
)
def filter_marker_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = MARKERS.spark_df(spark)
    me = "40002"
    return m.filter((F.col("pid") == me) | F.col("pid").isNull()).select(
        "session_id",
        "project",
        "plan_id",
        "phase",
        "pid",
        F.when(F.col("pid") == me, "mine")
        .when(F.col("pid").isNull(), "claimable")
        .otherwise("other")
        .alias("claim_kind"),
    )


@register(
    "filter_queue_kind",
    sql=_sql(
        """
        SELECT id AS plan_id, project, execution_mode
        FROM plans
        WHERE status = 'queued' AND execution_mode = 'background'
        """,
        PLANS,
    ),
    doc="P5: background vs interactive queue membership (pulsar-auto.sh:39-48)",
)
def filter_queue_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    return p.filter((F.col("status") == "queued") & (F.col("execution_mode") == "background")).select(
        F.col("id").alias("plan_id"), "project", "execution_mode"
    )


@register(
    "filter_fresh",
    sql=_sql(
        f"""
        SELECT project, plan_id, phase, status, updated_at
        FROM latest
        WHERE EPOCH_US({NOW_SQL}) - EPOCH_US(updated_at) < 60000000
        """,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="P7: freshness window — use records < 60 s old (pulse.md:86-93)",
)
def filter_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    now = F.to_timestamp(F.lit(NOW.strftime("%Y-%m-%d %H:%M:%S")))
    return latest.filter(
        (F.unix_micros(now) - F.unix_micros(F.col("updated_at"))) < 60_000_000
    ).select("project", "plan_id", "phase", "status", "updated_at")


@register(
    "project_derived",
    sql=_sql(
        r"""
        SELECT
          id,
          regexp_replace(regexp_extract(path, '([^/]+)$', 1), '\.md$', '', 'g') AS plan_id_from_path,
          regexp_extract(path, '/comms/plans/([^/]+)/', 1) AS project_from_path,
          CASE WHEN path LIKE '%/queued/background/%' THEN 'background'
               WHEN path LIKE '%/queued/interactive/%' THEN 'interactive'
               ELSE NULL END AS queue_kind,
          CASE WHEN regexp_replace(regexp_extract(path, '([^/]+)$', 1), '\.md$', '', 'g') = id
               THEN TRUE ELSE FALSE END AS path_consistent
        FROM board
        """,
        BOARD,
    ),
    doc="P8: derived projections — plan_id/project/queue-kind from path (starry-daemon.sh:98, status-tracker.sh:33-35)",
)
def project_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = BOARD.spark_df(spark)
    base = F.regexp_extract("path", r"([^/]+)$", 1)
    plan_id = F.regexp_replace(base, r"\.md$", "")
    return b.select(
        "id",
        plan_id.alias("plan_id_from_path"),
        F.regexp_extract("path", r"/comms/plans/([^/]+)/", 1).alias("project_from_path"),
        F.when(F.col("path").like("%/queued/background/%"), "background")
        .when(F.col("path").like("%/queued/interactive/%"), "interactive")
        .otherwise(F.lit(None).cast("string"))
        .alias("queue_kind"),
        (plan_id == F.col("id")).alias("path_consistent"),
    )


@register(
    "project_priority",
    sql=_sql(PRIORITY_SQL, PLANS, PHASES, ctes=(PLAN_FILES_CTE, EDGES_CTE)),
    doc="P9: priority scoring — type base + unblocks/waited/large adjustments (orbiter.md:68-83)",
)
def project_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.priority_scores(PLANS.spark_df(spark), PHASES.spark_df(spark)).select(
        "id", "project", "type", "created_at", "priority"
    )


@register(
    "project_model_route",
    sql=_sql(
        """
        SELECT
          plan_id, phase, complexity,
          CASE WHEN complexity LIKE 'High%' THEN 'opus'
               WHEN complexity = 'Medium' THEN 'opus'
               WHEN complexity = 'Low' THEN 'sonnet'
               ELSE 'sonnet' END AS model
        FROM phases
        """,
        PHASES,
    ),
    doc="P10: complexity→model routing with backward-compat default (pulsar.md:114-137)",
)
def project_model_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    ph = PHASES.spark_df(spark)
    return ph.select("plan_id", "phase", "complexity", S.route_model(F.col("complexity")).alias("model"))


@register(
    "project_status_icon",
    sql=_sql(
        """
        SELECT plan_id, phase, status,
               CASE status WHEN 'completed' THEN '+' WHEN 'running' THEN '~'
                           WHEN 'starting' THEN 'o' WHEN 'failed' THEN 'x'
                           ELSE '?' END AS icon
        FROM latest
        """,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="P11: status→glyph projection (pulse.md:56-62)",
)
def project_status_icon(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    return latest.select(
        "plan_id",
        "phase",
        "status",
        F.when(F.col("status") == "completed", "+")
        .when(F.col("status") == "running", "~")
        .when(F.col("status") == "starting", "o")
        .when(F.col("status") == "failed", "x")
        .otherwise("?")
        .alias("icon"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J6)
# ---------------------------------------------------------------------------


@register(
    "join_marker_status",
    sql=_sql(
        """
        SELECT l.project, l.plan_id, l.phase, l.status, l.tool_count,
               m.session_id, m.pid, m.thread_id AS marker_thread
        FROM latest l
        LEFT JOIN markers m
          ON l.project = m.project AND l.plan_id = m.plan_id AND l.phase = m.phase
        """,
        STATUS_EVENTS,
        MARKERS,
        ctes=(LATEST_CTE,),
    ),
    doc="J1: marker↔status enrichment — broadcast equi-join on (project, plan, phase) (status-tracker.sh:72-78)",
)
def join_marker_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark)).alias("l")
    m = MARKERS.spark_df(spark).alias("m")
    # Markers are tiny (one per in-flight phase) → broadcast, no shuffle
    # of the status stream at any scale.
    return latest.join(
        F.broadcast(m),
        (F.col("l.project") == F.col("m.project"))
        & (F.col("l.plan_id") == F.col("m.plan_id"))
        & (F.col("l.phase") == F.col("m.phase")),
        "left",
    ).select(
        F.col("l.project").alias("project"),
        F.col("l.plan_id").alias("plan_id"),
        F.col("l.phase").alias("phase"),
        "l.status",
        "l.tool_count",
        "m.session_id",
        "m.pid",
        F.col("m.thread_id").alias("marker_thread"),
    )


@register(
    "join_pid_lookup",
    sql=_sql(
        """
        SELECT lp.pid, m.session_id, m.plan_id, m.phase,
               CASE WHEN m.pid IS NOT NULL THEN TRUE ELSE FALSE END AS found
        FROM (SELECT * FROM (VALUES ('40001'), ('40003'), ('99999')) AS t(pid)) lp
        LEFT JOIN markers m ON lp.pid = m.pid
        """,
        MARKERS,
    ),
    doc="J2: pid→marker lookup join (status-tracker.sh:46-69, session-stop.sh:43-62)",
)
def join_pid_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = MARKERS.spark_df(spark).alias("m")
    probes = spark.createDataFrame([("40001",), ("40003",), ("99999",)], "pid string").alias("lp")
    return probes.join(F.broadcast(m), F.col("lp.pid") == F.col("m.pid"), "left").select(
        F.col("lp.pid").alias("pid"),
        "m.session_id",
        "m.plan_id",
        "m.phase",
        F.col("m.pid").isNotNull().alias("found"),
    )


@register(
    "join_plan_board",
    sql=_sql(
        """
        SELECT p.id, p.project, p.status AS plan_status, b.status AS board_status,
               CASE WHEN b.id IS NULL THEN FALSE ELSE TRUE END AS in_board,
               CASE WHEN b.status IS NOT NULL AND p.status <> b.status THEN TRUE ELSE FALSE END AS drift
        FROM plans p LEFT JOIN board b ON p.id = b.id
        """,
        PLANS,
        BOARD,
    ),
    doc="J3: plan↔board consistency join (pulsar.md:160-165,611-613)",
)
def join_plan_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark).alias("p")
    b = BOARD.spark_df(spark).alias("b")
    return p.join(b, F.col("p.id") == F.col("b.id"), "left").select(
        F.col("p.id").alias("id"),
        F.col("p.project").alias("project"),
        F.col("p.status").alias("plan_status"),
        F.col("b.status").alias("board_status"),
        F.col("b.id").isNotNull().alias("in_board"),
        (F.col("b.status").isNotNull() & (F.col("p.status") != F.col("b.status"))).alias("drift"),
    )


@register(
    "join_dep_overlap",
    sql=_sql(
        "SELECT dep_id, plan_id FROM edges",
        PLANS,
        PHASES,
        ctes=(PLAN_FILES_CTE, EDGES_CTE),
    ),
    doc="J4: inter-plan dependency edges via file overlap + created< (orbiter.md:57-62)",
)
def join_dep_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _join_dep_overlap_impl(spark, sf_dir)


MAX_DEP_DEPTH = 64  # join_dep_closure's round cap; the fixture DAG has 14 plans

# Reachability is an iterative semi-naive fixpoint (the Pregel pattern)
# checkpointed per step; the DuckDB twin IS a recursive CTE — proving the
# loop computes exactly the SQL-standard closure. Spark 4.1 runs WITH
# RECURSIVE too, but native recursion measured slower on this kind of
# fixpoint: sched_rounds' recursive twin body ran in 1.72 s warm against
# 1.15 s for the loop (sf0.1, 4 cores), so the loop stays.
_CLOSURE_SQL = (
    "WITH RECURSIVE\n  "
    + ",\n  ".join((PLANS.values_cte(), PHASES.values_cte(), PLAN_FILES_CTE, EDGES_CTE))
    + """,
  closure AS (
    SELECT dep_id AS ancestor, plan_id AS descendant FROM edges
    UNION
    SELECT c.ancestor, e.plan_id AS descendant
    FROM closure c JOIN edges e ON e.dep_id = c.descendant)
    SELECT ancestor, descendant FROM closure
    """
)


@register(
    "join_dep_closure",
    sql=_CLOSURE_SQL,
    doc="J4+: transitive dependency closure (circular-dep reachability, "
    "orbiter.md:134-139) — iterative fixpoint in Spark ≡ WITH RECURSIVE oracle",
)
def join_dep_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (ancestor, descendant) reachability pairs over the dep DAG.
    Semi-naive iteration by `fixpoint.fixpoint`: each step extends every
    path by one edge and distincts; the probe is the pair count.
    Iterations = DAG depth, each a distributed self-join — no
    driver-side row data.
    """
    edges = S.dep_edges(PLANS.spark_df(spark), PHASES.spark_df(spark)).localCheckpoint(
        eager=False
    )

    def step(closure: DataFrame) -> DataFrame:
        extended = (
            closure.alias("c")
            .join(edges.alias("e"), F.col("e.dep_id") == F.col("c.descendant"))
            .select(F.col("c.ancestor").alias("ancestor"), F.col("e.plan_id").alias("descendant"))
        )
        return closure.unionByName(extended).distinct()

    start = edges.select(F.col("dep_id").alias("ancestor"), F.col("plan_id").alias("descendant"))
    return fixpoint(start, step, F.count(F.lit(1)), MAX_DEP_DEPTH, "join_dep_closure")


def _join_dep_overlap_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.dep_edges(PLANS.spark_df(spark), PHASES.spark_df(spark))


@register(
    "join_phase_conflict",
    sql=_sql(
        """
        SELECT DISTINCT a.plan_id, a.phase AS earlier, b.phase AS later
        FROM (SELECT plan_id, phase, UNNEST(files) AS file FROM phases) a
        JOIN (SELECT plan_id, phase, UNNEST(files) AS file FROM phases) b
          ON a.plan_id = b.plan_id AND a.file = b.file AND a.phase < b.phase
        """,
        PHASES,
    ),
    doc="J5: within-plan phase conflicts on shared files (pulsar.md:106-112)",
)
def join_phase_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.phase_conflicts(PHASES.spark_df(spark))


@register(
    "join_namespace",
    sql=_sql(
        """
        SELECT d.project_path, d.live_project, c.project AS ns_project,
               CASE WHEN c.project IS NULL THEN 'fresh'
                    WHEN c.project <> d.live_project THEN 'renamed'
                    ELSE 'match' END AS resolution
        FROM (SELECT DISTINCT project_path, project AS live_project FROM plans) d
        LEFT JOIN configs c ON d.project_path = c.project_path
        """,
        PLANS,
        CONFIGS,
    ),
    doc="J6: namespace-rename resolution on projectPath (resolve-namespace.sh:33-65)",
)
def join_namespace(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        PLANS.spark_df(spark)
        .select("project_path", F.col("project").alias("live_project"))
        .distinct()
        .alias("d")
    )
    c = CONFIGS.spark_df(spark).alias("c")
    return d.join(c, F.col("d.project_path") == F.col("c.project_path"), "left").select(
        F.col("d.project_path").alias("project_path"),
        "d.live_project",
        F.col("c.project").alias("ns_project"),
        F.when(F.col("c.project").isNull(), "fresh")
        .when(F.col("c.project") != F.col("d.live_project"), "renamed")
        .otherwise("match")
        .alias("resolution"),
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A7)
# ---------------------------------------------------------------------------


@register(
    "agg_queue_count",
    sql=_sql(
        """
        SELECT project, COUNT(*) AS n_queued
        FROM plans WHERE status = 'queued' GROUP BY project
        """,
        PLANS,
    ),
    doc="A1: queued-plan count per project (starry-daemon.sh:106-115)",
)
def agg_queue_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    return p.filter(F.col("status") == "queued").groupBy("project").agg(F.count(F.lit(1)).alias("n_queued"))


@register(
    "agg_state_counts",
    sql=_sql(
        """
        SELECT
          CAST(SUM(CASE WHEN status = 'queued' THEN 1 ELSE 0 END) AS BIGINT) AS n_queued,
          CAST(SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
          CAST(SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS n_completed,
          CAST(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
        FROM plans
        """,
        PLANS,
    ),
    doc="A2: global state counts (session-start.sh:86-88)",
)
def agg_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)

    def cnt(s):
        return F.sum(F.when(F.col("status") == s, 1).otherwise(0))

    return p.agg(
        cnt("queued").alias("n_queued"),
        cnt("active").alias("n_active"),
        cnt("completed").alias("n_completed"),
        cnt("failed").alias("n_failed"),
    )


@register(
    "agg_pulse",
    sql=_sql(
        f"""
        SELECT
          l.plan_id, l.project,
          COUNT(*) AS n_phases_seen,
          CAST(SUM(CASE WHEN l.status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS n_completed,
          CAST(SUM(CASE WHEN l.status = 'running' THEN 1 ELSE 0 END) AS BIGINT) AS n_running,
          CAST(SUM(CASE WHEN l.status = 'running'
                    AND EPOCH_US({NOW_SQL}) - EPOCH_US(l.updated_at) > 600000000
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_stalled,
          MAX(l.updated_at) AS last_update
        FROM latest l
        GROUP BY l.plan_id, l.project
        """,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="A3: pulse rollup — per-plan phase aggregation + stall counts (orbiter.md:198-242)",
)
def agg_pulse(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    now = F.to_timestamp(F.lit(NOW.strftime("%Y-%m-%d %H:%M:%S")))
    is_stalled = (F.col("status") == "running") & (
        (F.unix_micros(now) - F.unix_micros(F.col("updated_at"))) > 600_000_000
    )
    return latest.groupBy("plan_id", "project").agg(
        F.count(F.lit(1)).alias("n_phases_seen"),
        F.sum(F.when(F.col("status") == "completed", 1).otherwise(0)).alias("n_completed"),
        F.sum(F.when(F.col("status") == "running", 1).otherwise(0)).alias("n_running"),
        F.sum(F.when(is_stalled, 1).otherwise(0)).alias("n_stalled"),
        F.max("updated_at").alias("last_update"),
    )


@register(
    "agg_progress",
    sql=_sql(
        """
        SELECT
          p.id AS plan_id,
          p.n_phases AS total_phases,
          COALESCE(d.n_done, 0) AS completed_phases,
          CAST(100 * COALESCE(d.n_done, 0) // p.n_phases AS BIGINT) AS pct_complete
        FROM plans p
        LEFT JOIN (
          SELECT plan_id, COUNT(*) AS n_done FROM latest
          WHERE status = 'completed' GROUP BY plan_id) d
          ON p.id = d.plan_id
        """,
        PLANS,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="A4: progress summary — done/total/percent (pulsar-status.md:81-87)",
)
def agg_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark).alias("p")
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    done = (
        latest.filter(F.col("status") == "completed")
        .groupBy("plan_id")
        .agg(F.count(F.lit(1)).alias("n_done"))
        .alias("d")
    )
    return p.join(done, F.col("p.id") == F.col("d.plan_id"), "left").select(
        F.col("p.id").alias("plan_id"),
        F.col("p.n_phases").alias("total_phases"),
        F.coalesce(F.col("d.n_done"), F.lit(0)).alias("completed_phases"),
        F.floor(100 * F.coalesce(F.col("d.n_done"), F.lit(0)) / F.col("p.n_phases"))
        .cast("bigint")
        .alias("pct_complete"),
    )


@register(
    "agg_exec_log",
    sql=_sql(
        """
        SELECT
          p.id AS plan_id, p.status,
          COUNT(ph.phase) AS n_agents,
          CAST(SUM(CASE WHEN COALESCE(ph.agent, 'sonnet') = 'opus' THEN 1 ELSE 0 END) AS BIGINT) AS n_opus,
          CAST(SUM(CASE WHEN COALESCE(ph.agent, 'sonnet') = 'sonnet' THEN 1 ELSE 0 END) AS BIGINT) AS n_sonnet,
          d.duration_s
        FROM plans p
        JOIN phases ph ON p.id = ph.plan_id
        JOIN (
          SELECT plan_id,
                 CAST((EPOCH_US(MAX(completed_at)) - EPOCH_US(MIN(started_at))) // 1000000 AS BIGINT) AS duration_s
          FROM status_events GROUP BY plan_id) d ON p.id = d.plan_id
        WHERE p.status IN ('completed', 'failed')
        GROUP BY p.id, p.status, d.duration_s
        """,
        PLANS,
        PHASES,
        STATUS_EVENTS,
    ),
    doc="A5: execution-log rollup — per-model counts + duration (pulsar.md:618-645)",
)
def agg_exec_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark).filter(F.col("status").isin("completed", "failed")).alias("p")
    ph = PHASES.spark_df(spark).alias("ph")
    se = STATUS_EVENTS.spark_df(spark)
    dur = se.groupBy("plan_id").agg(
        F.floor(
            (F.unix_micros(F.max("completed_at")) - F.unix_micros(F.min("started_at"))) / 1_000_000
        )
        .cast("bigint")
        .alias("duration_s")
    ).alias("d")
    agent = F.coalesce(F.col("ph.agent"), F.lit("sonnet"))
    return (
        p.join(ph, F.col("p.id") == F.col("ph.plan_id"))
        .join(dur, F.col("p.id") == F.col("d.plan_id"))
        .groupBy(F.col("p.id").alias("plan_id"), F.col("p.status").alias("status"), F.col("d.duration_s").alias("duration_s"))
        .agg(
            F.count(F.lit(1)).alias("n_agents"),
            F.sum(F.when(agent == "opus", 1).otherwise(0)).alias("n_opus"),
            F.sum(F.when(agent == "sonnet", 1).otherwise(0)).alias("n_sonnet"),
        )
        .select("plan_id", "status", "n_agents", "n_opus", "n_sonnet", "duration_s")
    )


@register(
    "agg_tool_count",
    sql=_sql(
        """
        SELECT plan_id, phase,
               COUNT(*) AS n_events,
               MAX(tool_count) AS max_tool_count
        FROM status_events GROUP BY plan_id, phase
        """,
        STATUS_EVENTS,
    ),
    doc="A6: tool-use running counter per phase (status-tracker.sh:140-153)",
)
def agg_tool_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    se = STATUS_EVENTS.spark_df(spark)
    return se.groupBy("plan_id", "phase").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("tool_count").alias("max_tool_count")
    )


@register(
    "agg_eta",
    sql=_sql(
        """
        SELECT
          p.id AS plan_id,
          c.avg_done_s,
          p.n_phases - c.n_done AS pending_phases,
          c.avg_done_s * (p.n_phases - c.n_done) AS eta_s
        FROM plans p
        JOIN (
          SELECT plan_id,
                 COUNT(*) AS n_done,
                 CAST(SUM(CAST((EPOCH_US(completed_at) - EPOCH_US(started_at)) // 1000000 AS BIGINT)) AS DOUBLE)
                   / COUNT(*) AS avg_done_s
          FROM latest WHERE status = 'completed' GROUP BY plan_id) c
          ON p.id = c.plan_id
        WHERE p.status = 'active'
        """,
        PLANS,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="A7: ETA — mean completed-phase duration × pending (pulsar-status.md:87)",
)
def agg_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark).filter(F.col("status") == "active").alias("p")
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    done = (
        latest.filter(F.col("status") == "completed")
        .withColumn(
            "dur_s",
            F.floor((F.unix_micros("completed_at") - F.unix_micros("started_at")) / 1_000_000).cast("bigint"),
        )
        .groupBy("plan_id")
        .agg(
            F.count(F.lit(1)).alias("n_done"),
            (F.sum("dur_s").cast("double") / F.count(F.lit(1))).alias("avg_done_s"),
        )
        .alias("c")
    )
    return p.join(done, F.col("p.id") == F.col("c.plan_id")).select(
        F.col("p.id").alias("plan_id"),
        "c.avg_done_s",
        (F.col("p.n_phases") - F.col("c.n_done")).alias("pending_phases"),
        (F.col("c.avg_done_s") * (F.col("p.n_phases") - F.col("c.n_done"))).alias("eta_s"),
    )


# ---------------------------------------------------------------------------
# Sort / top-k (O1-O2), set ops (U1), windows (W1/W2/W4), rounds (Q4)
# ---------------------------------------------------------------------------


@register(
    "topk_best_plan",
    sql=_sql(BEST_PLAN_SQL, PLANS, PHASES, ctes=(PLAN_FILES_CTE, EDGES_CTE)),
    doc="O1: full Orbiter pipeline — eligible → scored → top-1 (orbiter.md:85-89)",
)
def topk_best_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.best_plan(PLANS.spark_df(spark), PHASES.spark_df(spark))


@register(
    "topk_latest_plan",
    sql=_sql(
        """
        SELECT id AS plan_id, project, created_at
        FROM plans WHERE status = 'queued'
        ORDER BY created_at DESC, id LIMIT 1
        """,
        PLANS,
    ),
    doc="O2: most-recent-queued default (pulsar.md:99-101)",
)
def topk_latest_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    return (
        p.filter(F.col("status") == "queued")
        .orderBy(F.col("created_at").desc(), "id")
        .limit(1)
        .select(F.col("id").alias("plan_id"), "project", "created_at")
    )


@register(
    "setop_union_migrate",
    sql=_sql(
        r"""
        SELECT DISTINCT id, project, 'completed' AS status,
               regexp_replace(path, '/(review|archived)/', '/completed/', 'g') AS path
        FROM board WHERE status IN ('review', 'archived')
        UNION
        SELECT id, project, status, path FROM board WHERE status = 'completed'
        """,
        BOARD,
    ),
    doc="U1: legacy-queue migration — review ∪ archived → completed with path rewrite (setup.sh:60-113)",
)
def setop_union_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = BOARD.spark_df(spark)
    legacy = (
        b.filter(F.col("status").isin("review", "archived"))
        .select(
            "id",
            "project",
            F.lit("completed").alias("status"),
            F.regexp_replace("path", "/(review|archived)/", "/completed/").alias("path"),
        )
    )
    done = b.filter(F.col("status") == "completed").select("id", "project", "status", "path")
    return legacy.union(done).distinct()


@register(
    "window_stall",
    sql=_sql(
        f"""
        SELECT project, plan_id, phase, status, updated_at,
               CASE WHEN status = 'running'
                     AND EPOCH_US({NOW_SQL}) - EPOCH_US(updated_at) > 600000000
                    THEN TRUE ELSE FALSE END AS stalled
        FROM latest
        """,
        STATUS_EVENTS,
        ctes=(LATEST_CTE,),
    ),
    doc="W1: 10-min inactivity stall detection (orbiter.md:176-181)",
)
def window_stall(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = S.latest_status(STATUS_EVENTS.spark_df(spark))
    now = F.to_timestamp(F.lit(NOW.strftime("%Y-%m-%d %H:%M:%S")))
    return S.stalled(latest, now).select(
        "project", "plan_id", "phase", "status", "updated_at", "stalled"
    )


@register(
    "window_hung",
    sql=_sql(
        """
        SELECT project, plan_id, phase, tool_count, updated_at,
               CASE WHEN tool_count = prev_count
                     AND EPOCH_US(updated_at) - EPOCH_US(prev_update) >= 60000000
                    THEN TRUE ELSE FALSE END AS hung
        FROM (
          SELECT project, plan_id, phase, status, tool_count, updated_at,
                 LAG(tool_count) OVER w AS prev_count,
                 LAG(updated_at) OVER w AS prev_update,
                 ROW_NUMBER() OVER (PARTITION BY project, plan_id, phase ORDER BY updated_at DESC) AS rn
          FROM status_events
          WINDOW w AS (PARTITION BY project, plan_id, phase ORDER BY updated_at)
        ) t
        WHERE rn = 1 AND status = 'running'
        """,
        STATUS_EVENTS,
    ),
    doc="W2: hung-agent warning — unchanged tool_count ≥ 60 s (pulsar.md:347-352)",
)
def window_hung(spark: SparkSession, sf_dir: str) -> DataFrame:
    se = STATUS_EVENTS.spark_df(spark)
    w = W.partitionBy("project", "plan_id", "phase").orderBy("updated_at")
    wdesc = W.partitionBy("project", "plan_id", "phase").orderBy(F.col("updated_at").desc())
    return (
        se.withColumn("prev_count", F.lag("tool_count").over(w))
        .withColumn("prev_update", F.lag("updated_at").over(w))
        .withColumn("rn", F.row_number().over(wdesc))
        .filter((F.col("rn") == 1) & (F.col("status") == "running"))
        .select(
            "project",
            "plan_id",
            "phase",
            "tool_count",
            "updated_at",
            # coalesce: a phase with no prior event is not hung (matches
            # the oracle's CASE ... ELSE FALSE null semantics).
            F.coalesce(
                (F.col("tool_count") == F.col("prev_count"))
                & ((F.unix_micros("updated_at") - F.unix_micros("prev_update")) >= 60_000_000),
                F.lit(False),
            ).alias("hung"),
        )
    )


@register(
    "window_rank_wait",
    sql=_sql(
        """
        SELECT id AS plan_id, project, created_at,
               CAST(RANK() OVER (PARTITION BY project ORDER BY created_at, id) AS BIGINT) AS wait_rank,
               CASE WHEN created_at = (SELECT MIN(created_at) FROM plans WHERE status = 'queued')
                    THEN TRUE ELSE FALSE END AS waited_longest
        FROM plans WHERE status = 'queued'
        """,
        PLANS,
    ),
    doc="W4: waited-longest ranking / priority boost (orbiter.md:80-81)",
)
def window_rank_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark).filter(F.col("status") == "queued")
    w = W.partitionBy("project").orderBy("created_at", "id")
    oldest = p.select(F.min("created_at").alias("oldest_created"))
    return (
        p.crossJoin(F.broadcast(oldest))
        .select(
            F.col("id").alias("plan_id"),
            "project",
            "created_at",
            F.rank().over(w).cast("bigint").alias("wait_rank"),
            (F.col("created_at") == F.col("oldest_created")).alias("waited_longest"),
        )
    )


@register(
    "sched_rounds",
    sql=_sql(
        """
        SELECT plan_id, phase, MAX(round) AS round FROM (
          WITH RECURSIVE conflict AS (
            SELECT DISTINCT a.plan_id, a.phase AS earlier, b.phase AS later
            FROM (SELECT plan_id, phase, UNNEST(files) AS file FROM phases) a
            JOIN (SELECT plan_id, phase, UNNEST(files) AS file FROM phases) b
              ON a.plan_id = b.plan_id AND a.file = b.file AND a.phase < b.phase
          ),
          walk AS (
            SELECT plan_id, phase, 1 AS round FROM phases
            UNION ALL
            SELECT c.plan_id, c.later AS phase, w.round + 1 AS round
            FROM walk w JOIN conflict c
              ON c.plan_id = w.plan_id AND c.earlier = w.phase
          )
          SELECT * FROM walk
        ) t
        GROUP BY plan_id, phase
        """,
        PHASES,
    ),
    doc="Q4: dependency-round partitioning — longest conflict-chain depth (pulsar.md:230-268)",
)
def sched_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    rounds = S.phase_rounds(PHASES.spark_df(spark))
    return rounds.select("plan_id", "phase", F.col("round").cast("bigint").alias("round"))


# Shared recursive-walk CTE body for the /pulsar Step-2 derivations:
# round(phase) = longest file-conflict chain depth (same walk as
# sched_rounds, factored so schedule and gates stay textually in sync).
_ROUNDS_SQL = """
          WITH RECURSIVE conflict AS (
            SELECT DISTINCT a.plan_id, a.phase AS earlier, b.phase AS later
            FROM (SELECT plan_id, phase, UNNEST(files) AS file FROM phases) a
            JOIN (SELECT plan_id, phase, UNNEST(files) AS file FROM phases) b
              ON a.plan_id = b.plan_id AND a.file = b.file AND a.phase < b.phase
          ),
          walk AS (
            SELECT plan_id, phase, 1 AS round FROM phases
            UNION ALL
            SELECT c.plan_id, c.later AS phase, w.round + 1 AS round
            FROM walk w JOIN conflict c
              ON c.plan_id = w.plan_id AND c.earlier = w.phase
          )
          SELECT plan_id, phase, MAX(round) AS round FROM walk
          GROUP BY plan_id, phase
"""


@register(
    "sched_schedule",
    sql=_sql(
        f"""
        SELECT p.plan_id, p.phase, p.title,
               CAST(r.round AS BIGINT) AS round,
               p.complexity,
               CASE WHEN p.complexity LIKE 'High%' THEN 'opus'
                    WHEN p.complexity = 'Medium' THEN 'opus'
                    WHEN p.complexity = 'Low' THEN 'sonnet'
                    ELSE 'sonnet' END AS model
        FROM phases p
        JOIN ({_ROUNDS_SQL}) r
          ON r.plan_id = p.plan_id AND r.phase = p.phase
        """,
        PHASES,
    ),
    doc="Pulsar Step-2 execution schedule: re-derived round + routed model "
    "per phase in ONE view (pulsar.md:104-157) — what the interactive "
    "consumer actually launches each round; missing Complexity defaults "
    "to sonnet (backward compat)",
)
def sched_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Step-2 derivation the golden /pulsar replay drives
    (`plans/pulsar.py execution_schedule`): rounds from ACTUAL file
    conflicts joined with P10 complexity routing. Registered so the
    combined view — not just its two halves (`sched_rounds`, P10
    `project_model_route`) — is driver-oracle-checked."""
    from nova_pulsar_spark.plans.pulsar import execution_schedule

    sched = execution_schedule(PHASES.spark_df(spark))
    return sched.select(
        "plan_id",
        "phase",
        "title",
        F.col("round").cast("bigint").alias("round"),
        "complexity",
        "model",
    )


@register(
    "sched_quality_gates",
    sql=_sql(
        f"""
        SELECT r.plan_id, r.round, g.agent,
               g.prefix || '-round-' || r.round AS task_id,
               'sonnet' AS model, TRUE AS run_in_background
        FROM (SELECT DISTINCT plan_id, CAST(round AS BIGINT) AS round
              FROM ({_ROUNDS_SQL}) t) r
        CROSS JOIN (SELECT * FROM (VALUES ('test-agent', 'qg-test'),
                                          ('dead-code-agent', 'qg-deadcode'))
                    AS v(agent, prefix)) g
        """,
        PHASES,
    ),
    doc="Pulsar Step-6 quality-gate fan-out: per (plan, round) a parallel "
    "test-agent + dead-code-agent pair, both sonnet/background, with the "
    "reference's qg-{kind}-round-{N} status task ids (pulsar.md:540-607)",
)
def sched_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`plans/pulsar.py quality_gate_tasks` over the fixture schedule —
    the after-EVERY-round gate discipline as a registered, oracle-
    checked view. The cross join is 2 literal agent rows per round:
    broadcast by construction, never a scale concern."""
    from nova_pulsar_spark.plans.pulsar import execution_schedule, quality_gate_tasks

    gates = quality_gate_tasks(execution_schedule(PHASES.spark_df(spark)))
    return gates.select(
        "plan_id",
        F.col("round").cast("bigint").alias("round"),
        "agent",
        "task_id",
        "model",
        "run_in_background",
    )


@register(
    "fn_json_update",
    sql=_sql(
        """
        SELECT
          session_id,
          '{"session_id":"' || session_id || '","plan_id":"' || plan_id ||
            '","phase":' || CAST(phase AS VARCHAR) || ',"pid":' ||
            CASE WHEN pid IS NULL THEN 'null' ELSE '"' || pid || '"' END || '}' AS marker_json,
          '{"session_id":"' || session_id || '","plan_id":"' || plan_id ||
            '","phase":' || CAST(phase AS VARCHAR) || ',"pid":"' ||
            COALESCE(pid, '77777') || '"}' AS claimed_json
        FROM markers
        """,
        MARKERS,
    ),
    doc="F3: nested JSON update — the jq '.pid = $pid' claim rewrite (session-start.sh:62)",
)
def fn_json_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = MARKERS.spark_df(spark)
    head = F.concat(
        F.lit('{"session_id":"'),
        F.col("session_id"),
        F.lit('","plan_id":"'),
        F.col("plan_id"),
        F.lit('","phase":'),
        F.col("phase").cast("string"),
        F.lit(',"pid":'),
    )
    return m.select(
        "session_id",
        F.concat(
            head,
            F.when(F.col("pid").isNull(), F.lit("null")).otherwise(
                F.concat(F.lit('"'), F.col("pid"), F.lit('"'))
            ),
            F.lit("}"),
        ).alias("marker_json"),
        F.concat(
            head, F.lit('"'), F.coalesce(F.col("pid"), F.lit("77777")), F.lit('"}')
        ).alias("claimed_json"),
    )


# ---------------------------------------------------------------------------
# Minor reference operators without SURVEY query keys (S2, P6, O3, A8, U2) —
# covered anyway for complete §2 parity.
# ---------------------------------------------------------------------------


@register(
    "scan_namespaces",
    sql=_sql(
        """
        SELECT project, COUNT(*) AS n_plans,
               SUM(CASE WHEN status = 'queued' THEN 1 ELSE 0 END) > 0 AS has_queue
        FROM plans GROUP BY project
        """,
        PLANS,
    ),
    doc="S2/P6: project-namespace scan — valid projects and their queue presence (starry-daemon.sh:53-63)",
)
def scan_namespaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    return p.groupBy("project").agg(
        F.count(F.lit(1)).alias("n_plans"),
        (F.sum(F.when(F.col("status") == "queued", 1).otherwise(0)) > 0).alias("has_queue"),
    )


@register(
    "topk_oldest_tiebreak",
    sql=_sql(
        """
        SELECT id AS plan_id, project, created_at
        FROM plans WHERE status = 'queued'
        ORDER BY created_at, id LIMIT 1
        """,
        PLANS,
    ),
    doc="O3: oldest-plan tie-break — circular deps resolved by minimum created_at (orbiter.md:138-139)",
)
def topk_oldest_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark)
    return (
        p.filter(F.col("status") == "queued")
        .orderBy("created_at", "id")
        .limit(1)
        .select(F.col("id").alias("plan_id"), "project", "created_at")
    )


@register(
    "agg_migration_counts",
    sql=_sql(
        """
        SELECT project,
               CAST(SUM(CASE WHEN status = 'review' THEN 1 ELSE 0 END) AS BIGINT) AS n_review,
               CAST(SUM(CASE WHEN status = 'archived' THEN 1 ELSE 0 END) AS BIGINT) AS n_archived,
               CAST(SUM(CASE WHEN status IN ('review', 'archived') THEN 1 ELSE 0 END) AS BIGINT) AS n_to_migrate
        FROM board GROUP BY project
        """,
        BOARD,
    ),
    doc="A8: migration counts per source partition (migrate-all-projects.sh:46-75)",
)
def agg_migration_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = BOARD.spark_df(spark)

    def cnt(*s):
        return F.sum(F.when(F.col("status").isin(*s), 1).otherwise(0))

    return b.groupBy("project").agg(
        cnt("review").alias("n_review"),
        cnt("archived").alias("n_archived"),
        cnt("review", "archived").alias("n_to_migrate"),
    )


@register(
    "setop_two_queue_search",
    sql=_sql(
        """
        SELECT id AS plan_id, project, execution_mode AS found_in
        FROM plans
        WHERE status = 'queued' AND id = 'plan-20260228-1200'
        """,
        PLANS,
    ),
    doc="U2: plan lookup across background ∪ interactive queues (pulsar.md:96-98)",
)
def setop_two_queue_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PLANS.spark_df(spark).filter(F.col("status") == "queued")
    bg = p.filter(F.col("execution_mode") == "background")
    ia = p.filter(F.col("execution_mode") == "interactive")
    return (
        bg.unionByName(ia)
        .filter(F.col("id") == "plan-20260228-1200")
        .select(F.col("id").alias("plan_id"), "project", F.col("execution_mode").alias("found_in"))
    )
