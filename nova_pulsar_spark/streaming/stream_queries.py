"""Streaming-surface queries (SURVEY.md §2.9).

The watermark/window family is registered in batch form (a streaming
query with ``AvailableNow`` over static input produces exactly these
results — asserted in tests/test_streaming.py) so the driver's oracle
can check values; the stateful lifecycle family runs the state-machine
code (:mod:`nova_pulsar_spark.streaming.state`) in its deterministic
batch rendition and is registered rows-only, with the true
``applyInPandasWithState`` path exercised by the streaming tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nova_pulsar_spark.plans.fixtures import STATUS_EVENTS
from nova_pulsar_spark.registry import register
from nova_pulsar_spark.sources.tables import finite_measures, load_table, timestamped
from nova_pulsar_spark.streaming.state import lifecycle_batch


@register(
    "stream_tumbling",
    sql="""
    SELECT
      make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
      event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL AND (value IS NULL OR isfinite(value))
    GROUP BY 1, 2
    """,
    doc="Tumbling 5-min window agg (streaming form: readStream + withWatermark + window)",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamped-rows + finite-measures contracts: time windows are
    # undefined for NULL ts, the DECIMAL accumulator for NaN/Inf
    e = finite_measures(timestamped(load_table(spark, sf_dir, "events")), "value")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@register(
    "stream_sliding",
    sql="""
    SELECT
      make_timestamp(((epoch_us(ts) // 60000000) - k.k) * 60000000) AS window_start,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN (SELECT UNNEST(range(0, 5)) AS k) k
    WHERE ts IS NOT NULL AND (value IS NULL OR isfinite(value))
    GROUP BY 1
    """,
    doc="Sliding window 5 min / 1 min slide (each event in 5 overlapping windows)",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamped-rows + finite-measures contracts (see stream_tumbling)
    e = finite_measures(timestamped(load_table(spark, sf_dir, "events")), "value")
    return (
        e.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "stream_session",
    sql="""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM gaps)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
    doc="session_window(ts, '10 minutes') — the reference's stall gap as a session boundary",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window end = last event + gap, matching the oracle's
    # max(ts) + 10 min; the 10-minute gap IS the reference's stall
    # threshold (agents/orbiter.md:176-181). Timestamped-rows
    # contract: session_window drops NULL ts silently — made explicit
    # and mirrored in the oracle.
    e = timestamped(load_table(spark, sf_dir, "events"))
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_dedup",
    sql="""
    SELECT user_id, event_type, event_id AS first_event, ts AS first_ts FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL) t
    WHERE rn = 1
    """,
    doc="Streaming dedup (dropDuplicatesWithinWatermark): deterministic first event per key",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamped-rows contract: "first by time" is undefined for a
    # NULL ts (and the engines disagree on NULL ordering)
    e = timestamped(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event"), F.col("ts").alias("first_ts"))
    )


# ---------------------------------------------------------------------------
# Stateful lifecycle: the Pandas state machine's batch replay, with a
# relational DuckDB twin. The transition log over a FIXED event history is
# SQL-expressible (windows over sorted accepted events); what stays
# pytest-only is live-stream behavior the relational form cannot model —
# processing-time timeouts, and the status mutation a cap-exceeded kill
# feeds back into later events (never reached on a deterministic replay of
# these fixtures; pinned by tests/test_streaming.py instead).
# ---------------------------------------------------------------------------

# CTE chain replicating streaming.state._step over `status_events`:
#   ev       — events ordered per (plan_id, phase) by (updated_at, tool_count)
#   flagged  — owner at each point = first non-NULL thread_id before this row
#   accepted — claim CAS (session-start.sh:60-67): non-owner events rejected
#   term     — first accepted terminal event (status-tracker.sh:129-138)
#   applied  — accepted events up to the terminal one, with prev status/time
#   stalls   — >10-min silence while running (orbiter.md:176-196), retry cap 2
_MACHINE_CTES = """ev AS (
    SELECT plan_id, CAST(phase AS INTEGER) AS phase, thread_id, status,
           CAST(COALESCE(tool_count, 0) AS INTEGER) AS tool_count, updated_at,
           ROW_NUMBER() OVER (PARTITION BY plan_id, phase
                              ORDER BY updated_at, tool_count) AS rn
    FROM status_events),
  flagged AS (
    SELECT e.*,
           (SELECT e2.thread_id FROM ev e2
             WHERE e2.plan_id = e.plan_id AND e2.phase = e.phase
               AND e2.rn < e.rn AND e2.thread_id IS NOT NULL
             ORDER BY e2.rn LIMIT 1) AS owner_before
    FROM ev e),
  accepted AS (
    SELECT * FROM flagged
    WHERE NOT (thread_id IS NOT NULL AND owner_before IS NOT NULL
               AND thread_id <> owner_before)),
  term AS (
    SELECT plan_id, phase, MIN(rn) AS term_rn, ARG_MIN(status, rn) AS term_status
    FROM accepted WHERE status IN ('completed', 'failed', 'killed')
    GROUP BY plan_id, phase),
  applied AS (
    SELECT a.plan_id, a.phase, a.status, a.tool_count, a.updated_at, a.rn,
           LAG(a.status) OVER w AS prev_status,
           LAG(epoch_us(a.updated_at)) OVER w AS prev_us
    FROM accepted a LEFT JOIN term t
      ON a.plan_id = t.plan_id AND a.phase = t.phase
    WHERE t.term_rn IS NULL OR a.rn <= t.term_rn
    WINDOW w AS (PARTITION BY a.plan_id, a.phase ORDER BY a.rn)),
  stalls AS (
    SELECT plan_id, phase, tool_count, updated_at,
           ROW_NUMBER() OVER (PARTITION BY plan_id, phase ORDER BY rn) AS stall_seq
    FROM applied
    WHERE prev_status = 'running' AND epoch_us(updated_at) - prev_us > 600000000),
  machine AS (
    SELECT f.plan_id, f.phase, 'claim_rejected' AS kind,
           (SELECT a.status FROM applied a
             WHERE a.plan_id = f.plan_id AND a.phase = f.phase AND a.rn < f.rn
             ORDER BY a.rn DESC LIMIT 1) AS from_status,
           (SELECT a.status FROM applied a
             WHERE a.plan_id = f.plan_id AND a.phase = f.phase AND a.rn < f.rn
             ORDER BY a.rn DESC LIMIT 1) AS to_status,
           f.tool_count, f.updated_at AS at
    FROM flagged f
    WHERE f.thread_id IS NOT NULL AND f.owner_before IS NOT NULL
      AND f.thread_id <> f.owner_before
    UNION ALL
    SELECT a.plan_id, a.phase, 'suppressed_regression', t.term_status, a.status,
           a.tool_count, a.updated_at
    FROM accepted a JOIN term t ON a.plan_id = t.plan_id AND a.phase = t.phase
    WHERE a.rn > t.term_rn
    UNION ALL
    SELECT plan_id, phase,
           CASE WHEN stall_seq <= 2 THEN 'stalled' ELSE 'killed' END,
           'running',
           CASE WHEN stall_seq <= 2 THEN 'retrying' ELSE 'killed' END,
           tool_count, updated_at
    FROM stalls
    UNION ALL
    SELECT plan_id, phase, 'transition', prev_status, status, tool_count, updated_at
    FROM applied
    WHERE prev_status IS NULL OR status <> prev_status)"""


def _machine_sql(events_cte: str, where: str = "") -> str:
    return (
        "WITH\n  "
        + events_cte
        + ",\n  "
        + _MACHINE_CTES
        + "\n    SELECT plan_id, phase, kind, from_status, to_status, tool_count, at"
        + "\n    FROM machine"
        + (f"\n    WHERE {where}" if where else "")
    )


# Synthetic claim race: th-B reports on a phase th-A already owns.
from datetime import datetime as _dt

from nova_pulsar_spark.plans.fixtures import Fixture as _Fixture

CLAIM_EVENTS = _Fixture(
    name="status_events",
    columns=STATUS_EVENTS.columns,
    rows=(
        ("phase-1-p1", "alpha", "p1", 1, "th-A", "starting", 0, None, None, _dt(2026, 3, 1, 9, 0, 0), _dt(2026, 3, 1, 9, 0, 0), None),
        ("phase-1-p1", "alpha", "p1", 1, "th-B", "running", 3, "Edit", "x.py", _dt(2026, 3, 1, 9, 0, 30), _dt(2026, 3, 1, 9, 0, 0), None),
        ("phase-1-p1", "alpha", "p1", 1, "th-A", "running", 5, "Bash", "x.py", _dt(2026, 3, 1, 9, 1, 0), _dt(2026, 3, 1, 9, 0, 0), None),
        ("phase-1-p1", "alpha", "p1", 1, "th-A", "completed", 7, "Bash", "x.py", _dt(2026, 3, 1, 9, 2, 0), _dt(2026, 3, 1, 9, 0, 0), _dt(2026, 3, 1, 9, 2, 0)),
    ),
)


@register(
    "state_lifecycle",
    sql=_machine_sql(STATUS_EVENTS.values_cte()),
    doc="Q2/Q3: per-phase lifecycle transitions from the status stream (state machine replay)",
)
def state_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lifecycle_batch(STATUS_EVENTS.spark_df(spark))


@register(
    "state_claim",
    sql=_machine_sql(CLAIM_EVENTS.values_cte()),
    doc="Q6: claim CAS — competing thread's events rejected (single-writer-per-key)",
)
def state_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = CLAIM_EVENTS.spark_df(spark)
    return lifecycle_batch(df)


@register(
    "state_incident",
    sql=_machine_sql(
        STATUS_EVENTS.values_cte(),
        where="kind IN ('stalled', 'killed', 'suppressed_regression')",
    ),
    doc="Q7: stalled-consumer incidents + retry cap from event-time gaps",
)
def state_incident(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = lifecycle_batch(STATUS_EVENTS.spark_df(spark))
    return out.filter(F.col("kind").isin("stalled", "killed", "suppressed_regression"))


ATTRIB_WINDOW_MIN = 10  # attribution window: click within 10 min of view


def stream_interval_join(
    views: DataFrame, clicks: DataFrame, max_delay_min: int = ATTRIB_WINDOW_MIN
) -> DataFrame:
    """Watermarked stream-stream interval join (ad-attribution shape).

    Both sides carry a watermark and the join condition bounds
    ``click_ts`` to [view_ts, view_ts + window], so Spark can expire
    view-side state once the click watermark passes view_ts + window
    and click-side state immediately after match evaluation — state
    stays O(events within one window) per key regardless of stream
    length. This is THE pattern for joining two unbounded streams: an
    unbounded condition would grow state forever (Spark refuses it in
    append mode without watermarks).
    """
    v = views.withWatermark("view_ts", f"{max_delay_min} minutes")
    c = clicks.withWatermark("click_ts", f"{max_delay_min} minutes")
    return v.join(
        c,
        F.expr(
            f"view_user = click_user AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + INTERVAL {max_delay_min} MINUTES"
        ),
    ).select(
        F.col("imp_id"),
        F.col("click_id"),
        F.col("view_user").alias("user_id"),
        ((F.unix_micros(F.col("click_ts")) - F.unix_micros(F.col("view_ts"))) / F.lit(1_000_000))
        .cast("bigint")
        .alias("delay_s"),
    )


@register(
    "stream_interval_join",
    sql=f"""
    SELECT v.event_id AS imp_id, c.event_id AS click_id, v.user_id,
           CAST((epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS delay_s
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    doc=f"Stream-stream interval join (view->click attribution within "
    f"{ATTRIB_WINDOW_MIN} min): batch rendition of the watermarked two-stream "
    "join; the live streaming form is pinned in tests/test_streaming.py",
)
def stream_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch rendition over the events table: the streaming join itself
    on two static frames, where Spark drops the watermarks, leaving an
    equi-join on the user key with the time bound as a residual range
    predicate — the exact results the watermarked streaming form
    converges to (asserted live in the test suite). At scale the
    equi-key carries the shuffle; the residual range never becomes a
    cross product."""
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("imp_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return stream_interval_join(v, c)
