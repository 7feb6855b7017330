"""Dispatcher/monitor composition — the reference's daemon and watcher
as batch jobs over real queue directories (SURVEY.md §3.3).

`dispatch_once` ≡ one `check_and_execute` cycle
(`scripts/starry-daemon.sh:171-206`): count queued → at-most-one-
active gate → Orbiter selection (deterministic O1 pipeline — the
reference's own fallback algorithm) → activate (file move + board
upsert). `monitor_once` ≡ one watcher cycle
(`agents/orbiter.md:151-293`): aggregate statuses → pulse.json →
stall incidents.

Wall-clock decoupling: both take `now` so tests inject a clock
(SURVEY.md §7.3 point 3). Side effects (file moves, board/pulse
writes) use the atomic tmp+rename publish — idempotent redo-safe, the
batch rendition of the streaming `foreachBatch` sink contract.

Each call is one cycle; the caller sets the cadence (the reference
polls every 300 s for the daemon and 30 s for the watcher), and the
reference's `--once` is a single call.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nova_pulsar_spark.plans import scheduler as S
from nova_pulsar_spark.streaming.topics import atomic_write_json

def _utcnow() -> datetime:
    """Naive-UTC wall clock (the serialization boundary is naive ISO
    strings, matching the reference's `date -u`); `datetime.utcnow()`
    is deprecated in 3.12+."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def pid_alive_probe(pid: int) -> bool:
    """Real process-table liveness probe — the production default for
    `dispatch_once(pid_alive=...)`, mirroring the reference's
    `ps -p $(cat pidfile)` (`scripts/starry-daemon.sh:77-85`).

    `os.kill(pid, 0)` sends no signal; it only checks deliverability:
    ProcessLookupError = no such process (stale pid file → the daemon
    re-dispatches, the crashed-consumer recovery), PermissionError =
    the process exists but belongs to another user (alive — exactly
    what `ps -p` would report).

    ADVICE r9: a pid file carrying an integer beyond C-int range makes
    `os.kill` raise OverflowError, which is NOT an OSError — unswallowed
    it would escape dispatch_once's per-file `except (OSError,
    ValueError)` and turn one garbage pid file into a whole-cycle
    scan_error. A pid that can't exist in the process table is dead."""
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except (OSError, OverflowError):
        return False
    return True


PLAN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("project", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("execution_mode", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("n_phases", T.IntegerType()),
        T.StructField(
            "phases",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("phase", T.IntegerType()),
                        T.StructField("title", T.StringType()),
                        T.StructField("files", T.ArrayType(T.StringType())),
                        T.StructField("complexity", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def _read_plans(spark: SparkSession, root: str, state_glob: str):
    """Read the ``*.json`` plan files in every project's ``state_glob``
    dirs as one FAILFAST DataFrame, or None when the glob matches no
    dir (the AnalysisException Spark raises at load).

    The glob names directories, not files, so Spark gets one path per
    matched dir instead of one per plan file. It lists those paths
    in-process, with no Spark job, only while there are at most
    `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) of
    them: for `scan_namespaces`, projects × 3 state dirs ≤ 32, i.e. up
    to 10 projects. Past that the listing becomes one Spark job with a
    task per dir.

    Corrupt plan files raise when the DataFrame is first evaluated —
    FAILFAST, mirroring `plans/pulsar._read_queue`: a PERMISSIVE read
    would hand the Orbiter an all-null plan row instead of failing."""
    try:
        return (
            spark.read.schema(PLAN_SCHEMA)
            .option("pathGlobFilter", "*.json")
            .option("mode", "FAILFAST")
            .json(os.path.join(root, "*", state_glob))
        )
    except AnalysisException:
        return None


# Plan state dirs the daemon scans; a plan's status is its dir's name,
# except that queued/background means "queued".
_STATE_DIRS = ("queued/background", "active", "completed")


def scan_namespaces(spark: SparkSession, root: str):
    """Every project's queued (background), active and completed plans
    from ONE listing, with the plan's queue state derived from its path
    (S1/P8); None when no plan file exists. `queued/interactive` and
    in-flight ``.tmp-*`` files are not matched."""
    plans = _read_plans(spark, root, "{" + ",".join(_STATE_DIRS) + "}")
    if plans is None:
        return None
    state_dir = F.regexp_extract(
        F.col("_metadata.file_path"), "/(" + "|".join(_STATE_DIRS) + ")/[^/]*$", 1
    )
    return plans.withColumn(
        "status", F.when(state_dir == "queued/background", "queued").otherwise(state_dir)
    )


def _orbiter_inputs(plans):
    """(plan metadata, exploded phases) — the two tables
    `scheduler.select_plan` ranks."""
    plan_meta = plans.select(
        "id", "title", "project", "type", "status", "execution_mode", "created_at", "n_phases"
    )
    phases = plans.select(
        F.col("id").alias("plan_id"), F.explode("phases").alias("ph")
    ).select("plan_id", F.col("ph.phase").alias("phase"), F.col("ph.files").alias("files"))
    return plan_meta, phases


def dispatch_once(
    spark: SparkSession,
    root: str,
    now: datetime | None = None,
    scorer=None,
    handoff=None,
    pid_alive=None,
) -> dict:
    """One daemon cycle. Returns a decision record (also appended to
    the root log, reference `log()` S9).

    ``scorer`` (S11/L1): optional external-LLM plan scorer passed to
    `scheduler.select_plan` — validated `project:plan_id` reply with
    fallback to the deterministic O1 ordering (the reference daemon's
    `claude -p` seam, `scripts/starry-daemon.sh:136-151`).

    ``handoff``: optional ``(root, project, plan_id) -> record``
    callable modeling `starry-daemon.sh:203`'s call into
    `pulsar-auto.sh` — the reference order, where the daemon does NOT
    move the plan file; the spawned consumer activates it. With a
    handoff the dispatch branch invokes it INSTEAD of the local
    queued→active move + board upsert, and the returned record lands
    in the decision (`tests/test_golden_handoff.py` pins the full
    daemon→pulsar seam this way). Default None keeps the compact
    single-process semantics the daemon golden replay pins.

    Handoff idempotence: because the plan stays queued until the
    consumer activates it, a second cycle firing before that move
    would re-select the same plan. The reference closes this window
    with PID-file liveness (`starry-daemon.sh:77-85`: `ps -p $(cat
    pidfile)`); here, a QUEUED plan whose `logs/{plan_id}.pid` file
    exists and passes ``pid_alive`` is treated as IN FLIGHT and the
    cycle waits instead of re-dispatching. ``pid_alive(pid) -> bool``
    defaults to :func:`pid_alive_probe` — a real `os.kill(pid, 0)`
    process-table probe, exactly the script's `ps -p` — so a consumer
    that died without cleanup can never park the daemon in
    ``wait_in_flight`` forever; returning False marks the pid file
    stale, and the plan is re-dispatched, the reference's
    crashed-consumer recovery. Tests inject a synthetic probe.

    Pid-file lifecycle: the gate covers the spawn→activation window
    only (a QUEUED plan with a live pid). Once the consumer activates,
    the at-most-one-active gate takes over, and `pulsar.finalize_plan`
    REMOVES the pid file at completion — so pid files never
    accumulate, and a recycled OS pid can never make a long-finished
    plan look in-flight.

    Spark work per cycle: one listing of the three state dirs
    (`scan_namespaces`; no listing job up to 10 projects, see
    `_read_plans`), one aggregate for the queued/active counts and,
    when the gate opens, one selection plan (`scheduler.select_plan`).
    The cycle is logged even when the scan or the handoff raises — an
    unreadable queue must not leave the cycle invisible in the daemon
    log. A scan-stage failure (e.g. a corrupt plan file surfacing at
    the counts aggregate, the first action over the FAILFAST read) is
    logged as ``scan_error`` with the exception string, never as a
    normal idle cycle; FAILFAST means one corrupt plan file halts
    dispatch for every project until it is repaired or removed —
    deliberate, the same all-stop the reference's `set -e` would
    produce."""
    now = now or _utcnow()
    if pid_alive is None:
        pid_alive = pid_alive_probe
    decision: dict = {"at": now.isoformat(), "action": "idle"}
    try:
        plans = scan_namespaces(spark, root)
        if plans is None:
            return decision
        n_queued, n_active = plans.agg(
            F.count_if(F.col("status") == "queued"), F.count_if(F.col("status") == "active")
        ).first()
        decision.update({"n_queued": n_queued, "n_active": n_active})
        in_flight: set[str] = set()
        if handoff is not None and n_queued > 0:
            import glob as _glob

            for p in _glob.glob(os.path.join(root, "*", "logs", "*.pid")):
                try:
                    pid = int(open(p).read().strip())
                except (OSError, ValueError):
                    continue
                if pid_alive(pid):
                    in_flight.add(os.path.splitext(os.path.basename(p))[0])
        if n_queued == 0:
            decision["action"] = "idle"  # starry-daemon.sh:178 "No queued plans"
        elif n_active > 0:
            decision["action"] = "wait"  # at-most-one-active gate (P2)
        elif in_flight and plans.filter(
            (F.col("status") == "queued") & F.col("id").isin(in_flight)
        ).take(1):
            # a handed-off consumer is still between spawn and
            # activation — sequential mode waits, it does not respawn
            decision["action"] = "wait_in_flight"
            decision["in_flight"] = sorted(in_flight)
        else:
            best = S.select_plan(*_orbiter_inputs(plans), scorer=scorer).collect()
            if not best:
                decision["action"] = "blocked"  # queued but all dependency-blocked
            else:
                chosen = best[0]
                project, plan_id = chosen.project, chosen.id
                if handoff is not None:
                    # reference order (starry-daemon.sh:203): trigger the
                    # consumer; the plan file stays queued until IT activates
                    try:
                        record = handoff(root, project, plan_id)
                    except Exception as e:
                        decision.update(
                            {"action": "handoff_error", "project": project,
                             "plan_id": plan_id, "error": str(e)}
                        )
                        raise
                    decision.update(
                        {
                            "action": "dispatch",
                            "project": project,
                            "plan_id": plan_id,
                            "handoff": record,
                        }
                    )
                else:
                    # Q2 activation: atomic file move queued → active
                    src = os.path.join(root, project, "queued/background", f"{plan_id}.json")
                    dst_dir = os.path.join(root, project, "active")
                    os.makedirs(dst_dir, exist_ok=True)
                    os.replace(src, os.path.join(dst_dir, f"{plan_id}.json"))
                    _update_board(root, project, plan_id, "active", now)
                    decision.update({"action": "dispatch", "project": project, "plan_id": plan_id})
    except Exception as e:
        # A crashed SCAN must not be logged as a normal idle cycle
        # (ADVICE r8): mark it, unless the handoff branch already
        # recorded its own error action.
        if "error" not in decision:
            decision.update({"action": "scan_error", "error": str(e)})
        raise
    finally:
        _log(root, decision)
    return decision


def monitor_once(
    spark: SparkSession, root: str, now: datetime, stall_minutes: int = 10
) -> dict:
    """One watcher cycle: status scan → pulse.json + incidents."""
    from nova_pulsar_spark.streaming.topics import STATUS_SCHEMA

    try:  # a dir glob, as in `_read_plans`: no listing job up to 32 projects
        se = (
            spark.read.schema(STATUS_SCHEMA)
            .option("pathGlobFilter", "*.json")
            .json(os.path.join(root, "*", "status"))
        )
    except AnalysisException:  # no status file yet
        pulse = {"updated_at": now.isoformat(), "rounds": [], "incidents": []}
        atomic_write_json(root, "pulse.json", pulse)
        return pulse
    latest = S.latest_status(se)
    now_col = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
    flagged = S.stalled(latest, now_col, stall_minutes)

    # The nested rollup is built IN SPARK (A3, orbiter.md:198-242) by
    # one two-level aggregation over `flagged`: per plan, the sorted
    # phase array and the stalled phases' incidents
    # (collect_list(when(stalled, ...)) skips the others); then all
    # plans into one document column with to_json — the driver fetches
    # a single serialized row, never per-(plan, phase) rows.
    phase_struct = F.struct(
        F.col("phase"),
        F.col("status"),
        F.col("tool_count"),
        F.col("last_tool"),
        F.date_format("updated_at", "yyyy-MM-dd'T'HH:mm:ss").alias("updated_at"),
        F.col("stalled"),
    )
    incident_struct = F.struct(
        F.lit("stalled_kill").alias("type"),
        F.col("project"),
        F.col("plan_id"),
        F.col("phase"),
        F.lit(now.isoformat()).alias("killed_at"),
        F.floor(
            (F.unix_timestamp(now_col) - F.unix_timestamp("updated_at")) / 60
        ).cast("int").alias("stalled_for_minutes"),
    )
    doc_row = (
        flagged.groupBy("plan_id", "project")
        .agg(
            F.sort_array(F.collect_list(phase_struct)).alias("phases"),
            F.collect_list(F.when(F.col("stalled"), incident_struct)).alias("incidents"),
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("plan_id"), F.col("project"), F.col("phases")))
            ).alias("rounds"),
            F.sort_array(F.flatten(F.collect_list("incidents"))).alias("incidents"),
        )
        .select(
            F.to_json(
                F.struct(
                    F.lit(now.isoformat()).alias("updated_at"),
                    F.col("rounds"),
                    F.col("incidents"),
                )
            ).alias("pulse")
        )
        .first()
    )
    pulse = json.loads(doc_row["pulse"])
    # to_json drops null-valued fields; restore them so the pulse file
    # shape is stable for consumers regardless of phase state.
    pulse.setdefault("rounds", [])
    pulse.setdefault("incidents", [])
    for g in pulse["rounds"]:
        for p in g["phases"]:
            p.setdefault("last_tool", None)
    atomic_write_json(root, "pulse.json", pulse)
    return pulse


def watcher_should_exit(spark: SparkSession, root: str) -> bool:
    """Q8 watcher auto-exit (`agents/orbiter.md:282-293`): stop the
    monitor loop when no plan is active anywhere."""
    plans = scan_namespaces(spark, root)
    if plans is None:
        return True
    return plans.filter(F.col("status") == "active").limit(1).count() == 0


def _update_board(root: str, project: str, plan_id: str, status: str, now: datetime) -> None:
    """Board upsert (S6/J3): read-modify-write with atomic publish."""
    board_path = os.path.join(root, "board.json")
    entries = []
    if os.path.exists(board_path):
        entries = json.load(open(board_path)).get("entries", [])
    found = False
    for entry in entries:
        if entry.get("id") == plan_id:
            entry["status"] = status
            entry["updatedAt"] = now.isoformat()
            found = True
    if not found:
        entries.append({"id": plan_id, "project": project, "status": status, "updatedAt": now.isoformat()})
    atomic_write_json(root, "board.json", {"entries": entries})


def _log(root: str, record: dict) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "daemon.log"), "a") as f:
        f.write(f"{record['at']} - {json.dumps(record, default=str)}\n")
