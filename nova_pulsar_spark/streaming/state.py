"""Stateful lifecycle processing (SURVEY.md §2.9 Q2/Q3/Q5/Q6/Q7).

One pandas state function implements the reference's per-phase state
machine; it runs BOTH ways:

- streaming: ``groupBy(plan_id, phase).applyInPandasWithState(...)``
  with ``GroupStateTimeout.ProcessingTimeTimeout`` — the production
  path (wired in :func:`lifecycle_stream`);
- batch: ``groupBy(plan_id, phase).applyInPandas(...)`` over a
  sorted event history — deterministic, used by the rows-only driver
  checks and tests (identical transition logic, injected clock).

Reference semantics enforced:
- monotonic terminal states (P3, `hooks/status-tracker.sh:129-138`):
  events after completed/failed are suppressed, emitted as
  `suppressed_regression`;
- claim CAS (Q6, `hooks/session-start.sh:60-67`): the first session
  to touch a phase owns it; events from other thread_ids are
  rejected (`claim_rejected`) — single-writer-per-key is free in
  Spark because state is partition-local;
- stall (W1/Q7, `agents/orbiter.md:176-196`): an event-time gap above
  the threshold emits a `stalled` incident (and in streaming mode the
  state timeout fires on silence);
- retry cap (Q5, `commands/pulsar.md:376-383`): at most 2
  retry incidents per phase before `killed`.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STALL_MINUTES = 10
RETRY_CAP = 2

TRANSITION_SCHEMA = T.StructType(
    [
        T.StructField("plan_id", T.StringType()),
        T.StructField("phase", T.IntegerType()),
        T.StructField("kind", T.StringType()),  # transition|suppressed_regression|claim_rejected|stalled|killed
        T.StructField("from_status", T.StringType()),
        T.StructField("to_status", T.StringType()),
        T.StructField("tool_count", T.IntegerType()),
        T.StructField("at", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("tool_count", T.IntegerType()),
        T.StructField("owner_thread", T.StringType()),
        T.StructField("retries", T.IntegerType()),
        T.StructField("last_update_epoch", T.LongType()),
    ]
)

_TERMINAL = frozenset({"completed", "failed", "killed"})


def _step(state: dict[str, Any], ev: dict[str, Any], stall_minutes: int) -> list[dict[str, Any]]:
    """Apply one event to the phase state; return emitted rows."""
    out: list[dict[str, Any]] = []
    plan_id, phase = ev["plan_id"], ev["phase"]

    def emit(kind, frm, to, at):
        out.append(
            {
                "plan_id": plan_id,
                "phase": phase,
                "kind": kind,
                "from_status": frm,
                "to_status": to,
                "tool_count": int(ev.get("tool_count") or 0),
                "at": at,
            }
        )

    # Q6 claim: first thread to report owns the phase.
    owner = state.get("owner_thread")
    ev_thread = ev.get("thread_id")
    if owner is None:
        state["owner_thread"] = ev_thread
    elif ev_thread is not None and ev_thread != owner:
        emit("claim_rejected", state.get("status"), state.get("status"), ev["updated_at"])
        return out

    prev_status = state.get("status")
    prev_epoch = state.get("last_update_epoch")
    # Naive-as-UTC epoch, explicitly: Arrow hands the worker naive
    # timestamps rendered in the session TZ (pinned to UTC,
    # session.py:46), and pd.Timestamp(...).value is ns-since-epoch
    # under that same naive-as-UTC reading on ANY host TZ — unlike
    # datetime.timestamp(), which would re-interpret naive values in
    # the host's local zone. Keeps stored epochs, emitted `at`s, and
    # the event-time watermark on one clock.
    ev_epoch = int(pd.Timestamp(ev["updated_at"]).value // 1_000_000_000)

    # P3 guard: terminal states are sticky.
    if prev_status in _TERMINAL:
        emit("suppressed_regression", prev_status, ev["status"], ev["updated_at"])
        return out

    # W1 stall: silence above threshold between consecutive events.
    if (
        prev_status == "running"
        and prev_epoch is not None
        and ev_epoch - prev_epoch > stall_minutes * 60
    ):
        retries = int(state.get("retries") or 0)
        if retries < RETRY_CAP:
            state["retries"] = retries + 1
            emit("stalled", prev_status, "retrying", ev["updated_at"])
        else:
            state["status"] = "killed"
            emit("killed", prev_status, "killed", ev["updated_at"])
            return out

    if ev["status"] != prev_status:
        emit("transition", prev_status, ev["status"], ev["updated_at"])
    state["status"] = ev["status"]
    state["tool_count"] = int(ev.get("tool_count") or 0)
    state["last_update_epoch"] = ev_epoch
    return out


def _fold(st: dict[str, Any], pdfs, stall_minutes) -> list[dict[str, Any]]:
    """Fold each batch's events, in event order, through :func:`_step`."""
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["updated_at", "tool_count"])
        for ev in pdf.to_dict("records"):
            rows.extend(_step(st, ev, stall_minutes))
    return rows


def _process_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], stall_minutes: int = STALL_MINUTES
) -> Iterator[pd.DataFrame]:
    rows = _fold({}, pdfs, stall_minutes)
    if rows:
        yield pd.DataFrame(rows)


def lifecycle_batch(status_events: DataFrame, stall_minutes: int = STALL_MINUTES) -> DataFrame:
    """Deterministic batch rendition of the state machine (replay =
    streaming recovery semantics: same events → same transitions)."""

    def fn(key, pdf):
        out = list(_process_group(key, iter([pdf]), stall_minutes))
        return pd.concat(out or [pd.DataFrame(columns=TRANSITION_SCHEMA.names)])

    return (
        status_events.repartition("plan_id", "phase")
        .groupBy("plan_id", "phase")
        .applyInPandas(fn, schema=TRANSITION_SCHEMA)
    )


def _state_fn(stall_minutes, fired_at, arm):
    """The ``applyInPandasWithState`` function of both stream renditions.

    Events: unpack the ``GroupState`` tuple, fold the events through
    :func:`_step`, write the state back and ``arm`` the next timeout.
    A fired timeout emits a stall incident at ``fired_at(last_epoch,
    retries)`` and re-arms one stall window later; past the retry cap
    it emits ``killed`` and drops the state (orbiter.md:183-196,
    pulsar.md:383). ``arm(state, due_epoch)`` receives the event-time
    instant, in epoch seconds, at which the next stall falls due.
    """
    stall_s = int(stall_minutes * 60)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (status, tool_count, owner, retries, last_epoch) = state.get
            retries = int(retries or 0)
            capped = retries >= RETRY_CAP
            yield pd.DataFrame(
                [
                    {
                        "plan_id": key[0],
                        "phase": key[1],
                        "kind": "killed" if capped else "stalled",
                        "from_status": status,
                        "to_status": "killed" if capped else "retrying",
                        "tool_count": tool_count,
                        "at": fired_at(last_epoch, retries),
                    }
                ]
            )
            if capped:
                state.remove()
            else:
                state.update((status, tool_count, owner, retries + 1, last_epoch))
                arm(state, int(last_epoch) + stall_s * (retries + 2))
            return
        st = dict(zip(STATE_SCHEMA.names, state.get)) if state.exists else {}
        rows = _fold(st, pdfs, stall_minutes)
        last_epoch = int(st.get("last_update_epoch") or 0)
        state.update(
            (
                st.get("status"),
                int(st.get("tool_count") or 0),
                st.get("owner_thread"),
                int(st.get("retries") or 0),
                last_epoch,
            )
        )
        arm(state, last_epoch + stall_s)
        if rows:
            yield pd.DataFrame(rows)

    return fn


def lifecycle_stream(status_stream: DataFrame, stall_minutes: int = STALL_MINUTES) -> DataFrame:
    """Streaming path: applyInPandasWithState with processing-time
    timeout (the watcher's silence-kill analog).

    This query never finishes on its own. A wall-clock timeout can fall
    due at any moment, so after every batch Spark plans another, no-data
    batch to check for it, whether or not any state is left. The query's
    ``recentProgress`` shows it on the status fixture: one batch with 19
    input rows, then only 0-row batches, first holding 12 state rows
    and, once every group has timed out and been dropped, 0. So
    ``Trigger.AvailableNow`` never terminates, ``processAllAvailable``
    never returns and ``awaitTermination`` only times out: wait for the
    input rows in ``recentProgress``, then call ``stop()``. ``--once``
    runs must use :func:`lifecycle_stream_event_time`, whose no-data
    batches stop when the watermark stops moving.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stall_ms = int(stall_minutes * 60 * 1000)
    fn = _state_fn(
        stall_minutes,
        fired_at=lambda last_epoch, retries: pd.Timestamp.utcnow().tz_localize(None),
        arm=lambda state, due_epoch: state.setTimeoutDuration(stall_ms),
    )
    return (
        status_stream.groupBy(F.col("plan_id"), F.col("phase"))
        .applyInPandasWithState(
            fn,
            outputStructType=TRANSITION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def lifecycle_stream_event_time(
    status_stream: DataFrame, stall_minutes: float = STALL_MINUTES
) -> DataFrame:
    """Event-time rendition of the silence kill: the stall clock is the
    WATERMARK, not the wall clock (`agents/orbiter.md:176-196` measures
    stalls in event minutes, which processing time only approximates).

    The input stream must carry ``withWatermark("updated_at", ...)``.
    Each group arms ``setTimeoutTimestamp(last_event + stall)``; when
    the watermark passes it, the timeout fires deterministically —
    the emitted `at` is the armed instant (last event + k·stall), a
    pure function of the data, so replays and re-runs produce byte-
    identical incidents (unlike the processing-time variant, whose
    `at` is wall-clock). Retries re-arm one stall window later until
    the cap, then the phase is killed and its state dropped.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stall_s = int(stall_minutes * 60)

    def arm(state, due_epoch: int) -> None:
        # the armed instant must sit above the current watermark
        state.setTimeoutTimestamp(max(due_epoch * 1000, state.getCurrentWatermarkMs() + 1))

    fn = _state_fn(
        stall_minutes,
        fired_at=lambda last_epoch, retries: pd.Timestamp(
            int(last_epoch) + stall_s * (retries + 1), unit="s"
        ),
        arm=arm,
    )
    return (
        status_stream.groupBy(F.col("plan_id"), F.col("phase"))
        .applyInPandasWithState(
            fn,
            outputStructType=TRANSITION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
