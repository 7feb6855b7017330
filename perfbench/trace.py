"""In-memory tracing for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
the benchmark either calls the layer's public function itself or swaps
the function for a timing wrapper in every module that bound it. Jobs
are attributed to operations through Spark job groups; task-level
numbers come from Spark's JSON event log, parsed after the session
stops. Nothing here is active in an untraced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent) and named counters, kept in memory."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = t1 = time.perf_counter()
        self.cost_s += t1 - t0
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            self.cost_s += time.perf_counter() - t2

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def job_group(self, spark, group: str) -> None:
        """Tag the jobs this thread submits next (and streams it starts)."""
        if self.enabled:
            t0 = time.perf_counter()
            spark.sparkContext.setJobGroup(group, group)
            self.cost_s += time.perf_counter() - t0

    def count_jobs(self, spark, group: str, counter: str) -> None:
        """Add the jobs Spark's status tracker saw under ``group``."""
        if self.enabled:
            t0 = time.perf_counter()
            self.counters[counter] += len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
            self.cost_s += time.perf_counter() - t0

    def ancestor(self, rec: dict, name: str) -> dict | None:
        while rec is not None and rec["name"] != name:
            rec = self.spans[rec["parent"]] if rec["parent"] is not None else None
        return rec

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def wrap(self, module, attr: str, span_name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper, also in every
        loaded program module that imported the function by name."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                if on_call is None or not tracer.enabled:
                    return orig(*args, **kwargs)
                return on_call(orig, rec, *args, **kwargs)

        wrapper.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("nova_pulsar_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patches.append((mod, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters), **extra}, f, default=str)


def parse_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per-job-group totals from a finished JSON event log: jobs, stages,
    tasks and the task metrics the per-layer record reports."""
    path = os.path.join(log_dir, app_id)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev.get("Stage ID"), "")]
                g["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["peak_exec_mem_bytes"] = max(g["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
                g["task_time_s"] += m.get("Executor Run Time", 0) / 1000.0
    return {k: dict(v) for k, v in out.items()}


def sum_groups(groups: dict[str, dict], key: str) -> float:
    """Total of ``key`` over job groups (the maximum, for peak memory)."""
    vals = [g.get(key, 0.0) for g in groups.values()]
    return max(vals, default=0.0) if key == "peak_exec_mem_bytes" else sum(vals)
