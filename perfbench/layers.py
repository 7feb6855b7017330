"""Per-layer metrics of the traced run.

``install`` puts timing wrappers on the layer functions that the
program calls internally (the stage store, table loads, plan
selection); the functions the benchmark calls itself are spanned in
workloads.py. ``collect`` turns spans, job-group counts, the event log
and streaming progress into the per-layer record. Layer names follow
the package: session, registry, sources, operators, stage_store
(``operators.ann_index.load_or_build``), exec (Spark's task metrics),
plans and streaming.
"""

from __future__ import annotations

import inspect
import os
import statistics

from perfbench.trace import Tracer, parse_event_log, sum_groups

EXEC_KEYS = {
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "peak_exec_mem_bytes": "bytes",
    "task_time_s": "s",
}


def install(tracer: Tracer) -> None:
    if not tracer.enabled:
        return
    from nova_pulsar_spark.operators import ann_index
    from nova_pulsar_spark.plans import daemon, scheduler  # noqa: F401  (binds select_plan users)
    from nova_pulsar_spark.sources import tables

    sig = inspect.signature(ann_index.load_or_build)

    def stage(orig, rec, *args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        build = bound.arguments["build"]
        built = []

        def counted_build():
            built.append(True)
            return build()

        bound.arguments["build"] = counted_build
        out = orig(*bound.args, **bound.kwargs)
        rec["kind"] = bound.arguments["kind"]
        rec["miss"] = bool(built)
        return out

    tracer.wrap(ann_index, "load_or_build", "stage_store.load_or_build", on_call=stage)
    tracer.wrap(tables, "load_table", "sources.load_table")
    tracer.wrap(tables, "fan_out", "sources.fan_out")
    tracer.wrap(scheduler, "select_plan", "plans.select_plan")


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def collect(tracer: Tracer, res, setup_times, work: str, app_id: str,
            rss: dict[str, float]) -> dict[str, tuple[float, str]]:
    """The per-layer record: ``{name: (value, unit)}``. Every name is
    present on every workload; a layer the workload never reaches
    reads 0."""
    groups = parse_event_log(os.path.join(work, "eventlog"), app_id)
    passes = max(1, res.passes)
    m: dict[str, tuple[float, str]] = {
        # wall seconds; the JVM launch is inside get_spark
        "session.get_spark_s": (setup_times["get_spark_s"], "s"),
        "registry.all_queries_s": (setup_times["all_queries_s"], "s"),
        # peak RSS at the end of the run: driver, JVM and Python workers
        "memory.peak_rss_mb": (sum(rss.values()), "MB"),
        "memory.jvm_peak_rss_mb": (sum(v for k, v in rss.items() if k.startswith("java-")), "MB"),
    }

    queries = [s for s in tracer.spans if s["name"] == "operators.query"]

    def in_pass(s, prefix: str) -> bool:
        q = tracer.ancestor(s, "operators.query")
        return q is not None and q["group"].startswith(prefix)

    # sources: table loads and fan-out per warm pass
    for name in ("load_table", "fan_out"):
        spans = [s for s in tracer.spans if s["name"] == f"sources.{name}" and s["end"] and in_pass(s, "warm")]
        m[f"sources.{name}_calls"] = (len(spans) / passes, "count")
        m[f"sources.{name}_s"] = (sum(s["end"] - s["start"] for s in spans) / passes, "s")

    # operators: the cold pass, then per warm pass
    def op_time(prefix: str, child: str) -> float:
        ids = {q["id"] for q in queries if q["group"].startswith(prefix)}
        return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == child and s["parent"] in ids)

    c = tracer.counters
    warm_groups = {k: v for k, v in groups.items() if k.startswith("warm")}
    m["operators.cold_build_s"] = (op_time("cold", "operators.build"), "s")
    m["operators.cold_exec_s"] = (op_time("cold", "operators.exec"), "s")
    m["operators.cold_jobs"] = (c.get("cold.build_jobs", 0) + c.get("cold.exec_jobs", 0), "count")
    m["operators.build_s"] = (op_time("warm", "operators.build") / passes, "s")
    m["operators.exec_s"] = (op_time("warm", "operators.exec") / passes, "s")
    m["operators.build_jobs"] = (sum(v for k, v in c.items() if k.startswith("warm") and k.endswith(".build_jobs")) / passes, "count")
    m["operators.jobs"] = (sum(v for k, v in c.items() if k.startswith("warm") and k.endswith("_jobs")) / passes, "count")
    m["operators.stages"] = (sum_groups(warm_groups, "stages") / passes, "count")
    m["operators.tasks"] = (sum_groups(warm_groups, "tasks") / passes, "count")

    # stage store: every load_or_build call, split by the pass it ran in
    calls = [s for s in tracer.spans if s["name"] == "stage_store.load_or_build" and s["end"]]
    m["stage_store.calls"] = (len(calls), "count")
    m["stage_store.misses"] = (sum(1 for s in calls if s.get("miss")), "count")
    m["stage_store.cold_misses"] = (sum(1 for s in calls if s.get("miss") and in_pass(s, "cold")), "count")
    m["stage_store.warm_misses"] = (sum(1 for s in calls if s.get("miss") and not in_pass(s, "cold")), "count")
    m["stage_store.build_s"] = (sum(s["end"] - s["start"] for s in calls if s.get("miss")), "s")
    m["stage_store.probe_s"] = (sum(s["end"] - s["start"] for s in calls if not s.get("miss")), "s")
    m["stage_store.bytes"] = (_dir_bytes(os.path.join(work, "index")), "bytes")

    # exec: Spark task metrics per warm pass (queries) or per cycle (queue)
    bursts = res.layers.get("bursts", [])
    if bursts:
        measured = {k: v for k, v in groups.items()
                    if k.startswith("cycle") or k in {b["run_id"] for b in bursts}}
    else:
        measured = warm_groups
    for key, unit in EXEC_KEYS.items():
        m[f"exec.{key}"] = (sum_groups(measured, key) / (1 if key.startswith("peak") else passes), unit)

    # plans: per daemon cycle
    cycles = max(1, len(res.detail.get("dispatch_s", [])))
    cycle_groups = {k: v for k, v in groups.items() if k.startswith("cycle")}
    m["plans.scan_files"] = (c.get("plans.scan_files", 0) / cycles, "count")
    m["plans.jobs_per_cycle"] = (c.get("plans.cycle_jobs", 0) / cycles, "count")
    m["plans.tasks_per_cycle"] = (sum_groups(cycle_groups, "tasks") / cycles, "count")
    m["plans.dispatch_once_s"] = (tracer.total("plans.dispatch_once") / cycles, "s")
    m["plans.select_plan_s"] = (tracer.total("plans.select_plan") / cycles, "s")
    m["plans.finalize_plan_s"] = (_mean(tracer.durations("plans.finalize_plan")), "s")
    m["plans.monitor_once_s"] = (_mean(tracer.durations("plans.monitor_once")), "s")

    # streaming: per burst, from the query's own progress reports
    progress = [p for b in bursts for p in b["progress"]]
    fed = [p for p in progress if p["numInputRows"] > 0]
    last_state = next((p["stateOperators"][0] for p in reversed(progress) if p.get("stateOperators")), {})
    latency = [b["latency_s"] for b in bursts]
    n_bursts = max(1, len(bursts))
    busy = tracer.total("streaming.produce") + sum(latency)
    m["streaming.produce_s"] = (tracer.total("streaming.produce") / n_bursts, "s")
    m["streaming.batches_per_burst"] = (len(progress) / n_bursts, "count")
    m["streaming.trigger_ms"] = (_mean(p["durationMs"].get("triggerExecution", 0) for p in fed), "ms")
    m["streaming.add_batch_ms"] = (_mean(p["durationMs"].get("addBatch", 0) for p in fed), "ms")
    m["streaming.sink_s"] = (tracer.total("streaming.sink") / n_bursts, "s")
    m["streaming.state_rows"] = (last_state.get("numRowsTotal", 0), "count")
    m["streaming.state_mem_bytes"] = (last_state.get("memoryUsedBytes", 0), "bytes")
    m["streaming.events_per_s"] = (res.layers.get("events", 0) / busy if busy else 0.0, "1/s")
    m["streaming.burst_latency_p50_s"] = (statistics.median(latency) if latency else 0.0, "s")

    measured_s = sum(s["end"] - s["start"] for s in tracer.spans
                     if s["parent"] is None and s["name"] in ("operators.query", "plans.dispatch_once",
                                                              "streaming.produce", "streaming.burst",
                                                              "plans.finalize_plan", "plans.monitor_once"))
    m["trace.overhead_frac"] = (tracer.cost_s / measured_s if measured_s else 0.0, "frac")
    return m

