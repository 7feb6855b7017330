"""The benchmark's workloads. Each returns a ``Result``: the timed
operations, the correctness problems found afterwards, and the raw
numbers the metrics are computed from.

Timing is taken from outside, around calls into each module's public
functions; in a traced run the tracer adds spans at the same places.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import check, gen
from perfbench.procs import tree_cpu_s
from perfbench.trace import Tracer

# One query per stage-store family: the dedup stages (dedup_mh, dedup_cand,
# dedup_ws), the IVF coarse quantizer, the co-purchase edge table and the
# ranked-events stage. Each builds its artifact on the cold pass.
PIPELINE = (
    "llm_dedup_near",
    "llm_simsearch_ivf",
    "graph_triangles",
    "median_exact",
)


@dataclass
class Result:
    ops: int = 0  # operations attempted (query runs, plan cycles)
    failed_ops: int = 0
    checks: int = 0  # run-level checks attempted
    failed_checks: int = 0
    problems: list[str] = field(default_factory=list)  # one line per failure
    cold_cpu_s: float = 0.0  # CPU seconds of the first pass over every operation
    warm_cpu_s: float = 0.0  # CPU seconds per warm pass or cycle
    wall: dict = field(default_factory=dict)  # wall-clock figures, reported only
    passes: int = 1  # warm passes (queries) or plan cycles (queue)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _time_query(spark, tracer: Tracer, rq, sf_dir: str, group: str):
    phase = group.split(":")[0]
    with tracer.span("operators.query", query=rq.name, group=group):
        tracer.job_group(spark, group + ":build")
        t0 = time.perf_counter()
        with tracer.span("operators.build"):
            df = rq.fn(spark, sf_dir)
        t1 = time.perf_counter()
        tracer.job_group(spark, group + ":exec")
        with tracer.span("operators.exec"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
    tracer.count_jobs(spark, group + ":build", f"{phase}.build_jobs")
    tracer.count_jobs(spark, group + ":exec", f"{phase}.exec_jobs")
    tracer.job_group(spark, "bench")
    return pdf, t1 - t0, t2 - t1


def warm_passes(seconds: float) -> int:
    """Warm passes for a ``seconds`` window: a pass takes about 1.5 s on a
    4-core host. The count is fixed up front, so a faster or slower host
    runs the same passes; per-pass cost still falls over the first few."""
    return max(3, math.ceil(seconds / 1.5))


def run_queries(spark, tracer: Tracer, queries: dict, names, sf_dir: str, seconds: float,
                corrupt: bool = False) -> Result:
    """Cold pass (empty stage store, first run of every query in this
    process), one untimed warm-up pass, then ``warm_passes(seconds)``
    warm passes. Results are hashed after the passes and checked against
    the DuckDB oracle."""
    res = Result()
    results: dict[str, list] = {n: [] for n in names}
    warm: dict[str, list[float]] = {n: [] for n in names}
    cold: dict[str, float] = {}

    def one(name: str, group: str) -> float | None:
        res.ops += 1
        try:
            pdf, build_s, exec_s = _time_query(spark, tracer, queries[name], sf_dir, group)
        except Exception as e:  # a failing query is counted, not fatal
            res.failed_ops += 1
            res.problems.append(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
            return None
        results[name].append(pdf)
        return build_s + exec_s

    cpu0 = tree_cpu_s()
    for name in names:
        t = one(name, f"cold:{name}")
        if t is not None:
            cold[name] = t
    res.cold_cpu_s = tree_cpu_s() - cpu0
    for name in names:  # one untimed warm-up pass: lets the JIT settle
        one(name, f"settle:{name}")
    pass_cpu, start = [], time.perf_counter()
    for p in range(warm_passes(seconds)):
        cpu0 = tree_cpu_s()
        for name in names:
            t = one(name, f"warm{p}:{name}")
            if t is not None:
                warm[name].append(t)
        pass_cpu.append(tree_cpu_s() - cpu0)
    window = time.perf_counter() - start

    oracle = check.oracle_hashes(sf_dir, {n: queries[n].sql for n in names if queries[n].sql})
    for name in names:
        if corrupt and name == names[0]:
            results[name] = [pdf.assign(corrupted=1) for pdf in results[name]]
        hashes = [check.value_hash(pdf) for pdf in results[name]]
        want = oracle.get(name) or hashes[0]
        for i, h in enumerate(hashes):
            if h != want:
                res.failed_ops += 1
                res.problems.append(f"{name} run {i} hash {h} != {'oracle' if name in oracle else 'cold'} {want}")

    runs = [t for ts in warm.values() for t in ts]
    res.warm_cpu_s = sum(pass_cpu) / len(pass_cpu)
    res.passes = len(pass_cpu)
    res.wall = {
        "cold_s": sum(cold.values()),
        "warm_s": sum(statistics.median(ts) for ts in warm.values() if ts),
        "ops_per_s": len(runs) / window,
        "op_p50_s": statistics.median(runs) if runs else 0.0,
    }
    res.detail = {"cold_s": cold, "warm_s": warm, "pass_cpu_s": pass_cpu, "oracle_checked": sorted(oracle)}
    return res


def run_queue(spark, tracer: Tracer, work: str, seed: int, projects: int, queued: int,
              completed: int, corrupt: bool = False) -> Result:
    """Closed loop, one consumer: dispatch_once → publish the plan's
    status events → one ``AvailableNow`` run of the event-time lifecycle
    stream into an append-log sink → finalize_plan → monitor_once, until
    the daemon reports idle."""
    from nova_pulsar_spark.plans import daemon, pulsar
    from nova_pulsar_spark.streaming import sinks, state, topics

    res = Result()
    root = os.path.join(work, "comms")
    plans = gen.write_queue(root, seed, projects, queued, completed)
    by_id = {p["id"]: p for p in plans}
    sink_log = os.path.join(work, "stream", "transitions.log")
    ckpt = os.path.join(work, "stream", "checkpoint")
    append = sinks.AppendLogSink(sink_log)
    status_glob = os.path.join(root, "*", "status")
    reader = topics.Topic(base_dir=status_glob, schema=topics.STATUS_SCHEMA)

    def sink(batch_df, batch_id):
        with tracer.span("streaming.sink"):
            append(batch_df, batch_id)

    now = gen.QUEUE_EPOCH + dt.timedelta(days=30)
    decisions: list[dict] = []
    cycles: list[float] = []
    cycle_cpu: list[float] = []
    dispatch: list[float] = []
    bursts: list[dict] = []
    produced = 0
    t_start, drain_cpu0 = time.perf_counter(), tree_cpu_s()
    while True:
        n = len(decisions)
        res.ops += 1
        if tracer.enabled:
            t0 = time.perf_counter()
            tracer.add("plans.scan_files", _count_plan_files(root))
            tracer.cost_s += time.perf_counter() - t0
        tracer.job_group(spark, f"cycle{n}")
        cpu0 = tree_cpu_s()
        c0 = time.perf_counter()
        try:
            with tracer.span("plans.dispatch_once"):
                d = daemon.dispatch_once(spark, root, now)
        except Exception as e:
            res.failed_ops += 1
            res.problems.append(f"dispatch_once raised {type(e).__name__}: {str(e)[:200]}")
            break
        dispatch.append(time.perf_counter() - c0)
        decisions.append(d)
        if d["action"] != "dispatch":
            break
        plan = by_id[d["plan_id"]]
        try:
            topic = topics.Topic(base_dir=os.path.join(root, plan["project"], "status"), schema=topics.STATUS_SCHEMA)
            events = gen.plan_status_events(plan, now)
            with tracer.span("streaming.produce"):
                for i, ev in enumerate(events):
                    topic.produce(f"{plan['id']}-{i:02d}.json", ev)
            produced += len(events)
            written = time.perf_counter()
            with tracer.span("streaming.burst"):
                q = (
                    state.lifecycle_stream_event_time(reader.reader(spark).withWatermark("updated_at", "1 minute"))
                    .writeStream.foreachBatch(sink)
                    .trigger(availableNow=True)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                finished = q.awaitTermination(120)
                if not finished:
                    q.stop()
                    raise RuntimeError("AvailableNow run did not terminate within 120 s")
            bursts.append({"latency_s": time.perf_counter() - written, "events": len(events),
                           "run_id": str(q.runId), "progress": q.recentProgress})
            with tracer.span("plans.finalize_plan"):
                pulsar.finalize_plan(root, plan["project"], plan["id"], now)
            with tracer.span("plans.monitor_once"):
                daemon.monitor_once(spark, root, now + dt.timedelta(minutes=14))
        except Exception as e:
            res.failed_ops += 1
            res.problems.append(f"cycle {n} ({plan['id']}) raised {type(e).__name__}: {str(e)[:200]}")
            break
        cycles.append(time.perf_counter() - c0)
        cycle_cpu.append(tree_cpu_s() - cpu0)
        now += dt.timedelta(minutes=15)
    drain_s = time.perf_counter() - t_start
    res.cold_cpu_s = tree_cpu_s() - drain_cpu0

    # --- checks (untimed) ---
    for n in range(len(decisions)):
        tracer.count_jobs(spark, f"cycle{n}", "plans.cycle_jobs")
    tracer.job_group(spark, "check")
    problems = check.queue_problems(root, plans, decisions)
    fed = sum(p["numInputRows"] for b in bursts for p in b["progress"])
    if fed != produced:
        problems.append(f"stream read {fed} rows, {produced} events were produced")
    got = _read_sink(sink_log)
    if corrupt and got:
        got = got[1:]
    batch = state.lifecycle_batch(reader.read_batch(spark))
    want = [r.asDict() for r in batch.collect()]
    if check.transitions_key(got) != check.transitions_key(want):
        problems.append(f"stream transitions ({len(got)} rows) differ from lifecycle_batch ({len(want)} rows)")
    res.checks = 5  # three in queue_problems, rows fed, transitions
    res.failed_checks = len(problems)
    res.problems += problems

    warm_cpu = cycle_cpu[1:] or cycle_cpu or [res.cold_cpu_s]
    res.warm_cpu_s = sum(warm_cpu) / len(warm_cpu)
    res.passes = len(cycles)
    # dispatches after the first, idle cycle excluded
    warm_dispatch = dispatch[1:len(cycles)] or dispatch
    res.wall = {
        "cold_s": cycles[0] if cycles else drain_s,
        "warm_s": statistics.median(cycles[1:]) if len(cycles) > 1 else drain_s,
        "ops_per_s": len(cycles) / drain_s,
        "op_p50_s": statistics.median(warm_dispatch) if warm_dispatch else drain_s,
    }
    latency = [b["latency_s"] for b in bursts]
    res.detail = {
        "plans": len(plans),
        "cycles_s": cycles,
        "dispatch_s": dispatch,
        "burst_latency_s": latency,
        "events": produced,
        "actions": [d["action"] for d in decisions],
        "cycle_cpu_s": cycle_cpu,
    }
    res.layers = {"bursts": bursts, "events": produced}
    return res


def _count_plan_files(root: str) -> int:
    n = 0
    for project in os.listdir(root):
        for sub in ("queued/background", "active", "completed"):
            d = os.path.join(root, project, sub)
            if os.path.isdir(d):
                n += sum(1 for f in os.listdir(d) if f.endswith(".json"))
    return n


def _read_sink(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
