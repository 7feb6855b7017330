"""Layered benchmark for nova_pulsar_spark.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

- ``pipeline``: LLM-pipeline queries that build stage-store artifacts,
  run once with the store empty (cold), then repeated (warm);
- ``queue_drain``: a seeded plan queue drained by the daemon loop, each
  cycle publishing the plan's status events through the event-time
  lifecycle stream. It never touches the stage store.

Every run is one process on ``local[nproc]`` with a fresh stage store,
warehouse and Spark local dir under ``.perfbench_tmp/`` of the
checkout, removed on exit. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
and ``.perfbench_out/<workload>-<seed>-t<trace>.json`` hold the run's
environment, per-operation detail and (traced runs) every span.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402

WORKLOADS = ("pipeline", "queue_drain")
END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s"}


def _host() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "host_cpus": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": os.getloadavg(),
    }


def _git_sha() -> str | None:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _configure_env(work: str, host: dict) -> dict:
    """Hermetic, host-fitted settings; must run before pyspark is imported."""
    cpus = host["usable_cpus"]
    driver_mb = min(2048, host["mem_total_mb"] // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the applyInPandasWithState workers import the package by name
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (the launcher too): temp files in the run dir, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in ("index", "local", "tmp", "warehouse", "eventlog", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(env)
    return env


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def _setup(work: str, tracer, trace: bool) -> tuple:
    """Launch the JVM and build the session, then the query registry.
    Returns both and the wall and CPU seconds of each step."""
    cpu0, t0 = procs.tree_cpu_s(), time.perf_counter()
    with tracer.span("session.get_spark"):
        from nova_pulsar_spark.session import get_spark

        spark = get_spark(extra_conf=_spark_conf(work, trace))
    cpu1, t1 = procs.tree_cpu_s(), time.perf_counter()
    with tracer.span("registry.all_queries"):
        from nova_pulsar_spark.registry import all_queries

        queries = all_queries()
    cpu2, t2 = procs.tree_cpu_s(), time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    times = {"get_spark_s": t1 - t0, "all_queries_s": t2 - t1,
             "get_spark_cpu_s": cpu1 - cpu0, "all_queries_cpu_s": cpu2 - cpu1}
    return spark, queries, times


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    started = procs.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway server exits on EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in started:
        while procs.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if procs.alive(pid):
            os.kill(pid, signal.SIGKILL)


def sizes(workload: str, seconds: int, tiny: bool) -> dict:
    if workload == "pipeline":
        return {"sf": 0.001 if tiny else 0.01}
    # one cold cycle, then a warm cycle per 4 s asked for, at least three
    return {"projects": 2 if tiny else 4, "queued": 1 if tiny else 1 + max(3, -(-seconds // 4)),
            "completed": 4 if tiny else 40}


def run(args) -> dict:
    host = _host()
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = _configure_env(work, host)

    from perfbench import gen, layers, workloads
    from perfbench.trace import Tracer

    tracer = Tracer(bool(args.trace))
    spark = None
    marks, steal0 = {"start": time.perf_counter()}, procs.steal_ticks()
    try:
        spark, queries, setup_times = _setup(work, tracer, bool(args.trace))
        marks["setup"] = time.perf_counter()
        size = sizes(args.workload, args.seconds, args.tiny)
        layers.install(tracer)
        if args.workload == "pipeline":
            sf_dir = os.path.join(work, "data", "sf")
            gen.write_tables(sf_dir, args.seed, size["sf"])
            res = workloads.run_queries(spark, tracer, queries, workloads.PIPELINE, sf_dir, args.seconds,
                                        corrupt=args.corrupt)
        else:
            res = workloads.run_queue(spark, tracer, os.path.join(work, "data"), args.seed, size["projects"],
                                      size["queued"], size["completed"], corrupt=args.corrupt)
        marks["workload"], steal = time.perf_counter(), procs.steal_ticks()
        rss = procs.tree_peak_rss()
        app_id = spark.sparkContext.applicationId
        tracer.unpatch()
        _stop_spark(spark)
        spark = None
        marks["stop"] = time.perf_counter()
        metrics = {
            "setup_s": setup_times["get_spark_cpu_s"] + setup_times["all_queries_cpu_s"],
            "cold_cpu_s": res.cold_cpu_s,
            "warm_cpu_s": res.warm_cpu_s,
        }
        out = {"metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}}
        if args.trace:
            per_layer = layers.collect(tracer, res, setup_times, work, app_id, rss)
            out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        attempted = res.ops + res.checks
        failed = res.failed_ops + res.failed_checks
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "env": {**env, **host, "git_sha": _git_sha()},
            "sizes": size,
            "phases_s": {k: v - marks["start"] for k, v in marks.items()},
            "setup_s": setup_times,
            "peak_rss_mb": rss,
            "end_to_end": metrics,
            "wall": res.wall,
            "steal_frac": (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1]),
            "detail": res.detail,
            "problems": res.problems,
            "failed_frac": failed / max(1, attempted),
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(report, f, indent=1, default=str)
        if args.trace:
            tracer.dump(stem + ".trace.json", {"run": report["env"]})
        print(json.dumps(report, default=str))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out["metrics"]}
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10, help="length of the measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes (sf0.001, one plan)")
    p.add_argument("--corrupt", action="store_true", help="damage one result before its check (self-test)")
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "nova_pulsar_spark", "registry.py")):
        print(f"nova_pulsar_spark not found under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
