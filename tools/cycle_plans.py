"""Executed plans of the daemon cycle on the benchmark's plan queue
(`perfbench.gen.write_queue`, seed 1: 4 projects, 4 queued and 40
completed plans).

    python tools/cycle_plans.py --out plans/<dir> --tag after

Runs three cycles like the ``queue_drain`` workload: ``dispatch_once``,
the dispatched plan's status records, ``finalize_plan``,
``monitor_once``. The first two warm the JVM. The third cycle's
formatted executed plans go to ``select_plan_<tag>.txt`` (the plan
`scheduler.select_plan` returned inside ``dispatch_once``) and
``monitor_once_<tag>.txt`` (every action ``monitor_once`` ran).
Work-dir paths in the plans read ``<work>``. Jobs per cycle come from
the traced benchmark run (``plans.jobs_per_cycle``).
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SEED = 1
CYCLES = 3  # the queue holds 4 queued plans, one dispatched per cycle


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="directory for the plan files")
    ap.add_argument("--tag", default="after")
    args = ap.parse_args()

    from nova_pulsar_spark.plans import daemon, pulsar, scheduler
    from nova_pulsar_spark.session import get_spark
    from nova_pulsar_spark.streaming import topics
    from perfbench import gen

    spark = get_spark("cycle-plans")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cycle-plans-")
    root = os.path.join(work, "comms")
    by_id = {p["id"]: p for p in gen.write_queue(root, SEED, 4, 4, 40)}

    # executed plans, recorded after each collect (take/first/head end there)
    DataFrame = type(spark.range(1))  # the session's concrete DataFrame class
    plans: dict[str, list[str]] = {}
    selected: list = []
    current = [None]
    depth = [0]
    orig_collect, orig_select = DataFrame.collect, scheduler.select_plan

    def collect(self):
        depth[0] += 1
        try:
            out = orig_collect(self)
        finally:
            depth[0] -= 1
        if depth[0] == 0 and current[0]:
            text = spark._jvm.PythonSQLUtils.explainString(self._jdf.queryExecution(), "formatted")
            key = "select_plan" if any(self is d for d in selected) else current[0]
            plans.setdefault(key, []).append(text.replace(work, "<work>"))
        return out

    def select_plan(*a, **k):
        df = orig_select(*a, **k)
        selected.append(df)
        return df

    DataFrame.collect, scheduler.select_plan = collect, select_plan

    def recorded(name: str, cycle: int, fn):
        current[0] = name if cycle == CYCLES - 1 else None
        try:
            return fn()
        finally:
            current[0] = None

    now = gen.QUEUE_EPOCH + dt.timedelta(days=30)
    for cycle in range(CYCLES):
        d = recorded("dispatch_once", cycle, lambda: daemon.dispatch_once(spark, root, now))
        assert d["action"] == "dispatch", d
        plan = by_id[d["plan_id"]]
        topic = topics.Topic(base_dir=os.path.join(root, plan["project"], "status"), schema=topics.STATUS_SCHEMA)
        for i, ev in enumerate(gen.plan_status_events(plan, now)):
            topic.produce(f"{plan['id']}-{i:02d}.json", ev)
        pulsar.finalize_plan(root, plan["project"], plan["id"], now)
        recorded("monitor_once", cycle, lambda: daemon.monitor_once(spark, root, now + dt.timedelta(minutes=14)))
        now += dt.timedelta(minutes=15)

    os.makedirs(args.out, exist_ok=True)
    for name in ("select_plan", "monitor_once"):
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write("\n\n".join(plans.get(name, [])))
        print("wrote", path)
    spark.stop()
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
