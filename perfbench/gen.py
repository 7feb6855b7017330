"""Seeded input generators: the analytic tables, a plan-queue comms root
and the status events a plan's execution publishes.

Everything here is a pure function of its seed and size arguments, so
the same seed gives byte-identical inputs; the program under test only
ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit scale factor, matching the repo's sf0.001/0.01/0.1
# testdata drops (lineitem 6M, orders 1.5M, ... at sf1).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "blue", "red", "green", "steel", "brass", "tiny"]
PART_NOUN = ["widget", "anvil", "ring", "gear", "bolt", "spring", "valve", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# The shapes below were fitted to the repo's sf0.01 and sf0.1 testdata
# (perfbench/NOTES.md compares the two): a 30-word vocabulary drawn
# uniformly, 10-99 words a document, and 5% of documents a copy of
# another one with " dup" appended.
VOCAB = (
    "row the query stream fast spark line small customer group value hash batch sort data "
    "big filter key agg scan slow table part a merge window order column join vector"
).split()
DUP_SHARE = 0.05
EMB_DIM = 64
EMB_LABELS = 10


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    # one file, one row group, naive timestamp[us]: the testdata layout
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


def _documents(rng, n: int) -> list[str]:
    docs = [" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))) for _ in range(n)]
    # near duplicates: a copy of any other document (an earlier copy
    # included) with one word appended
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        j = int(rng.integers(0, n - 1))
        docs[i] = docs[j + (j >= i)] + " dup"
    return docs


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten analytic tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    n["embeddings"] = max(n["embeddings"], 500)  # the ANN queries need a few hundred vectors
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n["customer"])],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n["part"], 2))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n["orders"])],
        "o_totalprice": money(1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n["orders"])],
    })
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
        "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105000, n["lineitem"]),  # independent of quantity, as in testdata
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n["lineitem"])],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n["lineitem"])],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n["lineitem"]),
    })
    month_us = 30 * 86_400 * 10**6
    ts_us = np.sort(rng.integers(0, month_us, n["events"]))
    _write(out_dir, "events", {
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, n["customer"] // 10), n["events"]),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n["events"])],
        "value": np.round(rng.exponential(50.0, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    docs = _documents(rng, n["documents"])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": docs,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n["documents"])],
        "source": [f"src{k % 20}" for k in range(n["documents"])],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    # unit vectors in no cluster: a label's members are no closer to each
    # other than to the rest, as in testdata
    vecs = rng.normal(size=(n["embeddings"], EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n["embeddings"])
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# --- plan queue ------------------------------------------------------------

PLAN_TYPES = ["security", "bug", "feature", "refactor", "chore", "docs"]
FILE_POOL = [f"src/{m}/{f}.py" for m in ("auth", "pay", "core", "api", "ui", "db") for f in ("model", "views", "util", "io")]
QUEUE_EPOCH = dt.datetime(2026, 2, 1, 9, 0, 0)


def _plan(rng, plan_id: str, project: str, created: dt.datetime) -> dict:
    n_phases = int(rng.integers(1, 5))
    return {
        "id": plan_id,
        "title": plan_id,
        "project": project,
        "type": PLAN_TYPES[int(rng.integers(0, len(PLAN_TYPES)))],
        "execution_mode": "background",
        "created_at": created.isoformat(),
        "n_phases": n_phases,
        "phases": [
            {
                "phase": i + 1,
                "title": f"phase {i + 1}",
                "files": sorted({FILE_POOL[k] for k in rng.integers(0, len(FILE_POOL), int(rng.integers(1, 4)))}),
                "complexity": ("Low", "Medium", "High")[int(rng.integers(0, 3))],
            }
            for i in range(n_phases)
        ],
    }


def write_queue(root: str, seed: int, projects: int, queued: int, completed: int) -> list[dict]:
    """Write a comms root: ``projects`` namespaces in the queue layout,
    ``queued`` background plans and a backlog of ``completed`` plans.
    Returns the queued plans."""
    rng = np.random.default_rng(seed)
    names = [f"proj-{i:02d}" for i in range(projects)]
    for p in names:
        for sub in ("queued/background", "queued/interactive", "active", "completed", "logs", "status"):
            os.makedirs(os.path.join(root, p, sub), exist_ok=True)
    minutes = np.sort(rng.choice(60 * 24 * 25, queued + completed, replace=False))
    order = rng.permutation(queued + completed)  # which timestamps the backlog gets
    out = []
    for i, k in enumerate(order):
        created = QUEUE_EPOCH + dt.timedelta(minutes=int(minutes[k]))
        project = names[int(rng.integers(0, projects))]
        plan = _plan(rng, f"plan-{seed}-{i:05d}", project, created)
        state = "queued/background" if i < queued else "completed"
        with open(os.path.join(root, project, state, f"{plan['id']}.json"), "w") as f:
            json.dump(plan, f)
        if i < queued:
            out.append(plan)
    return out


def plan_status_events(plan: dict, start: dt.datetime) -> list[dict]:
    """The status records a plan's execution publishes, phase by phase,
    one minute apart. Even phases also get a stray update after their
    completion, which the lifecycle must suppress."""
    out, t = [], start
    for ph in plan["phases"]:
        task = f"phase-{ph['phase']}-{plan['id']}"
        steps = [("starting", 0), ("running", 3), ("completed", 7)]
        if ph["phase"] % 2 == 0:
            steps.append(("running", 8))
        for status, tools in steps:
            t += dt.timedelta(minutes=1)
            out.append({
                "task_id": task, "project": plan["project"], "plan_id": plan["id"],
                "phase": ph["phase"], "thread_id": f"th-{plan['id']}", "status": status,
                "tool_count": tools, "last_tool": "Edit", "last_file": ph["files"][0],
                "updated_at": t.isoformat(), "started_at": start.isoformat(),
                "completed_at": t.isoformat() if status == "completed" else None,
            })
    return out
