"""Correctness checks, run outside the timed region.

Query results are compared by an order-insensitive value hash: columns
sorted by name, rows sorted, nulls unified, each column's dtype kind
included (a DuckDB HUGEINT that arrives as float would otherwise hash
equal to a Spark bigint by value alone).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        v = v.tz_convert("UTC").tz_localize(None) if v.tzinfo else v
        return v.isoformat()
    if isinstance(v, np.generic):
        return v.item()
    return v


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    kinds = [pdf[c].dtype.kind.replace("u", "i") for c in cols]
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    h = hashlib.sha256(repr((cols, kinds)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def oracle_hashes(sf_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    """DuckDB twin of each query over the same parquet files."""
    import duckdb

    from nova_pulsar_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        return {name: value_hash(con.execute(sql).fetchdf()) for name, sql in sqls.items()}
    finally:
        con.close()


def queue_problems(root: str, queued: list[dict], decisions: list[dict]) -> list[str]:
    """Three checks, one line per failed check: every queued plan was
    dispatched exactly once; each ended in ``completed/`` and on the board
    as completed; no cycle logged a scan error."""
    problems = []
    got = [d["plan_id"] for d in decisions if d.get("action") == "dispatch"]
    if sorted(got) != sorted(p["id"] for p in queued):
        problems.append(f"dispatched {len(got)} plans ({len(set(got))} distinct), expected {len(queued)}")
    board = {}
    if os.path.exists(os.path.join(root, "board.json")):
        with open(os.path.join(root, "board.json")) as f:
            board = {e["id"]: e["status"] for e in json.load(f).get("entries", [])}
    unfinished = [p["id"] for p in queued
                  if board.get(p["id"]) != "completed"
                  or not os.path.exists(os.path.join(root, p["project"], "completed", f"{p['id']}.json"))]
    if unfinished:
        problems.append(f"not completed on disk and board: {unfinished}")
    with open(os.path.join(root, "daemon.log")) as f:
        if "scan_error" in f.read():
            problems.append("a cycle logged scan_error")
    return problems


TIMEOUT_KINDS = ("stalled", "killed")


def transitions_key(rows: list[dict]) -> list[tuple]:
    """Non-timeout transitions as a sortable multiset."""
    keep = [r for r in rows if r["kind"] not in TIMEOUT_KINDS]
    return sorted(
        (r["plan_id"], r["phase"], r["kind"], r["from_status"] or "", r["to_status"] or "",
         int(r["tool_count"] or 0), str(pd.Timestamp(r["at"])))
        for r in keep
    )
