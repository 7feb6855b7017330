"""The bench contract: ``bench.py`` measures, prints one JSON line and
writes no file."""

from __future__ import annotations

import json
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONTRACT_KEYS = {"metric", "value", "unit", "queries", "sf", "provenance"}
PROVENANCE_KEYS = {
    "policy",
    "runs",
    "cpus",
    "host_cpus",
    "loadavg_1m_start",
    "loadavg_1m_end",
    "git_sha",
}


def _tree() -> dict[str, tuple[int, int]]:
    """Size and mtime of every repo-root entry and of every file under
    ``artifacts/``: a new, rewritten or appended file changes it."""
    paths = [os.path.join(HERE, name) for name in os.listdir(HERE)]
    paths += [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(HERE, "artifacts"))
        for f in files
    ]
    return {
        os.path.relpath(p, HERE): (os.stat(p).st_size, os.stat(p).st_mtime_ns)
        for p in paths
    }


def test_bench_prints_one_json_line_and_writes_no_file(spark, sf_dir, monkeypatch, capsys):
    import bench

    keys = ["pricing_summary", "q_min_cost_supplier"]
    monkeypatch.setattr(bench, "HEADLINE", keys)
    monkeypatch.setattr(bench, "DEFAULT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    before = _tree()
    capsys.readouterr()

    bench.main()

    assert _tree() == before
    out = capsys.readouterr().out
    lines = out.splitlines()
    assert len(lines) == 1, out
    doc = json.loads(lines[0])
    assert set(doc) == CONTRACT_KEYS
    assert doc["metric"] == "headline_queries_total_time"
    assert doc["unit"] == "sec"
    assert doc["sf"] == 0.001
    assert list(doc["queries"]) == keys
    assert all(t > 0 for t in doc["queries"].values())
    assert doc["value"] == round(sum(doc["queries"].values()), 4)
    assert set(doc["provenance"]) == PROVENANCE_KEYS
    assert doc["provenance"]["runs"] == bench.RUNS
