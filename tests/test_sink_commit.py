"""The sinks' one commit protocol under an injected crash and across
checkpoint lineages, for all four sinks.

Each case drives a sink directly (no stream) and compares its output
with a second sink of the same kind that applied batches 0 and 1
cleanly. The hard-kill variant (a subprocess that dies in `os._exit`)
is not covered here.
"""

from __future__ import annotations

import os

import pytest

from nova_pulsar_spark.streaming import sinks
from nova_pulsar_spark.streaming.sinks import AppendLogSink, DeltaAggSink, JsonDirSink, ParquetMergeSink


def _json_dir(spark, root):
    sink = JsonDirSink(root, key_cols=["k"])
    return sink, lambda: {f: open(os.path.join(root, f)).read() for f in os.listdir(root) if f.endswith(".json")}


def _append_log(spark, root):
    path = os.path.join(root, "daemon.log")
    sink = AppendLogSink(path)
    return sink, lambda: open(path).read().splitlines()


def _parquet_merge(spark, root):
    sink = ParquetMergeSink(root, ["k"])
    return sink, lambda: sorted(tuple(r) for r in sink.read_snapshot(spark).collect())


def _delta_agg(spark, root):
    sink = DeltaAggSink(root, ["k"], ["n"])
    return sink, lambda: sorted(tuple(r) for r in sink.read_snapshot(spark).collect())


SINKS = pytest.mark.parametrize("make", [_json_dir, _append_log, _parquet_merge, _delta_agg],
                                ids=["json_dir", "append_log", "parquet_merge", "delta_agg"])


def _batches(spark):
    schema = "k string, n bigint"
    return (spark.createDataFrame([("a", 1), ("b", 2)], schema),
            spark.createDataFrame([("a", 5), ("c", 3)], schema))


def _clean_output(spark, make, root):
    sink, output = make(spark, root)
    first, second = _batches(spark)
    sink(first, 0)
    sink(second, 1)
    return output()


@SINKS
def test_crash_before_commit_replays_to_one_application(spark, tmp_path, monkeypatch, make):
    """The commit-record write (`_LATEST`, or a `.batch-<id>` seal)
    raises once after the batch's effect is written; Spark then replays
    the same batch id. The output must equal one clean application."""
    want = _clean_output(spark, make, str(tmp_path / "clean"))
    sink, output = make(spark, str(tmp_path / "crashed"))
    first, second = _batches(spark)
    sink(first, 0)

    real, crashed = sinks.atomic_write_json, []

    def crash_on_commit(directory, name, record):
        if not crashed and (name == "_LATEST" or name.startswith(".batch-")):
            crashed.append(name)
            raise OSError("injected crash before commit")
        return real(directory, name, record)

    monkeypatch.setattr(sinks, "atomic_write_json", crash_on_commit)
    with pytest.raises(OSError, match="injected"):
        sink(second, 1)
    sink(second, 1)
    assert crashed and output() == want


@SINKS
def test_new_checkpoint_lineage_applies_from_batch_zero(spark, tmp_path, make):
    """A recreated checkpoint restarts batch ids at 0 under a new query
    id; its batch 0 is new work, not a replay of the old lineage's."""
    want = _clean_output(spark, make, str(tmp_path / "clean"))
    sink, output = make(spark, str(tmp_path / "relineaged"))
    first, second = _batches(spark)
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("sql.streaming.queryId", "lineage-1")
        sink(first, 0)
        sc.setLocalProperty("sql.streaming.queryId", "lineage-2")
        sink(second, 0)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    assert output() == want
