"""Exactly-once foreachBatch sinks (Q9, SURVEY.md §2.9): one commit protocol.

The reference gets atomic publish from tmp+rename
(`hooks/status-tracker.sh:156-188`). Structured Streaming asks a sink to
be idempotent per epoch and to remember the last epoch it committed.
Every sink here does both the same way (:class:`_Committed`):

1. Read the commit record, `_LATEST` in the sink's root:
   ``{batch_id, lineage, …sink fields}``.
2. A ``batch_id`` at or below the recorded one is a replay, unless both
   sides name a checkpoint lineage and they differ. A replay is drained
   through a noop write: a stateful upstream commits its state stores
   during that pass, and Spark fails the batch if foreachBatch skips
   partitions.
3. Otherwise apply the batch's effect, then swap `_LATEST` atomically
   (`atomic_write_json`). A crash before the swap replays the batch,
   so every effect is written to be safe to redo from the recorded
   state: per-key files overwrite, the append log truncates back to its
   committed length, snapshots go to a version dir nobody reads yet.

Batch ids are monotonic only per CHECKPOINT LINEAGE: when the query's
checkpoint dir is recreated while the sink root persists, ids restart at
0, and a guard on the recorded id alone would skip every new batch
until the ids passed the old ones. The record therefore carries the
streaming query id (see :func:`_lineage_id`); a different id is a new
lineage and applies.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nova_pulsar_spark.streaming.topics import atomic_write_json


def _lineage_id(batch_df: DataFrame) -> str | None:
    """The streaming query id this batch belongs to — persisted in
    the checkpoint, so it is stable across restarts of the same
    lineage and FRESH when the checkpoint dir is recreated.
    StreamExecution pins it as the ``sql.streaming.queryId`` local
    property on the micro-batch thread, which identifies THIS query
    even with several streams active; falls back to the single
    active stream, else None (outside a foreachBatch context)."""
    try:
        qid = batch_df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        if qid:
            return str(qid)
        active = SparkSession.getActiveSession()
        streams = active.streams.active if active is not None else []
        return str(streams[0].id) if len(streams) == 1 else None
    except Exception:
        return None


class _Committed:
    """The commit protocol (module docstring). A sink supplies
    ``_apply(batch_df, cur) -> dict``: write the batch's effect given
    the current record ``cur`` (None before the first commit) and
    return the sink fields to record with it."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def current(self) -> dict | None:
        try:
            with open(os.path.join(self.root, "_LATEST")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        cur = self.current()
        lineage = _lineage_id(batch_df)
        if cur is not None and batch_id <= cur["batch_id"]:
            recorded = cur.get("lineage")
            if lineage is None or recorded is None or recorded == lineage:
                batch_df.write.format("noop").mode("overwrite").save()
                return
        fields = self._apply(batch_df, cur)
        atomic_write_json(self.root, "_LATEST", {"batch_id": batch_id, "lineage": lineage, **fields})


class JsonDirSink(_Committed):
    """One JSON file per key (the reference's one-file-per-record
    layout), each published by atomic rename. A replay after a crash
    rewrites the same files with the same content."""

    def __init__(self, directory: str, key_cols: list[str]):
        super().__init__(directory)
        self.key_cols = key_cols

    def _apply(self, batch_df: DataFrame, cur: dict | None) -> dict:
        for r in batch_df.collect():  # sink-side: batches are small rollups
            d = r.asDict(recursive=True)
            atomic_write_json(self.root, "-".join(str(d[k]) for k in self.key_cols) + ".json", d)
        return {}


class AppendLogSink(_Committed):
    """S9 append-log sink: one JSON line per row, one append per batch.

    The commit record (in the ``<path>.commit`` sidecar dir) holds the
    log's committed length ``end``. Each batch first truncates the log
    to ``end``, so lines a crashed batch appended before its commit are
    dropped, not duplicated, when the batch is replayed. The sink owns
    its log: with no record yet, ``end`` is 0."""

    def __init__(self, path: str):
        super().__init__(path + ".commit")  # also creates the log's dir
        self.path = path

    def _apply(self, batch_df: DataFrame, cur: dict | None) -> dict:
        lines = [json.dumps(r.asDict(recursive=True), default=str) + "\n" for r in batch_df.collect()]
        with open(self.path, "ab") as f:
            f.truncate(cur["end"] if cur else 0)
            f.write("".join(lines).encode())
            f.flush()
            return {"end": os.fstat(f.fileno()).st_size}


class _Snapshots(_Committed):
    """A keyed table kept as versioned parquet dirs; `_LATEST` records
    the live ``version``. A sink supplies ``_merge(snapshot or None,
    batch_df)``, written to the next version and published by the
    pointer swap: readers never see a partial table, and a crash before
    the swap leaves the previous version live. The merge is distributed.

    On a lakehouse this is `MERGE INTO` on Delta/Iceberg; the
    versioned-dir + pointer layout is the same copy-on-write MVCC those
    formats implement, expressed over plain parquet."""

    def __init__(self, root: str, key_cols: list[str]):
        super().__init__(root)
        self.key_cols = key_cols

    def snapshot_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:06d}")

    def read_snapshot(self, spark) -> DataFrame | None:
        cur = self.current()
        if cur is None:
            return None
        return spark.read.parquet(self.snapshot_path(cur["version"]))

    def _apply(self, batch_df: DataFrame, cur: dict | None) -> dict:
        if cur is None:
            merged, version = self._merge(None, batch_df), 0
        else:
            snap = batch_df.sparkSession.read.parquet(self.snapshot_path(cur["version"]))
            merged, version = self._merge(snap, batch_df), cur["version"] + 1
        merged.write.mode("overwrite").parquet(self.snapshot_path(version))
        return {"version": version}


class ParquetMergeSink(_Snapshots):
    """foreachBatch MERGE/upsert — the incremental-view-maintenance
    pattern: an update-mode aggregation feeds one row per changed key,
    and the merge anti-joins those keys out of the snapshot and unions
    the new rows in. The batch side is small per trigger, so Spark
    broadcasts it against the snapshot scan."""

    def _merge(self, snap: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        if snap is None:
            return batch_df
        keys = batch_df.select(*self.key_cols).distinct()
        return snap.join(keys, self.key_cols, "left_anti").unionByName(batch_df)


class DeltaAggSink(_Snapshots):
    """foreachBatch delta-accumulation: running per-key SUMS of
    ``sum_cols`` — incremental materialized-view maintenance for
    distributive aggregates. Unlike :class:`ParquetMergeSink` (fed by
    update-mode aggregations that re-emit the full per-key value), the
    STREAM stays append-mode raw rows: each batch is reduced to per-key
    deltas (map-side combine), and merge = group-sum of snapshot ∪ delta.
    That keeps the streaming state store empty — the accumulation lives
    in the sink table — the right trade at 100 TB when the key
    cardinality is too large for executor state but the per-batch delta
    is small."""

    def __init__(self, root: str, key_cols: list[str], sum_cols: list[str]):
        super().__init__(root, key_cols)
        self.sum_cols = sum_cols

    def _merge(self, snap: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        def total(df: DataFrame) -> DataFrame:
            return df.groupBy(*self.key_cols).agg(*[F.sum(c).cast("bigint").alias(c) for c in self.sum_cols])

        delta = total(batch_df)
        return delta if snap is None else total(snap.unionByName(delta))
