"""File-source pub/sub topics — the reference's queue directories as
Structured Streaming sources/sinks.

Reference parity: a topic is a directory whose contents define
membership (`README.md:19-30`, `scripts/setup.sh:125-132`); producers
publish with atomic tmp+rename (`hooks/status-tracker.sh:156-188`);
consumers poll on a cadence (300 s daemon / 30 s watcher / 5 s
orchestrator, `scripts/starry-daemon.sh:26-45`); `--once` is
``Trigger.AvailableNow``.

Scale notes: a file-listing source scales to many-thousand files per
trigger (`maxFilesPerTrigger` bounds batch size = the reference's
admission control); at true firehose scale the same Topic API fronts
a Kafka source — only `reader()` changes. Checkpointing gives the
exactly-once-ish replay the reference approximates with pre-created
markers (`commands/pulsar.md:176-209`).
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("task_id", T.StringType()),
        T.StructField("project", T.StringType()),
        T.StructField("plan_id", T.StringType()),
        T.StructField("phase", T.IntegerType()),
        T.StructField("thread_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("tool_count", T.IntegerType()),
        T.StructField("last_tool", T.StringType()),
        T.StructField("last_file", T.StringType()),
        T.StructField("updated_at", T.TimestampType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("completed_at", T.TimestampType()),
    ]
)


def atomic_write_json(directory: str, name: str, record: dict) -> str:
    """The reference's atomic publish: write tmp, rename into place
    (`hooks/status-tracker.sh:156-188` — 'Atomic move to prevent
    partial reads')."""
    os.makedirs(directory, exist_ok=True)
    final = os.path.join(directory, name)
    fd, tmp = tempfile.mkstemp(dir=directory, prefix=".tmp-", suffix=f"-{uuid.uuid4().hex[:8]}")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(record, default=str) + "\n")
        os.replace(tmp, final)  # atomic on POSIX
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return final


@dataclass
class Topic:
    """One queue directory as a streaming source + atomic-file sink."""

    base_dir: str
    schema: T.StructType

    def produce(self, name: str, record: dict) -> str:
        return atomic_write_json(self.base_dir, name, record)

    def reader(self, spark: SparkSession, max_files_per_trigger: int | None = None) -> DataFrame:
        r = spark.readStream.schema(self.schema)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r.json(self.base_dir)

    def read_batch(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(self.schema).json(self.base_dir)


@dataclass
class QueueNamespace:
    """A project namespace's full directory layout
    (`scripts/setup.sh:125-132`)."""

    root: str
    project: str

    def dir_for(self, state: str) -> str:
        sub = {
            "queued_background": "queued/background",
            "queued_interactive": "queued/interactive",
            "active": "active",
            "completed": "completed",
            "logs": "logs",
            "status": "status",
        }[state]
        return os.path.join(self.root, self.project, sub)

    def setup(self) -> None:
        for s in ("queued_background", "queued_interactive", "active", "completed", "logs", "status"):
            os.makedirs(self.dir_for(s), exist_ok=True)

    def enqueue_plan(self, plan: dict, interactive: bool = False) -> str:
        state = "queued_interactive" if interactive else "queued_background"
        return atomic_write_json(self.dir_for(state), f"{plan['id']}.json", plan)

    def move_plan(self, plan_id: str, src: str, dst: str) -> None:
        """Lifecycle transition = atomic rename between state dirs
        (`commands/pulsar.md:159-165`)."""
        os.replace(
            os.path.join(self.dir_for(src), f"{plan_id}.json"),
            os.path.join(self.dir_for(dst), f"{plan_id}.json"),
        )
