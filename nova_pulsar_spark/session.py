"""SparkSession factory tuned for this engine.

Local mode runs ``local[$SPARK_GRAFT_CPUS]`` with a driver heap of
``$SPARK_GRAFT_DRIVER_MEM``; unset, they default to the CPUs this
process may run on and about 60% of the host's RAM, so the heap spills
instead of outgrowing physical memory. The other configs are what we
would ship as cluster defaults
— AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (required for DuckDB-oracle
timestamp parity), Arrow enabled for the Pandas-UDF paths.

Python workers run under :mod:`nova_pulsar_spark.worker_daemon`
(``spark.python.daemon.module``), which stops them re-reading
``pyspark.zip`` on every task, and get the checkout root on their
``PYTHONPATH``, so UDFs that reference this package resolve from any
driver working directory. A session built without :func:`get_spark`
keeps Spark's stock daemon.

At 100 TB the knobs that matter change from "shuffle partitions ==
cores" to "shuffle partitions sized so each task's input is
100-500 MB"; AQE's coalescing makes the initial number mostly a
ceiling, so we set a high ceiling on clusters and let AQE shrink it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the nova_pulsar_spark package
CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{kb * 6 // 10 // 1024}m"


def get_spark(
    app_name: str = "nova-pulsar-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count: correct
    for local testing; a cluster deployment would raise it (AQE then
    coalesces down at runtime).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark cannot read natively; read as long and convert in
        # the loader (values are micro-precision, so the cast is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.python.daemon.module", "nova_pulsar_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", CHECKOUT_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
