"""Session defaults fit the host they run on unless overridden."""

import os

from nova_pulsar_spark.session import default_driver_memory, default_parallelism


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) / 1024


def test_defaults_fit_the_host_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 0.59 * _mem_total_mb() <= int(mem[:-1]) <= 0.6 * _mem_total_mb()


def test_env_overrides_the_host_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert default_parallelism() == 3
    assert default_driver_memory() == "2g"
