from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nova_pulsar_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nova-pulsar-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _jobs_in(spark, group: str, fn):
    """``fn()``'s value and the number of Spark jobs it submitted,
    counted per job group with ``statusTracker``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running full-surface checks")
