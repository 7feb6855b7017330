"""The shared fixpoint driver behind the four iterative queries
(`graph_components`, `llm_dedup_clusters`, `sched_rounds`,
`join_dep_closure`): 64-bit ids do not overflow its probe, and warm
query build stays within a committed Spark-job budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nova_pulsar_spark.operators.dedup import llm_dedup_clusters
from nova_pulsar_spark.registry import queries
from nova_pulsar_spark.sources.tables import load_table
from tests.conftest import _jobs_in

ID_OFFSET = 4 * 10**18  # the magnitude of 64-bit hashed document ids


def test_dedup_clusters_survive_64bit_ids(spark, sf_dir, tmp_path, monkeypatch):
    """Shifting every doc_id by 4·10^18 shifts the components by the same
    offset: three such ids already overflow a BIGINT label sum."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    shifted = str(tmp_path / "shifted")
    (
        load_table(spark, sf_dir, "documents")
        .withColumn("doc_id", F.col("doc_id") + F.lit(ID_OFFSET))
        .write.parquet(f"{shifted}/documents.parquet")
    )
    want = {
        (r.doc_id + ID_OFFSET, r.component_id + ID_OFFSET, r.is_keeper)
        for r in llm_dedup_clusters(spark, sf_dir).collect()
    }
    got = {tuple(r) for r in llm_dedup_clusters(spark, shifted).collect()}
    assert any(keeper for _, _, keeper in want)
    assert got == want


# Warm build jobs (the query function call alone, after one cold call) at
# the sf0.001 fixture on a 4-core host: the highest count of 5 warm calls
# before the shared driver. Lower a budget when a change lowers the count;
# never raise it.
WARM_BUILD_JOB_BUDGET = {
    "graph_components": 24,
    "llm_dedup_clusters": 0,
    "sched_rounds": 15,
    "join_dep_closure": 14,
}


@pytest.mark.parametrize("key", sorted(WARM_BUILD_JOB_BUDGET))
def test_fixpoint_queries_stay_within_job_budget(spark, sf_dir, tmp_path, monkeypatch, key):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    query = queries()[key]
    query(spark, sf_dir).collect()  # cold: builds the stage store and the memo
    warm, jobs = _jobs_in(spark, f"fixpoint-budget-{key}", lambda: query(spark, sf_dir))
    warm.collect()
    assert jobs <= WARM_BUILD_JOB_BUDGET[key], (key, jobs)
