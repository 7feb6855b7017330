"""One fixpoint loop and one connected-components routine for the four
iterative queries: `graph_components` and `llm_dedup_clusters` (through
`min_label_components`), `sched_rounds` (through `scheduler.phase_rounds`)
and `join_dep_closure`. A caller supplies a start frame, a step and a probe.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_CC_ITERS = 64  # components round cap; pointer jumping converges in O(log n)

_ROUND = "_fixpoint_round"


def fixpoint(
    start: DataFrame, step: Callable[[DataFrame], DataFrame], probe: Column, max_iters: int, what: str
) -> DataFrame:
    """Apply ``step`` from ``start`` until the scalar aggregate ``probe``
    stops changing, and return that round's frame.

    ``probe`` must move monotonically until convergence (a label sum that
    only falls, a depth or a row count that only grows), so an unchanged
    value means an unchanged frame. Each round's frame is a lazy
    ``localCheckpoint``: truncated lineage keeps a round from re-planning
    every round before it. The probe is one ``collect`` of ``probe``
    grouped by round, and the start frame rides in round 1's, so the
    start costs no action of its own.

    Cost: with AQE on, building a lazy checkpoint runs the round's shuffle
    and broadcast stages as Spark jobs at once, and the probe adds its
    own. Warm at sf0.1 on 4 cores, `graph_components` ran 52 build jobs
    over 7 rounds, `sched_rounds` 15 over 2 and `join_dep_closure` 11 over 1.

    Past ``max_iters`` rounds it raises ``ValueError``: the DuckDB twins
    are unbounded recursive CTEs, so an unconverged result would be a
    silent divergence between the engines.
    """
    frame = start.localCheckpoint(eager=False)
    probed = frame.withColumn(_ROUND, F.lit(0))
    values: dict[int, object] = {}
    for i in range(max_iters):
        nxt = step(frame).localCheckpoint(eager=False)
        tagged = nxt.withColumn(_ROUND, F.lit(i + 1))
        probed = probed.unionByName(tagged) if i == 0 else tagged
        values.update(probed.groupBy(_ROUND).agg(probe).collect())
        if values.get(i + 1) == values.get(i):
            return nxt
        frame = nxt
    raise ValueError(f"{what} did not reach a fixpoint within max_iters={max_iters} (probe: {values.get(max_iters)})")


def min_label_components(edges: DataFrame, max_iters: int) -> DataFrame:
    """Connected components of the undirected graph ``edges(a, b)``: one
    row ``(v, lbl)`` per vertex, ``lbl`` the smallest vertex id of its
    component.

    Min-label propagation with pointer jumping: each round every vertex
    takes the min label over itself and its neighbours (an edge-bounded
    join and a map-side-combinable groupBy), then labels jump one level,
    l(v) <- l(l(v)), which turns diameter-many rounds into O(log n) (the
    two-phase discipline of Kiveris et al.). Labels only fall, so their
    sum is the probe, summed as DECIMAL: a BIGINT sum of 64-bit ids
    overflows. Min-label fixpoints are unique, so partitioning and round
    order do not change the result.
    """
    sym = (
        edges.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .localCheckpoint(eager=False)  # reused every round
    )

    def step(labels: DataFrame) -> DataFrame:
        msgs = sym.join(labels.select(F.col("v").alias("u"), "lbl"), "u").select("v", "lbl")
        cand = labels.unionAll(msgs).groupBy("v").agg(F.min("lbl").alias("lbl"))
        jump = cand.select(F.col("v").alias("lbl"), F.col("lbl").alias("lbl2"))
        return cand.join(jump, "lbl", "left").select("v", F.coalesce("lbl2", "lbl").alias("lbl"))

    start = sym.select("v").distinct().select("v", F.col("v").alias("lbl"))
    label_sum = F.sum(F.col("lbl").cast("decimal(38,0)"))
    return fixpoint(start, step, label_sum, max_iters, "min_label_components")
