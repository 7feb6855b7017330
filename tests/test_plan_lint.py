"""Global plan lint: the 100 TB contract enforced over EVERY
registered query, not just hand-picked examples.

Two antipatterns are banned outright:
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan; the
  engine's only Python paths are Arrow-vectorized
  (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``).
- ``CartesianProduct`` — a non-broadcast cross join; every cross join
  in the engine is against a broadcast singleton/tiny frame, which
  plans as ``BroadcastNestedLoopJoin`` instead.

Also pinned: which queries plan a window with no partition spec (all
rows in one task), against a committed allow-list; and every
registered query carries a DuckDB oracle twin — the zero-rows-only
invariant the correctness gate relies on.
"""

from __future__ import annotations

import pytest

from nova_pulsar_spark.registry import all_queries

SF = "/root/testdata/sf0.001"

BANNED = ("CartesianProduct", "BatchEvalPython")


def test_every_query_has_an_oracle_twin():
    missing = [n for n, rq in all_queries().items() if rq.sql is None]
    assert not missing, f"rows-only queries (no oracle SQL): {missing}"


def test_no_rdd_access_in_engine_source():
    """`.rdd` on a DataFrame forces a full conversion out of the
    Tungsten/codegen path (and `rdd.isEmpty()` schedules an RDD job
    where `take(1)` stays columnar). Ban it engine-wide."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "nova_pulsar_spark"
    hits = []
    for py in sorted(root.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\.rdd\b", line) and not line.lstrip().startswith("#"):
                hits.append(f"{py.name}:{i}: {line.strip()}")
    assert not hits, f".rdd access in engine source: {hits}"


# Keys whose executed plan holds a Window with no partition spec: Spark
# moves all of its input to one task (an `Exchange SinglePartition`
# below it). docs/SCALE.md ("Windows that stay") keeps such windows only
# over frames bounded by construction, never the corpus; a new entry
# needs that argument, and one that leaves the plans leaves this list.
# A window behind a local checkpoint (`llm_mix_budget`'s per-source
# window) shows in the executed plan only as an RDD scan and is not
# checked here.
UNPARTITIONED_WINDOWS = {
    "agg_histogram_equidepth",
    "llm_corpus_layout",
    "llm_dsir_weights",
    "llm_mix_apply",
    "llm_shard_assign",
    "llm_shard_balance",
    "llm_simsearch_ivf_stats",
    "llm_simsearch_prefiltered",
    "llm_simsearch_rrf",
    "llm_token_coverage",
    "topk_skyline",
    "ts_cumulative_users",
    "ts_rolling_active",
}


def _has_unpartitioned_window(plan) -> bool:
    """Walk a JVM physical plan, its subqueries, cached plans and AQE
    wrappers, looking for a `WindowExec` with an empty partition spec."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "WindowExec" and node.partitionSpec().isEmpty():
            return True
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


@pytest.mark.slow
def test_no_query_plans_a_scale_antipattern(spark):
    flagged, unpartitioned = {}, set()
    for name, rq in sorted(all_queries().items()):
        jplan = rq.fn(spark, SF)._jdf.queryExecution().executedPlan()
        plan = jplan.toString()
        hits = [p for p in BANNED if p in plan]
        if hits:
            flagged[name] = hits
        if "Window" in plan and _has_unpartitioned_window(jplan):
            unpartitioned.add(name)
    assert not flagged, f"scale antipatterns in plans: {flagged}"
    assert unpartitioned == UNPARTITIONED_WINDOWS, (
        f"new unpartitioned windows: {sorted(unpartitioned - UNPARTITIONED_WINDOWS)}; "
        f"gone from the plans: {sorted(UNPARTITIONED_WINDOWS - unpartitioned)}"
    )


def test_ts_contract_no_inline_null_filters():
    """The timestamped-rows contract (round 6, centralized round 7):
    Spark and DuckDB place NULL timestamps at opposite sort ends, so
    every time-ordered operator excludes them via ONE helper —
    sources.tables.timestamped. An inline `F.col("ts").isNotNull()`
    re-implementation is banned outside the helper's own module: the
    single-choke-point shape is what lets the edge fixture's NULL-ts
    rows pin the whole class instead of whichever operators remembered
    the filter."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "nova_pulsar_spark"
    hits = []
    for py in sorted(root.rglob("*.py")):
        if py.name == "tables.py":
            continue  # the contract helper itself
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r'\(\s*"ts"\s*\)\s*\.isNotNull', line) and not line.lstrip().startswith("#"):
                hits.append(f"{py.name}:{i}: {line.strip()}")
    assert not hits, f"inline ts-null filters (use sources.tables.timestamped): {hits}"


def test_ts_ordered_oracle_sql_declares_contract():
    """Every oracle twin that ORDERS, WINDOWS, or AS-OF-joins by the
    raw events `ts` must carry `ts IS NOT NULL` — the DuckDB half of
    the timestamped-rows contract. Catches the SQL side forgetting
    what the Spark side routes through `timestamped()` (round 7 found
    four operators that had escaped exactly this way: topk_latest,
    ts_downsample_ohlc, ts_drawdown, ts_event_pattern — plus the
    as-of family and the RANGE-interval window)."""
    import re

    ordered = [
        r"ORDER BY\s+(\w+\.)?ts\b",          # plain / aliased ordering
        r"ORDER BY\s+\w+\(\s*(\w+\.)?ts\b",  # epoch_us(ts) etc.
        r"\bASOF\s+(LEFT\s+)?JOIN",          # as-of joins key on ts
    ]
    missing = []
    for name, rq in sorted(all_queries().items()):
        if rq.sql is None:
            continue
        if any(re.search(p, rq.sql, re.I) for p in ordered):
            if "ts IS NOT NULL" not in rq.sql:
                missing.append(name)
    assert not missing, f"ts-ordered oracle SQL without the contract: {missing}"


def test_finite_measures_oracle_sql_declares_contract():
    """The SQL half of the finite-measures contract (round 7's class,
    lint added round 8, symmetric to the ts lint above): any oracle
    twin that CASTs an expression containing a double measure column to
    an exact type (BIGINT/DECIMAL/HUGEINT/INT) must carry ``isfinite``
    — DuckDB refuses ``CAST(nan AS BIGINT/DECIMAL)`` and the matching
    Spark ANSI cast overflows on ±Inf, so a missing guard is a crash
    waiting for the first non-finite row at 100 TB. The round-7 probe
    sweep found 24 such operators by hand; this pins the class
    mechanically for every future registration.

    Exemptions: casts whose operand is a rank/count function output
    (finite by construction, e.g. CAST(ROW_NUMBER() ... AS INT)) even
    when the rank ORDERs by the measure — ordering NaN is well-defined
    on both engines.

    Granularity note: the lint exempts a query as soon as ``isfinite``
    appears anywhere in its SQL, because the contract guards at the
    SOURCE (the `finite_measures()` CTE filters rows before ANY cast),
    not per-cast — per-operand checking would false-positive every
    correctly contract-bound query. The residual gap (one guarded and
    one separately-sourced unguarded cast in the same query) is pinned
    EMPIRICALLY, not lexically: the edge fixture carries NaN/±Inf
    `value` rows, so an unguarded exact cast on a measure CRASHES the
    edge sweep for that key — the sweep, not this lint, is the
    load-bearing mechanical check; the lint exists to fail FAST at
    pytest time for the common miss (no isfinite at all)."""
    import re

    cast_pat = re.compile(
        r"CAST\s*\(([^()]*(?:\([^()]*\)[^()]*)*)\s+AS\s+"
        r"(?:BIGINT|DECIMAL|HUGEINT|INTEGER|INT)\b",
        re.I,
    )
    measure = re.compile(r"\b(value|score|sim|cos|cosine)\b", re.I)
    rank_fn = re.compile(r"\b(ROW_NUMBER|RANK|DENSE_RANK|NTILE|COUNT)\s*\(", re.I)
    flagged = []
    for name, rq in sorted(all_queries().items()):
        if rq.sql is None or "isfinite" in rq.sql.lower():
            continue
        for operand in cast_pat.findall(rq.sql):
            if measure.search(operand) and not rank_fn.match(operand.strip()):
                flagged.append(f"{name}: CAST({operand.strip()[:60]} ...)")
                break
    assert not flagged, (
        f"oracle SQL casts a double measure to an exact type without isfinite "
        f"(finite-measures contract): {flagged}"
    )
