"""Distributed exact ranks: global (or per-group) row ranks under a
total order WITHOUT concentrating any group — let alone the corpus —
in a single task.

The naive exact-rank plan, ``row_number() OVER (PARTITION BY group
ORDER BY ...)``, hash-shuffles each group to ONE task: fine while
groups fit an executor, quadratic-failure territory when the group
key is low-cardinality (events has a handful of event_types, so at
100 TB each group is tens of TB). The unpartitioned variant is worse
— WindowExec warns "Moving all data to a single partition".

``grouped_rank`` is the scalable-exact formulation (the round-5
rewrite behind agg_histogram_equidepth, median_exact,
quantiles_exact, agg_mad_outliers, dq_winsorize):

1. ``repartitionByRange(width, *group, *order)`` lays rows out in
   contiguous key ranges with ascending partition ids — a group
   SPANS partitions instead of owning one task;
2. a window partitioned by ``(spark_partition_id, *group)`` computes
   LOCAL ranks — width x |groups| independent window groups;
3. per-(pid, group) counts — a width x |groups|-row frame — are
   cumulated per group and broadcast back: global rank = local rank
   + the count of same-group rows in earlier partitions.

The result is INVARIANT to where RangePartitioner's sampled
boundaries fall: offset + local rank equals the global rank for any
contiguous split, and a total order (callers must include a unique
tie-break column) means equal keys cannot straddle partitions — so
the sampling never leaks into values, and DuckDB ``ROW_NUMBER``
twins stay bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    width: int,
    rank_col: str = "rn",
    count_col: str = "n",
) -> DataFrame:
    """``df`` + ``rank_col`` (1-based rank of the row within its group
    under ``order_cols``) + ``count_col`` (group row count), computed
    distributed-exact. ``order_cols`` must make the per-group order
    total (include a unique id). ``group_cols`` may be empty for a
    corpus-global rank. Reserved intermediate names: __pid/__lrn/
    __c/__off."""
    # The localCheckpoint is load-bearing twice over: (1) the frame
    # fans out into the local-rank window AND the offset counts, and
    # Catalyst does not reuse the range exchange across the two
    # branches (measured: 2x rangepartitioning + 2x scan without it);
    # (2) RangePartitioner SAMPLES its boundaries per physical
    # exchange, so two independent materializations could disagree on
    # pid assignment — the offsets would then be computed against a
    # different layout than the local ranks. One checkpointed RDD
    # freezes both (the sorted-run materialization every external
    # sort does anyway). LAZY because the consumers run strictly in
    # sequence — AQE materializes the broadcast offsets stage before
    # the probe stage — so the first to run writes the checkpoint and
    # the second reads it: exactly-once without eager's extra
    # standalone job per call (measured +0.3-1.0 s/query eager).
    pidded = (
        df.repartitionByRange(width, *group_cols, *order_cols)
        .select("*", F.spark_partition_id().alias("__pid"))
        .localCheckpoint(eager=False)
    )
    local = pidded.withColumn(
        "__lrn",
        F.row_number().over(W.partitionBy("__pid", *group_cols).orderBy(*order_cols)),
    )
    # With empty group_cols this is a no-partition window — Spark logs
    # "WARN WindowExec: No Partition Defined" — but it runs over the
    # OFFSETS frame only: one row per range partition (== `width`,
    # e.g. 32), never the data. That tiny single-partition pass is the
    # "broadcast offsets" step of the pattern; the corpus itself is
    # ranked by the per-__pid local windows above.
    wg = (W.partitionBy(*group_cols) if group_cols else W.partitionBy()).orderBy("__pid")
    offs = (
        pidded.groupBy("__pid", *group_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            "__pid",
            *group_cols,
            F.coalesce(
                F.sum("__c").over(wg.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
            ).alias("__off"),
            F.sum("__c")
            .over(wg.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias(count_col),
        )
    )
    return (
        _nullsafe_join(local, offs, group_cols)
        .withColumn(rank_col, (F.col("__lrn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__lrn", "__off")
    )


def _nullsafe_join(left: DataFrame, right: DataFrame, group_cols: list[str]) -> DataFrame:
    """Broadcast-join ``right`` onto ``left`` by (__pid, *group_cols)
    with NULL-SAFE equality on the group keys: SQL `PARTITION BY`
    treats NULL as a regular group, so the offset join must too — a
    plain equi-join silently drops every NULL-keyed group (caught by
    the adversarial edge fixture on documents.lang)."""
    r = F.broadcast(right.withColumnRenamed("__pid", "__rpid"))
    for g in group_cols:
        r = r.withColumnRenamed(g, f"__r_{g}")
    cond = left["__pid"] == r["__rpid"]
    for g in group_cols:
        cond = cond & left[g].eqNullSafe(r[f"__r_{g}"])
    out = left.join(r, cond)
    return out.drop("__rpid", *[f"__r_{g}" for g in group_cols])


def ranked_events_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(event_type, value, event_id, rn, n)``: rank within
    ``event_type`` by ``(value ASC NULLS LAST, event_id)``, ``n`` =
    group row count — the SHARED input of ``median_exact``,
    ``quantiles_exact``, ``agg_mad_outliers`` (first pass) and
    ``dq_winsorize``. Materialized once per corpus fingerprint through
    the index store (``operators/ann_index.py``): the first consumer
    pays the grouped rank's fixed checkpoint+offset overhead and
    persists it, the rest are one parquet scan.

    NULLS LAST is explicit because it is DuckDB's ASC default and
    Spark's is NULLS FIRST — with a NULL value in a group the engines'
    default rank assignments diverge (edge fixture pins the class).
    It also makes the stage reusable by ``dq_winsorize``: all NULL
    values rank strictly after every non-NULL row, so the rank of each
    non-NULL row equals its rank among non-NULLs alone — the filtered
    consumer re-derives its group size as ``max(rn)`` instead of
    re-ranking.

    At 100 TB this is the statistics-profile index job beside the
    corpus: rebuilt once per ingest batch (fingerprint moves), read by
    every robust-statistics query in between.

    The memoized value is the plain store read (lineage = one parquet
    scan), no checkpoint: consumers scan the stage once per query, so
    there is no in-query fan-out to amortize, and no blocks stay
    pinned."""
    from nova_pulsar_spark.operators.ann_index import load_or_build, memo
    from nova_pulsar_spark.sources.tables import load_table

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
        return grouped_rank(
            e,
            ["event_type"],
            [F.col("value").asc_nulls_last(), F.col("event_id")],
            spark.sparkContext.defaultParallelism,
        )

    return memo(
        spark, sf_dir, "ranked_events", lambda: load_or_build(spark, sf_dir, "ranked_events", build)
    )


def nullsafe_equi_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    broadcast_right: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``keys`` with NULL-SAFE equality (``<=>``) on every
    key. SQL ``PARTITION BY`` / ``GROUP BY`` treat NULL as a regular
    group, so a rejoin of a per-group aggregate back onto its rows must
    too — a plain equi-join silently drops every NULL-keyed group,
    diverging from any window-only oracle the moment a group key admits
    NULLs (the adversarial edge fixture pins the class with NULL
    ``event_type`` rows). ``<=>`` is a supported hash-join key on
    Spark, so the plan shape is identical to the plain join."""
    r = right
    for k in keys:
        r = r.withColumnRenamed(k, f"__r_{k}")
    if broadcast_right:
        r = F.broadcast(r)
    cond = left[keys[0]].eqNullSafe(r[f"__r_{keys[0]}"])
    for k in keys[1:]:
        cond = cond & left[k].eqNullSafe(r[f"__r_{k}"])
    return left.join(r, cond, how).drop(*[f"__r_{k}" for k in keys])


def grouped_prefix(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    width: int,
    sums: dict[str, str] | None = None,
    maxes: dict[str, str] | None = None,
) -> DataFrame:
    """``df`` + running aggregates (INCLUDING the current row) of the
    named value columns per group under the total order —
    ``sums={alias: col}`` running sums, ``maxes={alias: col}`` running
    maxima — with the same distributed layout as :func:`grouped_rank`:
    range partitions + per-(pid, group) local running aggregates + a
    broadcast of earlier-partition totals (sum) / high-water marks
    (max). ``F.greatest`` ignores NULL args on Spark, which is exactly
    the wanted semantics for an absent earlier-partition max."""
    sums = sums or {}
    maxes = maxes or {}
    pidded = (
        df.repartitionByRange(width, *group_cols, *order_cols)
        .select("*", F.spark_partition_id().alias("__pid"))
        .localCheckpoint(eager=False)
    )
    wl = (
        W.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = pidded.select(
        "*",
        *[F.sum(c).over(wl).alias(f"__ls_{a}") for a, c in sums.items()],
        *[F.max(c).over(wl).alias(f"__lm_{a}") for a, c in maxes.items()],
    )
    totals = pidded.groupBy("__pid", *group_cols).agg(
        *[F.sum(c).alias(f"__ts_{a}") for a, c in sums.items()],
        *[F.max(c).alias(f"__tm_{a}") for a, c in maxes.items()],
    )
    wg = (
        (W.partitionBy(*group_cols) if group_cols else W.partitionBy())
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = totals.select(
        "__pid",
        *group_cols,
        *[F.sum(f"__ts_{a}").over(wg).alias(f"__os_{a}") for a in sums],
        *[F.max(f"__tm_{a}").over(wg).alias(f"__om_{a}") for a in maxes],
    )
    out = _nullsafe_join(local, offs, group_cols)
    for a in sums:
        # window running-sum semantics: NULL until the first non-null
        # value — local can be NULL when this row's range partition has
        # seen only NULLs so far, in which case the earlier-partition
        # total carries the value (and vice versa); only both-NULL
        # stays NULL
        ls, os_ = F.col(f"__ls_{a}"), F.col(f"__os_{a}")
        out = out.withColumn(
            a,
            F.when(ls.isNull() & os_.isNull(), F.lit(None)).otherwise(
                F.coalesce(ls, F.lit(0)) + F.coalesce(os_, F.lit(0))
            ),
        )
    for a in maxes:
        # greatest() ignores NULL args — both-NULL yields NULL, which
        # is exactly the window running-max contract
        out = out.withColumn(a, F.greatest(F.col(f"__lm_{a}"), F.col(f"__om_{a}")))
    drop = (
        ["__pid"]
        + [c for a in sums for c in (f"__ls_{a}", f"__os_{a}")]
        + [c for a in maxes for c in (f"__lm_{a}", f"__om_{a}")]
    )
    return out.drop(*drop)


def ntile_expr(rank_col: str, n_col: str, buckets: int) -> F.Column:
    """NTILE(buckets) from a (1-based) global rank and the group row
    count — all-integer div/mod arithmetic (no IEEE division), exactly
    SQL NTILE: with q = n div B and r = n mod B, the first r buckets
    hold q+1 rows."""
    return F.expr(
        f"CASE WHEN {rank_col} <= (({n_col} div {buckets}) + 1) * ({n_col} % {buckets}) "
        f"THEN ({rank_col} - 1) div (({n_col} div {buckets}) + 1) + 1 "
        f"ELSE ({n_col} % {buckets}) + "
        f"({rank_col} - (({n_col} div {buckets}) + 1) * ({n_col} % {buckets}) - 1) "
        f"div greatest({n_col} div {buckets}, 1) + 1 END"
    )


def grouped_head(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-``k`` rows per group (with their 1-based rank) without ever
    shipping a whole group to one task: stage 1 takes the local top-k
    within each (INPUT partition, group) — the global top-k is always
    a subset of the union of local top-ks, whatever the input layout —
    stage 2 ranks the <= k * partitions survivors per group exactly.
    No range partitioning and no checkpoint needed: pid only prunes,
    any assignment yields the same output. The shuffle carries
    (pid, group)-keyed rows — high-cardinality even for a constant
    group column."""
    tagged = df.select("*", F.spark_partition_id().alias("__pid"))
    wl = W.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    local = (
        tagged.withColumn("__lrn", F.row_number().over(wl))
        .filter(F.col("__lrn") <= k)
        .drop("__pid", "__lrn")
    )
    wg = W.partitionBy(*group_cols).orderBy(*order_cols)
    return local.withColumn(rank_col, F.row_number().over(wg)).filter(F.col(rank_col) <= k)
