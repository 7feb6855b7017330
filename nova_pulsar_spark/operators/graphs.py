"""Graph analytics over relational co-occurrence: triangle counting
and the global clustering coefficient via degree-ordered orientation.

The graph is the part co-purchase graph — parts are vertices, an edge
joins two parts that appear in the same order. It is derived, not
stored: a 100 TB lineitem table yields it in two bounded shuffles.
Dup-cluster density, co-citation analysis, and feature-co-occurrence
audits all reduce to exactly this triangle/wedge census.

Scale design (the "forward"/degree-ordering algorithm, Schank &
Wagner 2005; also Suri & Vassilvitskii's MapReduce variant, WWW'11):
a naive wedge join explodes on hub vertices — sum(deg^2) is quadratic
in the worst case. Orienting every edge from its lower-(degree, id)
endpoint to its higher one caps every out-degree at O(sqrt(m)), so
the wedge join is bounded by m^1.5 TOTAL regardless of skew — the
textbook bound, achieved here with nothing but groupBy/join (no
custom partitioner needed; AQE handles residual key skew). The
basket pair-generation is capped per order (MAX_BASKET, mirrored in
the oracle twin) following the repo-wide rule that every blocking
key needs a cap or a ladder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nova_pulsar_spark.fixpoint import MAX_CC_ITERS, min_label_components
from nova_pulsar_spark.registry import register
from nova_pulsar_spark.sources.tables import load_table

# Per-order basket cap: TPC-H baskets hold <= 7 parts, but adversarial
# fixtures (and real carts) can be huge — pair-gen is quadratic in
# basket size, so keep the first MAX_BASKET parts by partkey.
MAX_BASKET = 32

def copurchase_census(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Shared stages of the co-purchase graph census — the graph mirror
    of the dedup DAG's `dedup_candidates` stage. Frames: ``edges``
    (a < b, distinct), ``edges_w`` ((a, b, w) with w = co-occurrence
    count), ``deg`` (vertex degrees), ``ed`` (degree-annotated edges),
    ``oriented`` (lower-(deg, id) -> higher orientation, out-degrees
    O(sqrt(m))) and ``adj`` (out-adjacency arrays). graph_triangles
    and graph_jaccard_edges both consume these.

    The expensive stage — the corpus-scan pair generation that
    produces ``edges_w`` — is MATERIALIZED through the
    fingerprint-keyed index store (`operators/ann_index.py`) at
    ``spark-warehouse/ann_index/graph_edges_w/<corpus>-<fp>/``, keyed
    by the LINEITEM fingerprint: the derived graph is rebuilt only
    when the fact table changes, and every graph-metrics query reads
    the materialization — at 100 TB this IS a table, not a session
    cache. The edge-bounded derivations (deg/ed/oriented/adj) stay
    session-local with EAGER localCheckpoints because each fans out
    into 2+ consumers and a lazy cache would materialize once per
    consumer branch (the dedup_candidates lesson, docs/SCALE.md);
    they derive from the store scan, so nothing upstream of the edge
    list is ever recomputed."""
    from nova_pulsar_spark.operators.ann_index import load_or_build, memo

    def build_edges_w() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey").isNotNull())
        # One shuffle to capped sorted baskets (collect_set dedups in the
        # aggregate — same parts as the oracle twins' ROW_NUMBER <= cap
        # over DISTINCT pairs ordered by partkey), then MAP-SIDE pair
        # explosion: no basket self-join, no second pass over lineitem.
        baskets = li.groupBy(F.col("l_orderkey").alias("o")).agg(
            F.expr(f"slice(array_sort(collect_set(l_partkey)), 1, {MAX_BASKET})").alias("ps")
        )
        pairs = baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, greatest(size(ps) - i - 1, 0)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        # weighted edges first (w = co-occurrence count): the same groupBy
        # that dedups pairs yields the weights graph_components thresholds
        # on — one pair-gen shuffle serves the whole graph family
        return pairs.select("e.a", "e.b").groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))

    def make() -> dict[str, DataFrame]:
        # the store read and every fan-out derivation get one eager
        # block-manager copy each; the store stays the source of truth
        edges_w = load_or_build(spark, sf_dir, "graph_edges_w", build_edges_w).localCheckpoint()
        edges = edges_w.select("a", "b")
        deg = (
            edges.select(F.col("a").alias("v"))
            .unionAll(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint()
        )
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        ed = edges.join(da, "a").join(db, "b").localCheckpoint()
        fwd = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        oriented = ed.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        ).localCheckpoint()
        adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).localCheckpoint()
        return {
            "edges_w": edges_w,
            "edges": edges,
            "deg": deg,
            "ed": ed,
            "oriented": oriented,
            "adj": adj,
        }

    return memo(spark, sf_dir, "copurchase_census", make)


@register(
    "graph_triangles",
    sql=f"""
    WITH basket AS (
      SELECT o, p FROM (
        SELECT l_orderkey AS o, l_partkey AS p,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
              WHERE l_partkey IS NOT NULL))
      WHERE rn <= {MAX_BASKET}),
    edges AS (
      SELECT DISTINCT b1.p AS a, b2.p AS b
      FROM basket b1 JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
    deg AS (
      SELECT v, COUNT(*) AS d
      FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
      GROUP BY v),
    oriented AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN db.d ELSE da.d END AS dst_deg
      FROM edges e
      JOIN deg da ON da.v = e.a
      JOIN deg db ON db.v = e.b),
    tri AS (
      SELECT COUNT(*) AS t FROM (
        SELECT e1.dst AS b, e2.dst AS c
        FROM oriented e1 JOIN oriented e2
          ON e1.src = e2.src
         AND (e1.dst_deg < e2.dst_deg
              OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst))) w
      JOIN oriented o ON o.src = w.b AND o.dst = w.c),
    es AS (SELECT COUNT(*) AS n_edges FROM edges),
    ns AS (SELECT COUNT(*) AS n_nodes, SUM((d * (d - 1)) // 2) AS n_wedges FROM deg)
    SELECT CAST(ns.n_nodes AS BIGINT) AS n_nodes,
           CAST(es.n_edges AS BIGINT) AS n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(ns.n_wedges AS BIGINT) AS n_wedges,
           CAST(3 * tri.t AS DOUBLE) / NULLIF(ns.n_wedges, 0) AS global_clustering
    FROM tri CROSS JOIN es CROSS JOIN ns
    """,
    doc="Triangle count + global clustering coefficient of the part "
    "co-purchase graph via degree-ordered orientation (forward algorithm): "
    "every out-degree capped at O(sqrt(m)), wedge join bounded m^1.5 even "
    "under hub skew; per-order basket capped at "
    f"{MAX_BASKET} parts",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles/clustering measure how clumpy a co-occurrence graph
    is (dup-cluster density, community structure). The naive count —
    join edges twice and close the wedge — is quadratic at hubs. The
    fix is pure plan shape: orient each edge from its lower-(deg, id)
    endpoint; each wedge (a->b, a->c) is then generated exactly once
    at its lowest-ranked vertex, whose OUT-degree is provably
    O(sqrt(m)); the Spark side then counts each triangle once at its
    base edge as |N+(src) ∩ N+(dst)| over grouped out-adjacency
    arrays (compact-forward) — same O(m^1.5) work as the wedge join
    the oracle twin spells out, but it shuffles m bounded arrays
    instead of the sum-outdeg² wedge stream. Five bounded stages:
    capped per-order pair-gen (MAX_BASKET keeps the quadratic
    in-basket step constant-bounded), edge distinct (one shuffle on
    the 16-byte pair), degree groupBy, two endpoint joins, adjacency
    intersect. Everything integer until the final
    clustering division; counts are partitioning-independent, so both
    engines agree bit-exactly."""
    # Census stages (pair-gen, edge distinct, degrees, orientation,
    # adjacency) come from the cached copurchase_census — shared with
    # graph_jaccard_edges, materialized once per (session, corpus).
    # Compact-forward: each triangle is counted once at its base edge
    # (src, dst) as |N+(src) ∩ N+(dst)|. Equivalent count to the wedge
    # join (the oracle twin keeps that formulation — values, not plans,
    # must match), but it ships m adjacency-array rows instead of the
    # sum-outdeg² wedge stream (41M rows vs 1.2M at sf0.1, 5.4 s → ~2 s).
    # collect_list is safe: orientation bounds every out-list at
    # O(sqrt(m)) elements, the same bound that caps the intersect work.
    c = copurchase_census(spark, sf_dir)
    edges, deg, oriented, adj = c["edges"], c["deg"], c["oriented"], c["adj"]
    # The intersect stage is CPU-dense but byte-light (sum-outdeg² element
    # comparisons over ~24-byte rows), so AQE's byte-based coalescing
    # squeezes it onto 3-4 tasks at sf0.1 (measured 1.70 s -> 0.53 s with
    # an explicit core-count fan-out). Pin the join width to the cluster's
    # parallelism; at real scale the byte heuristic takes over anyway.
    width = spark.sparkContext.defaultParallelism
    tri = (
        oriented.select("src", "dst")
        .repartition(width, "src")
        .join(adj, "src")
        .join(
            adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_dst")),
            "dst",
        )
        .select(F.size(F.array_intersect("nbrs", "nbrs_dst")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("t"))
    )
    es = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    ns = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("(d * (d - 1)) div 2")).cast("bigint").alias("n_wedges"),
    )
    return (
        tri.crossJoin(F.broadcast(es))
        .crossJoin(F.broadcast(ns))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            "n_wedges",
            ((F.lit(3) * F.col("t")).cast("double") / F.nullif(F.col("n_wedges"), F.lit(0))).alias(
                "global_clustering"
            ),
        )
    )


# Strong-edge threshold for the component census: a co-purchase edge
# counts only when the pair co-occurs in >= MIN_COPURCHASE_W orders.
# Thresholding is the standard move for co-occurrence graphs (raw
# single-co-occurrence edges glue everything into one giant component
# and carry no signal); it is also what keeps the oracle twin's
# transitive closure bounded.
MIN_COPURCHASE_W = 2


@register(
    "graph_components",
    sql=f"""
    WITH RECURSIVE basket AS (
      SELECT o, p FROM (
        SELECT l_orderkey AS o, l_partkey AS p,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
              WHERE l_partkey IS NOT NULL))
      WHERE rn <= {MAX_BASKET}),
    edges AS (
      SELECT a, b FROM (
        SELECT b1.p AS a, b2.p AS b, COUNT(*) AS w
        FROM basket b1 JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p
        GROUP BY b1.p, b2.p)
      WHERE w >= {MIN_COPURCHASE_W}),
    sym AS (SELECT a AS s, b AS d FROM edges
            UNION ALL SELECT b AS s, a AS d FROM edges),
    verts AS (SELECT DISTINCT s AS v FROM sym),
    reach(v, r) AS (
      SELECT v, v FROM verts
      UNION
      SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.v
      WHERE reach.r < sym.d),
    comp AS (SELECT v, MIN(r) AS c FROM reach GROUP BY v),
    sizes AS (SELECT c, COUNT(*) AS sz FROM comp GROUP BY c),
    hist AS (SELECT sz, COUNT(*) AS n FROM sizes GROUP BY sz)
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(n AS BIGINT) AS n_components
    FROM hist
    """,
    doc=f"Connected components of the strong (w>={MIN_COPURCHASE_W}) part "
    "co-purchase graph as a size histogram — min-label propagation with "
    "path compression (O(log n) rounds) vs a recursive-CTE oracle whose "
    "descending-label closure independently derives the same components",
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components — the other half of the graph-census pair
    (triangles measure local density; components measure global
    fragmentation — dup-cluster extraction, community pre-pass, data
    lineage islands). The labels come from
    `fixpoint.min_label_components` (min-label propagation with pointer
    jumping, O(log n) rounds). Every shuffle is edge- or vertex-bounded;
    no closure is ever materialized (the oracle twin derives components
    the opposite way — a descending-label transitive closure, tractable
    at oracle scale and independent of the Spark derivation). The
    histogram output (size, count) is partition- and
    iteration-order-independent: min-label fixpoints are unique."""
    edges = (
        copurchase_census(spark, sf_dir)["edges_w"]
        .filter(F.col("w") >= MIN_COPURCHASE_W)
        .select("a", "b")
    )
    labels = min_label_components(edges, MAX_CC_ITERS)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .select(F.col("sz").cast("bigint").alias("component_size"), "n_components")
    )


EMB_TOP_EDGES = 20  # report head: most-embedded strong edges


@register(
    "graph_jaccard_edges",
    sql=f"""
    WITH basket AS (
      SELECT o, p FROM (
        SELECT l_orderkey AS o, l_partkey AS p,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
              WHERE l_partkey IS NOT NULL))
      WHERE rn <= {MAX_BASKET}),
    edges AS (
      SELECT DISTINCT b1.p AS a, b2.p AS b
      FROM basket b1 JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
    nbrs AS (
      SELECT v, list_sort(list(u)) AS ns, COUNT(*) AS d FROM (
        SELECT a AS v, b AS u FROM edges UNION ALL SELECT b AS v, a AS u FROM edges)
      GROUP BY v)
    SELECT a, b, support, union_size, jaccard FROM (
      SELECT e.a, e.b,
             len(list_intersect(na.ns, nb.ns)) AS support,
             na.d + nb.d - 2 - len(list_intersect(na.ns, nb.ns)) AS union_size,
             CAST(len(list_intersect(na.ns, nb.ns)) AS DOUBLE)
               / NULLIF(na.d + nb.d - 2 - len(list_intersect(na.ns, nb.ns)), 0) AS jaccard
      FROM edges e JOIN nbrs na ON na.v = e.a JOIN nbrs nb ON nb.v = e.b) t
    ORDER BY jaccard DESC NULLS LAST, support DESC, a, b LIMIT {EMB_TOP_EDGES}
    """,
    doc=f"Per-edge neighborhood Jaccard (edge embeddedness) for the part "
    "co-purchase graph, top-"
    f"{EMB_TOP_EDGES} most-embedded edges — support counted from the "
    "m^1.5-bounded oriented triangle census, never a full neighborhood "
    "intersect (sum-deg^2 hub blow-up)",
)
def graph_jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness — |N(a) ∩ N(b)| / |N(a) ∪ N(b) \\ {{a,b}}| per
    edge — is the cohesion score behind Jaccard-graph clustering and
    related-item mining. The naive plan intersects FULL neighbor lists
    per edge: Σ(deg_a + deg_b) over edges = Σ deg² element
    comparisons — quadratic at hubs, the exact blow-up the triangle
    census dodges. Same dodge here: |N(a) ∩ N(b)| is the TRIANGLE
    SUPPORT of the edge, so enumerate triangles once via the
    degree-oriented compact-forward intersect (m^1.5-bounded), explode
    each triangle to its three edges, and count per edge — support
    costs triangle-census work, not Σ deg². The union size then comes
    free from the degree census: deg(a) + deg(b) − 2 − support.
    Integer counts all the way; the single final division is an exact
    IEEE op on both engines, and the top-{EMB_TOP_EDGES} head orders
    by (jaccard, support, a, b) — a total order, so the LIMIT is
    deterministic. TakeOrdered keeps the head distributed (per-
    partition heads, driver merge)."""
    c = copurchase_census(spark, sf_dir)
    ed, oriented, adj = c["ed"], c["oriented"], c["adj"]
    # one row per triangle (src, dst, w): w ∈ N+(src) ∩ N+(dst) —
    # same CPU-dense/byte-light intersect stage as graph_triangles, so
    # the fan-out is pinned to the cluster's parallelism the same way.
    width = spark.sparkContext.defaultParallelism
    tris = (
        oriented.repartition(width, "src")
        .join(adj, "src")
        .join(adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_dst")), "dst")
        .select("src", "dst", F.explode(F.array_intersect("nbrs", "nbrs_dst")).alias("w"))
    )
    # each triangle supports its three edges; normalize to a < b
    def _e(x, y):
        return F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))

    support = (
        tris.select(F.explode(F.array(_e(F.col("src"), F.col("dst")),
                                      _e(F.col("src"), F.col("w")),
                                      _e(F.col("dst"), F.col("w")))).alias("e"))
        .groupBy("e.a", "e.b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # the census's degree-annotated edge frame scores directly — no
    # extra degree joins here
    scored = (
        ed.join(support, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce("support", F.lit(0)).alias("support"),
            (F.col("da") + F.col("db") - 2 - F.coalesce("support", F.lit(0))).alias("union_size"),
        )
        .withColumn(
            "jaccard",
            F.col("support").cast("double") / F.nullif(F.col("union_size"), F.lit(0)),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc_nulls_last(), F.col("support").desc(), "a", "b"
    ).limit(EMB_TOP_EDGES)


@register(
    "graph_degree_hist",
    sql=f"""
    WITH basket AS (
      SELECT o, p FROM (
        SELECT l_orderkey AS o, l_partkey AS p,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
              WHERE l_partkey IS NOT NULL))
      WHERE rn <= {MAX_BASKET}),
    edges AS (
      SELECT DISTINCT b1.p AS a, b2.p AS b
      FROM basket b1 JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
    deg AS (
      SELECT v, COUNT(*) AS d
      FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
      GROUP BY v)
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY d
    """,
    doc="Degree histogram of the part co-purchase graph from the shared "
    "census — the skew fingerprint that justifies (or indicts) every "
    "blocking cap; two-column output, vertex-bounded",
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree distribution is the first thing to look at before
    trusting any co-occurrence pipeline: a heavy tail here is exactly
    what makes naive wedge joins quadratic and is the empirical case
    for MAX_BASKET and the orientation bound. Rides the cached
    copurchase_census degree frame — zero marginal census cost in a
    metrics suite — and reduces it to a |distinct degree|-row
    histogram (map-side combinable, integer-exact)."""
    deg = copurchase_census(spark, sf_dir)["deg"]
    return deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices")).select(
        F.col("d").cast("bigint").alias("degree"), "n_vertices"
    )


# DOULION edge-sampling parameters for the sampled triangle census:
# each edge survives with probability TRI_P_NUM/TRI_P_DEN, decided by a
# deterministic md5 coin over (a, b, seed) so both engines, every
# partition layout, and every retry agree on the sampled subgraph.
TRI_P_NUM = 1
TRI_P_DEN = 2
TRI_SEED = 1
_COIN_SPACE = 1 << 28  # first 7 md5 hex digits


def _sampled_triangle_count(
    edges: DataFrame, width: int, p_num: int, p_den: int, seed: int
) -> tuple[DataFrame, DataFrame]:
    """(sampled_edges, tri) for the DOULION estimator: filter the edge
    list through the md5 coin, re-derive degrees/orientation ON THE
    SAMPLED subgraph (orientation must bound the sampled wedge join,
    not the full graph's), and close wedges via the same compact-
    forward adjacency intersect as the exact census."""
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("a").cast("string"),
                    F.col("b").cast("string"),
                    F.lit(str(seed)),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    sampled = edges.filter(u * p_den < F.lit(_COIN_SPACE) * p_num)
    deg = (
        sampled.select(F.col("a").alias("v"))
        .unionAll(sampled.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ed = sampled.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    tri = (
        oriented.repartition(width, "src")
        .join(adj, "src")
        .join(adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_dst")), "dst")
        .select(F.size(F.array_intersect("nbrs", "nbrs_dst")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("t"))
    )
    return sampled, tri


def triangles_sampled(
    spark: SparkSession,
    sf_dir: str,
    p_num: int = TRI_P_NUM,
    p_den: int = TRI_P_DEN,
    seed: int = TRI_SEED,
) -> DataFrame:
    """Parameterized DOULION estimate (the registered key pins the
    default p=1/2, seed=1; the unbiasedness pytest sweeps seeds and
    p=1). Output: sampled edge count, sampled triangle count, and the
    1/p^3-scaled estimate."""
    edges = copurchase_census(spark, sf_dir)["edges"]
    width = spark.sparkContext.defaultParallelism
    sampled, tri = _sampled_triangle_count(edges, width, p_num, p_den, seed)
    es = sampled.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges_sampled"))
    scale = (p_den / p_num) ** 3  # exact in IEEE for small integer ratios
    return (
        tri.crossJoin(F.broadcast(es))
        .select(
            "n_edges_sampled",
            F.col("t").alias("n_triangles_sampled"),
            (F.col("t").cast("double") * F.lit(scale)).alias("est_triangles"),
        )
    )


@register(
    "graph_triangles_sampled",
    sql=f"""
    WITH basket AS (
      SELECT o, p FROM (
        SELECT l_orderkey AS o, l_partkey AS p,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
              WHERE l_partkey IS NOT NULL))
      WHERE rn <= {MAX_BASKET}),
    edges AS (
      SELECT DISTINCT b1.p AS a, b2.p AS b
      FROM basket b1 JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
    sampled AS (
      SELECT a, b FROM edges
      WHERE CAST(concat('0x', substring(md5(concat(CAST(a AS VARCHAR), ':',
              CAST(b AS VARCHAR), ':', '{TRI_SEED}')), 1, 7)) AS BIGINT)
            * {TRI_P_DEN} < {_COIN_SPACE} * {TRI_P_NUM}),
    deg AS (
      SELECT v, COUNT(*) AS d
      FROM (SELECT a AS v FROM sampled UNION ALL SELECT b AS v FROM sampled)
      GROUP BY v),
    oriented AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN db.d ELSE da.d END AS dst_deg
      FROM sampled e
      JOIN deg da ON da.v = e.a
      JOIN deg db ON db.v = e.b),
    tri AS (
      SELECT COUNT(*) AS t FROM (
        SELECT e1.dst AS b, e2.dst AS c
        FROM oriented e1 JOIN oriented e2
          ON e1.src = e2.src
         AND (e1.dst_deg < e2.dst_deg
              OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst))) w
      JOIN oriented o ON o.src = w.b AND o.dst = w.c),
    es AS (SELECT COUNT(*) AS n_edges_sampled FROM sampled)
    SELECT CAST(es.n_edges_sampled AS BIGINT) AS n_edges_sampled,
           CAST(tri.t AS BIGINT) AS n_triangles_sampled,
           CAST(tri.t AS DOUBLE) * {(TRI_P_DEN / TRI_P_NUM) ** 3} AS est_triangles
    FROM tri CROSS JOIN es
    """,
    doc="DOULION sampled triangle census (Tsourakakis et al., KDD'09): "
    f"each edge survives a deterministic md5 coin with p = "
    f"{TRI_P_NUM}/{TRI_P_DEN}; the sampled count scaled by 1/p^3 is an "
    "unbiased triangle estimate — the documented escape hatch for the one "
    "problem-inherent superlinearity in the suite (exact census is "
    "Theta(m^1.5)); sampled wedge work shrinks ~p^2, estimator "
    "unbiasedness + error bound pytest-pinned against the exact census",
)
def graph_triangles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION (Tsourakakis/Kang/Koutra/Faloutsos 2009): sparsify by
    keeping each edge with probability p, count triangles on the
    sparsified graph, scale by 1/p^3. Each triangle survives with
    probability p^3 independently of graph size, so E[t/p^3] = T
    exactly; the variance argument in the paper bounds relative error
    by the triangle count and edge-shared-triangle pairs, both of
    which the pytest pin exercises empirically across 24 coin seeds
    (mean within 10%, p=1 degenerates to the exact count).

    Scale design: the exact census is the ONE admitted superlinearity
    in the engine — Theta(m^1.5) is problem-inherent (docs/SCALE.md).
    This key is the escape hatch: sampling cuts the edge list by p and
    the wedge-join work by ~p^2 (out-degrees scale with p), so p
    tunes census cost against estimator variance at 100 TB. The coin
    is a DETERMINISTIC md5 over (a, b, seed) — no RNG state, so the
    sample is reproducible across engines, retries and partitionings
    (the same idiom as the salted-join twins), and seed sweeps give
    independent replicates for variance estimation. Orientation is
    re-derived on the SAMPLED subgraph: the m^1.5 bound must hold for
    the graph actually joined, not the full one."""
    return triangles_sampled(spark, sf_dir)
