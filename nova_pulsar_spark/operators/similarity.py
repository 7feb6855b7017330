"""Similarity search over the `embeddings` table (array<float>, dim 64).

North-star layer (BASELINE.json): brute-force cosine top-k as the
correctness baseline, an IVF-style coarse-quantized probe as the
scale path, and embedding-cosine near-dup pairs.

Exactness: dot products and norms are computed as a **sequential
left fold** over the vector on both engines (Spark `aggregate`,
DuckDB `list_reduce`) with per-element double products — identical
operation order → bit-identical doubles. This avoids both the
nondeterminism of shuffle-order sums and the cross-engine rounding
drift of double→decimal casts; it is also the engine-native fast
path (no explode: one fused JVM expression per row).

Scale notes (100 TB / billions of vectors):
- brute force: broadcast the query, map-side fold, TakeOrdered top-k
  — no shuffle of the corpus, but O(n·d) per query → baseline and
  rerank stage only;
- IVF pattern: centroids per coarse cell (here the `label` column as
  the quantizer), probe the top-2 cells, scan only those. At scale
  the corpus is written partitioned by centroid id so probing
  becomes parquet partition pruning;
- near-dup: sign-LSH banded candidates, exact cosine only on the
  candidate pairs; label equality is a residual filter, never the
  blocking key — no all-pairs join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nova_pulsar_spark.registry import register
from nova_pulsar_spark.sources.tables import fan_out, load_table

DIM = 64
QUERY_VEC_ID = 0
TOP_K = 10


def _fold_dot(a: str, b: str) -> F.Column:
    """Sequential-fold dot product of two array columns (Spark side)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine(a: str, b: str) -> F.Column:
    """Zero-norm vectors have undefined cosine -> NULL on both engines
    (unguarded, Spark's ANSI mode raises on the 0-division while
    DuckDB emits NaN — edge-case fuzz finding). NULLs sort last under
    the DESC orderings both engines use."""
    den = F.sqrt(_fold_dot(a, a)) * F.sqrt(_fold_dot(b, b))
    return F.when(den != 0, _fold_dot(a, b) / den)


def _double_array(vals) -> str:
    """Spark SQL literal array of DOUBLEs. CAST per element: Spark
    parses a bare decimal literal as DECIMAL, which would leak into the
    output type (e.g. through ``element_at``)."""
    return "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in vals) + ")"


def _spark_sqdist(arr: str, lit: str) -> str:
    """Spark SQL squared L2 distance of array expression ``arr`` to the
    literal array ``lit``, folded in element order."""
    return (
        f"aggregate(zip_with({arr}, {lit}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _sql_dot(a: str, b: str) -> str:
    """Same sequential fold on the DuckDB side (1-based list index)."""
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"({_sql_dot(a, b)} / NULLIF(SQRT({_sql_dot(a, a)})"
        f" * SQRT({_sql_dot(b, b)}), 0))"
    )


@register(
    "llm_simsearch_topk",
    sql=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label, {_sql_cos("e.embedding", "q.qe")} AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}
    """,
    doc="Brute-force cosine top-k vs query vector (broadcast query + fused fold + TakeOrdered)",
)
def llm_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", cosine("embedding", "qe").alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, cemb) coarse-quantizer centroids — the "index build" of
    the IVF pattern, PERSISTED through the ann_index store (build once,
    probe many; rebuilt automatically when the corpus fingerprint
    changes — see operators/ann_index.py for the lifecycle). The
    memoized value is the store read with ``.cache()``, so every probe
    in the session shares one in-memory copy of the centroids.

    Per-(label, dim) mean uses a vec_id-ordered sequential fold so the
    result is deterministic under any partitioning; parquet round-trips
    IEEE doubles bit-exactly, so a loaded index probes identically to a
    freshly built one (oracle-pinned).
    """
    from nova_pulsar_spark.operators.ann_index import load_or_build, memo

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings")
        centdim = (
            e.select("vec_id", "label", F.posexplode("embedding").alias("i", "val"))
            .select(
                "vec_id", "label", (F.col("i") + 1).alias("i"), F.col("val").cast("double").alias("v")
            )
            .groupBy("label", "i")
            .agg(
                (
                    F.expr(
                        "aggregate(transform(array_sort(collect_list(struct(vec_id, v))), s -> s.v), "
                        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
                    )
                    / F.count(F.lit(1))
                ).alias("c")
            )
        )
        return centdim.groupBy("label").agg(
            F.expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)").alias("cemb")
        )

    return memo(
        spark, sf_dir, "ivf_centroids",
        lambda: load_or_build(spark, sf_dir, "ivf_centroids", build).cache(),
    )


@register(
    "llm_simsearch_ivf",
    sql=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    idx AS (SELECT UNNEST(range(1, {DIM + 1})) AS i),
    centdim AS (
      SELECT e.label, idx.i AS i,
             list_reduce(list(CAST(e.embedding[idx.i] AS DOUBLE) ORDER BY e.vec_id), (a, b) -> a + b)
               / COUNT(*) AS c
      FROM embeddings e CROSS JOIN idx
      GROUP BY e.label, idx.i),
    cent AS (
      SELECT label, list(c ORDER BY i) AS cemb FROM centdim GROUP BY label),
    probes AS (
      SELECT cent.label FROM cent CROSS JOIN q
      ORDER BY {_sql_cos("cent.cemb", "q.qe")} DESC, cent.label LIMIT 2)
    SELECT e.vec_id, e.label, {_sql_cos("e.embedding", "q.qe")} AS cosine
    FROM embeddings e
    JOIN probes p ON e.label = p.label
    CROSS JOIN q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}
    """,
    doc="IVF-style ANN: label-centroid coarse quantizer, probe top-2 cells, scan only those (partition-pruning scale path)",
)
def llm_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    cent = ivf_centroids(spark, sf_dir)
    probes = (
        cent.crossJoin(F.broadcast(q))
        .orderBy(cosine("cemb", "qe").desc(), "label")
        .limit(2)
        .select("label")
    )
    return (
        e.join(F.broadcast(probes), "label")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", cosine("embedding", "qe").alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- sign-LSH (random hyperplane) candidate generation -------------------
# Deterministic pseudo-random hyperplanes derived from md5 so both
# engines share the exact literals; weights are 3-decimal values in
# [-1, 1] (identical double parse on both sides).
import hashlib as _hashlib

N_PLANES = 128  # 8 bands × 16 sign bits per band (full-resolution slices)
N_BANDS = 8
BAND_BITS = N_PLANES // N_BANDS  # stored per-band signature width
EMB_MAX_BUCKET = 64  # hot-bucket cap on (band, prefix-sig) buckets
# Adaptive prefix ladder: the EFFECTIVE bits per band grow with corpus
# size so bucket occupancy stays bounded. A fixed-width band key has a
# FIXED keyspace (2^bits buckets), so occupancy — and candidate pairs —
# grow quadratically with the corpus: the round-4 second-decade scaling
# audit measured 68x at a 10x step for the 4x8-bit layout. MinHash
# bands never hit this (their key cardinality grows with the corpus);
# sign-LSH needs the ladder. The full 16-bit sigs are stored in the
# persisted index; prefix truncation happens at candidate/probe time,
# so a corpus growing within the ladder re-keys without re-indexing.
# Past the stored slice width the ladder keeps climbing by PAIRING
# adjacent slices (round-6, the fourth-decade audit): a 24-bit rung
# keys 4 bands on substr(signs, band*32+1, 24) — the stored index
# still re-keys without re-indexing, because paired slices are
# contiguous in the 128-bit signature (concat of stored slice 2b and
# 2b+1 = substr(signs, b*32+1, 32)). Fewer, wider bands is the
# standard LSH s-curve retune as the corpus grows; the recall ledgers
# (llm_dedup_lsh_recall / cap_loss) price each step. Saturated
# buckets beyond the cap are dropped exactly like the MinHash
# MAX_BUCKET discipline.
_BITS_LADDER_SQL = (
    "CASE WHEN n >= 1000000 THEN 24 WHEN n >= 16000 THEN 16 "
    "WHEN n >= 4000 THEN 12 ELSE 8 END"
)


def _bits_for(n: int) -> int:
    """Python twin of ``_BITS_LADDER_SQL`` (kept textually adjacent so
    they cannot drift) — the rung decision is driver-side on the Spark
    path; production reads the corpus count from the index metadata."""
    if n >= 1000000:
        return 24
    if n >= 16000:
        return 16
    if n >= 4000:
        return 12
    return 8


def _corpus_count(spark: SparkSession, e: DataFrame, sf_dir: str | None) -> int:
    """Memoized embeddings-corpus row count per (session, corpus
    fingerprint) — the ONE driver-side metadata number every
    corpus-size-derived parameter reads: the banding ladder's rung
    (``_bits_for``) and the recall ledger's anchor modulus
    (``_anchor_mod``). Production reads it from the index metadata
    written at build time; here it is one count job per corpus
    fingerprint, shared by all consumers."""
    if sf_dir is None:
        return e.count()
    from nova_pulsar_spark.operators.ann_index import memo

    return memo(spark, sf_dir, "corpus_count", e.count)


def _bands_cte(extra_cols: str = "") -> str:
    """The shared ``bands`` CTE body (DuckDB side): per-vector band
    keys at the ladder's active rung. Rungs at or under the stored
    slice width prefix one slice (8 bands); wider rungs prefix PAIRED
    slices (4 bands) — both are substrings of the full ``signs``
    string, so one SQL expression covers every rung."""
    return f"""bands AS (
      SELECT vec_id{extra_cols}, b.b AS band,
             substr(signs,
                    b.b * (CASE WHEN nbits.bits <= {BAND_BITS}
                                THEN {BAND_BITS} ELSE {BAND_BITS * 2} END) + 1,
                    nbits.bits) AS sig
      FROM sigs CROSS JOIN (SELECT UNNEST(range(0, {N_BANDS})) AS b) b
      CROSS JOIN nbits
      WHERE b.b < (CASE WHEN nbits.bits <= {BAND_BITS}
                        THEN {N_BANDS} ELSE {N_BANDS // 2} END))"""
EMB_DUP_THRESHOLD = 0.40
# Rerank report threshold for the label-filtered verify query — lower
# than the dup cut so the oracle compares a non-vacuous result set.
EMB_RERANK_THRESHOLD = 0.25


def _hp_weight(j: int, d: int) -> float:
    h = _hashlib.md5(f"hyperplane-{j}-{d}".encode()).hexdigest()
    return (int(h[:8], 16) % 2001 - 1000) / 1000.0


HYPERPLANES = [[_hp_weight(j, d) for d in range(DIM)] for j in range(N_PLANES)]


def _plane_lit_spark(j: int) -> str:
    return "array(" + ", ".join(repr(w) for w in HYPERPLANES[j]) + ")"


# All 128 plane dots in ONE lambda over a 2D literal (a per-plane
# concat of 128 separate fold expressions blows past whole-stage
# codegen method limits; the single transform stays compiled).
_PLANES_SPARK = "array(" + ", ".join(_plane_lit_spark(j) for j in range(N_PLANES)) + ")"
_PLANES_SQL = "[" + ", ".join(
    "[" + ", ".join(repr(w) for w in HYPERPLANES[j]) + "]" for j in range(N_PLANES)
) + "]"


def _signs_spark() -> F.Column:
    # built lazily — Column construction needs an active SparkContext
    return F.expr(
        f"array_join(transform({_PLANES_SPARK}, p -> "
        "CASE WHEN aggregate(zip_with(embedding, p, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END), '')"
    )


_SIGNS_SQL = (
    f"array_to_string(list_transform({_PLANES_SQL}, p -> "
    f"CASE WHEN {_sql_dot('embedding', 'p')} >= 0 THEN '1' ELSE '0' END), '')"
)

# Shared sign-LSH candidate CTEs (DuckDB side) — used by both the
# candidate-generation query and the label-filtered rerank query.
_EMB_CAND_CTES = f"""sigs AS (
      SELECT vec_id, embedding, {_SIGNS_SQL} AS signs FROM embeddings),
    nbits AS (
      SELECT {_BITS_LADDER_SQL} AS bits
      FROM (SELECT COUNT(*) AS n FROM embeddings)),
    {_bands_cte(", embedding")},
    okb AS (
      SELECT band, sig FROM bands
      GROUP BY band, sig HAVING COUNT(*) <= {EMB_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a
      JOIN okb ON okb.band = a.band AND okb.sig = a.sig
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)"""


# Store kind is layout-versioned: changing the plane/band geometry
# orphans old index directories (the janitor reclaims them) instead of
# silently probing a stale layout.
_BANDS_KIND = f"sign_bands_p{N_PLANES}x{N_BANDS}"


def _sign_bands(spark: SparkSession, e: DataFrame, sf_dir: str | None = None) -> DataFrame:
    """(vec_id, band, sig) sign-LSH index frame — the "index table"
    both the candidate-pair join and the range-search probe read. With
    ``sf_dir`` given (a named corpus) it is PERSISTED through the
    ann_index store — built once, read from parquet by every probe,
    rebuilt when the corpus fingerprint changes; the memoized value is
    the plain store read. For ad-hoc frames (sf_dir None — e.g. a
    streaming micro-batch probing against itself) it is
    localCheckpoint-materialized for the session only."""

    def build() -> DataFrame:
        sigs = e.select("vec_id", _signs_spark().alias("signs"))
        bands_tbl = spark.range(N_BANDS).select(F.col("id").cast("int").alias("band"))
        return sigs.crossJoin(F.broadcast(bands_tbl)).select(
            "vec_id",
            "band",
            F.substring(F.col("signs"), F.col("band") * BAND_BITS + 1, BAND_BITS).alias("sig"),
        )

    if sf_dir is None:
        return build().localCheckpoint()
    from nova_pulsar_spark.operators.ann_index import load_or_build, memo

    return memo(
        spark, sf_dir, _BANDS_KIND, lambda: load_or_build(spark, sf_dir, _BANDS_KIND, build)
    )


def _prefix_bands(
    spark: SparkSession,
    e: DataFrame,
    sf_dir: str | None = None,
    bits_override: int | None = None,
) -> DataFrame:
    """(vec_id, band, sig) with the sig truncated to the corpus-size
    ladder's effective bit width — the re-keying view over the stored
    full-width index (Spark side of the ``nbits``/``bands`` CTEs).

    Rungs at or under the stored slice width are a per-row substring
    of the stored sig. WIDER rungs (the fourth-decade extension) pair
    adjacent stored slices: wide band w = concat(slice 2w, slice 2w+1)
    = substr(signs, w*32+1, 32), prefixed to the rung width — one
    map-combinable groupBy over the index frame (8n rows → 4n), still
    no signature recompute and no re-index. The rung decision is a
    driver-side metadata count (production reads it from the index
    meta written at build time); ``bits_override`` lets tests pin a
    rung without a million-vector corpus. For a named corpus the rung
    is memoized per fingerprint so repeat probes skip even the
    metadata count job."""
    bands = _sign_bands(spark, e, sf_dir)
    if bits_override is not None:
        bits = bits_override
    else:
        bits = _bits_for(_corpus_count(spark, e, sf_dir))
    if bits <= BAND_BITS:
        return bands.select(
            "vec_id", "band", F.expr(f"substring(sig, 1, {bits})").alias("sig")
        )
    return (
        bands.withColumn("wband", F.expr("CAST(band DIV 2 AS INT)"))
        .groupBy("vec_id", "wband")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(band, sig))), "
                "s -> s.sig), '')"
            ).alias("wsig")
        )
        .select(
            "vec_id",
            F.col("wband").alias("band"),
            F.expr(f"substring(wsig, 1, {bits})").alias("sig"),
        )
    )


def _sign_lsh_candidates(spark: SparkSession, e: DataFrame, sf_dir: str | None = None) -> DataFrame:
    """(vec_a, vec_b) sign-LSH banded candidate pairs — the shared
    candidate-generation stage of the embedding dedup DAG (Spark side
    of ``_EMB_CAND_CTES``), eagerly localCheckpointed. With ``sf_dir``
    given, that checkpoint is memoized per corpus fingerprint — both
    the candidate-generation query and the label-filtered rerank
    consume the same materialization (the production shape: the
    candidate table is a persisted intermediate)."""

    def make() -> DataFrame:
        pb = _prefix_bands(spark, e, sf_dir)
        ok = (
            pb.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("nb"))
            .filter(F.col("nb") <= EMB_MAX_BUCKET)
            .select("band", "sig")
        )
        capped = pb.join(ok, ["band", "sig"], "left_semi")
        a, b = capped.alias("a"), pb.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
            .distinct()
            .localCheckpoint()
        )

    if sf_dir is None:
        return make()
    from nova_pulsar_spark.operators.ann_index import memo

    return memo(spark, sf_dir, "emb_candidates", make)


@register(
    "llm_dedup_embedding_lsh",
    sql=f"""
    WITH {_EMB_CAND_CTES}
    SELECT c.vec_a, c.vec_b,
           {_sql_cos("ea.embedding", "eb.embedding")} AS cosine,
           {_sql_cos("ea.embedding", "eb.embedding")} >= {EMB_DUP_THRESHOLD} AS is_dup
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    """,
    doc="Embedding near-dup at scale: sign-LSH (random-hyperplane) banded "
    "candidates, exact cosine ONLY on candidate pairs — never all-pairs",
)
def llm_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation for embedding dedup that scales: each vector
    gets a 128-bit hyperplane-sign signature; 8 bands bucket the
    corpus on a PREFIX of their 16-bit slice, and only same-bucket
    pairs meet (the cosine-space analog of MinHash banding). The
    prefix width follows the corpus-size ladder and outsized buckets
    take the EMB_MAX_BUCKET cap — the two guards that keep candidate
    growth linear: the round-4 second-decade audit measured the fixed
    4x8-bit layout at 68x for a 10x corpus step (fixed keyspace ->
    occupancy grows with n -> pair count grows with n²), and the
    re-keyed layout at ~2x on the same step. The exact-cosine verify
    stage then touches |candidates| pairs, not n². Hyperplanes are
    deterministic md5-derived literals, so both engines produce
    bit-identical signatures — which is what makes an LSH pipeline
    oracle-checkable.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cand = _sign_lsh_candidates(spark, e, sf_dir)
    # Per-VECTOR norms computed once (n rows), not per candidate PAIR
    # (|cand| ≫ n rows): the pair-level work drops from three 64-dim
    # folds to one. Staged projections make `cosine` a named column so
    # `is_dup` reuses it instead of re-evaluating the whole expression.
    norm = F.sqrt(_fold_dot("embedding", "embedding"))
    ea = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"), norm.alias("na"))
    eb = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"), norm.alias("nb"))
    return (
        cand.join(ea, F.col("ia") == F.col("vec_a"))
        .join(eb, F.col("ib") == F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.when(
                F.col("na") * F.col("nb") != 0,
                _fold_dot("ea", "eb") / (F.col("na") * F.col("nb")),
            ).alias("cosine"),  # zero-norm -> NULL, mirroring _sql_cos
        )
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            (F.col("cosine") >= EMB_DUP_THRESHOLD).alias("is_dup"),
        )
    )


@register(
    "llm_dedup_embedding",
    sql=f"""
    WITH {_EMB_CAND_CTES}
    SELECT c.vec_a, c.vec_b, a.label,
           {_sql_cos("a.embedding", "b.embedding")} AS cosine
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.vec_a
    JOIN embeddings b ON b.vec_id = c.vec_b
    WHERE a.label = b.label
      AND {_sql_cos("a.embedding", "b.embedding")} >= {EMB_RERANK_THRESHOLD}
    """,
    doc="Embedding-cosine near-dup rerank over sign-LSH candidate pairs "
    "(label as a residual filter, never the blocking key — candidate-driven, "
    "not all-pairs)",
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cosine rerank of sign-LSH candidates that share a label —
    the verify stage of the embedding dedup DAG. The label equality is
    a residual predicate on |candidates| pairs; no label-blocked
    self-join (O(n²) per label at corpus scale) remains in the plan."""
    e = load_table(spark, sf_dir, "embeddings")
    cand = _sign_lsh_candidates(spark, e, sf_dir)
    a = e.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("label").alias("lb"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, F.col("ia") == F.col("vec_a"))
        .join(b, F.col("ib") == F.col("vec_b"))
        .filter(F.col("la") == F.col("lb"))
        .select("vec_a", "vec_b", F.col("la").alias("label"), cosine("ea", "eb").alias("cosine"))
        .filter(F.col("cosine") >= EMB_RERANK_THRESHOLD)
    )


@register(
    "llm_embedding_quantize",
    sql=f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings)
    SELECT vec_id,
           CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END AS scale,
           array_to_string(
             list_transform(embedding,
               x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE)
                    * (CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END)
                    + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q8
    FROM m
    """,
    doc="Per-vector int8 quantization (symmetric, scale = 127/max|x|): the "
    "ANN-index compression step — 4× smaller vectors, map-only, no shuffle. "
    "floor(x*s + 0.5) rounding is identical on both engines; q8 serialized "
    "as a csv string (driver hasher requires scalar result columns)",
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization is pure per-row map work (whole-stage codegen, zero
    shuffle) — at corpus scale it is scan-bound and write-bound only.
    The scale factor is kept per vector (symmetric quantization), the
    dequantize error bound is 0.5/scale per element."""
    e = load_table(spark, sf_dir, "embeddings")
    maxabs = F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
    scale = F.when(maxabs == 0, F.lit(0.0)).otherwise(F.lit(127.0) / maxabs)
    m = e.select("vec_id", "embedding", scale.alias("scale"))
    q8 = F.expr(
        "array_join(transform(embedding, "
        "x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT) AS STRING)), ',')"
    )
    return m.select("vec_id", "scale", q8.alias("q8"))


N_BATCH_QUERIES = 5  # batched ANN: query vectors vec_id 0..4


@register(
    "llm_simsearch_batch",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < {N_BATCH_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             {_sql_cos("e.embedding", "q.qe")} AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, label, cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """,
    doc="Batched ANN: top-k per query for a broadcast batch of query vectors "
    "— one corpus scan serves the whole batch (queries ship with the tasks)",
)
def llm_simsearch_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval amortizes the corpus scan: the K query vectors
    broadcast to every task, each corpus row computes K fused-fold
    cosines map-side, and one per-query window rank keeps top-k. At
    100 TB this is THE serving shape — per-query scans don't scale,
    one scan per query *batch* does; the rank shuffle carries
    (batch × corpus-survivors) rows, bounded by TakeOrdered semantics.
    """
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", cosine("embedding", "qe").alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .drop("rnk")
    )


RANGE_THRESHOLD = 0.05  # radius (min cosine); tuned so the fixture probe returns a non-trivial, non-total subset


@register(
    "llm_simsearch_range",
    sql=f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {_SIGNS_SQL} AS signs FROM embeddings),
    nbits AS (
      SELECT {_BITS_LADDER_SQL} AS bits
      FROM (SELECT COUNT(*) AS n FROM embeddings)),
    {_bands_cte()},
    okb AS (
      SELECT band, sig FROM bands
      GROUP BY band, sig HAVING COUNT(*) <= {EMB_MAX_BUCKET}),
    qb AS (
      SELECT bands.band, bands.sig FROM bands
      JOIN okb ON okb.band = bands.band AND okb.sig = bands.sig
      WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
      SELECT DISTINCT b.vec_id
      FROM bands b JOIN qb ON b.band = qb.band AND b.sig = qb.sig
      WHERE b.vec_id <> {QUERY_VEC_ID}),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label, {_sql_cos("e.embedding", "q.qe")} AS cosine
    FROM embeddings e JOIN probe USING (vec_id) CROSS JOIN q
    WHERE {_sql_cos("e.embedding", "q.qe")} >= {RANGE_THRESHOLD}
    """,
    doc=f"Radius (range) similarity search: sign-LSH bucket probe for the "
    f"query, exact cosine above the radius only on same-bucket vectors — "
    "the all-neighbors-within-distance complement to top-k",
)
def llm_simsearch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search via index probe, not scan: the query vector's band
    signatures select only the corpus vectors sharing at least one LSH
    bucket; exact cosine runs on those candidates alone. At 100 TB the
    bands frame is the persisted index, hash-partitioned (or bucketed)
    on (band, sig) — a probe is then partition pruning plus a
    broadcast-joined verify, touching a fixed number of buckets
    regardless of corpus size. Bounded recall at the radius follows
    the banding: any vector within the radius agrees on a band with
    probability 1-(1-p^bits)^bands; the probe and the oracle twin use
    the same buckets, so results are engine-identical."""
    e = load_table(spark, sf_dir, "embeddings")
    bands = _prefix_bands(spark, e, sf_dir)
    ok = (
        bands.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") <= EMB_MAX_BUCKET)
        .select("band", "sig")
    )
    qb = (
        bands.filter(F.col("vec_id") == QUERY_VEC_ID)
        .join(ok, ["band", "sig"], "left_semi")
        .select("band", "sig")
    )
    probe = (
        bands.join(F.broadcast(qb), ["band", "sig"])
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .distinct()
    )
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    return (
        e.join(probe, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine("embedding", "qe").alias("cosine"))
        .filter(F.col("cosine") >= RANGE_THRESHOLD)
    )


@register(
    "llm_simsearch_ivf_stats",
    sql=f"""
    WITH idx AS (SELECT UNNEST(range(1, {DIM + 1})) AS i),
    centdim AS (
      SELECT e.label, idx.i AS i,
             list_reduce(list(CAST(e.embedding[idx.i] AS DOUBLE) ORDER BY e.vec_id), (a, b) -> a + b)
               / COUNT(*) AS c
      FROM embeddings e CROSS JOIN idx
      GROUP BY e.label, idx.i),
    cent AS (
      SELECT label, list(c ORDER BY i) AS cemb FROM centdim GROUP BY label),
    memb AS (
      SELECT e.label, e.vec_id, {_sql_cos("e.embedding", "cent.cemb")} AS cos
      FROM embeddings e JOIN cent ON e.label = cent.label),
    cells AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             list_reduce(list(cos ORDER BY vec_id), (a, b) -> a + b) AS sum_cos
      FROM memb GROUP BY label)
    SELECT label, n_vectors,
           CAST(n_vectors AS DOUBLE) * COUNT(*) OVER ()
             / SUM(n_vectors) OVER () AS imbalance,
           sum_cos / n_vectors AS mean_cos_to_centroid
    FROM cells
    """,
    doc="IVF index health: per-cell size, imbalance ratio vs the uniform "
    "cell, and mean member-to-centroid cosine (quantization coherence)",
)
def llm_simsearch_ivf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observability query an ANN index ships with: cell-size
    imbalance predicts probe-cost skew (a hot cell makes every probe
    touching it slow — the IVF analog of the LSH hot bucket), and a
    low mean member-to-centroid cosine flags cells whose centroid no
    longer represents them (re-cluster trigger). Reuses the cached
    ivf_centroids index frame; member cosines are one broadcast join
    + map pass, and the rollup output is one row per cell. The
    per-cell cosine sum uses the vec_id-ordered sequential fold so
    results are partitioning-independent and engine-identical."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    cent = ivf_centroids(spark, sf_dir)
    memb = e.join(F.broadcast(cent), "label").select(
        "label", "vec_id", cosine("embedding", "cemb").alias("cos")
    )
    cells = memb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(vec_id, cos))), s -> s.cos), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("sum_cos"),
    )
    w = W.partitionBy()
    return cells.select(
        "label",
        "n_vectors",
        (
            F.col("n_vectors").cast("double")
            * F.count(F.lit(1)).over(w)
            / F.sum("n_vectors").over(w)
        ).alias("imbalance"),
        (F.col("sum_cos") / F.col("n_vectors")).alias("mean_cos_to_centroid"),
    ).drop("sum_cos")


# --- vector normalization + one Lloyd iteration ---------------------------

K_SEEDS = 4  # k-means k; seeds = the K lowest vec_ids (deterministic init)


@register(
    "llm_embedding_normalize",
    sql=f"""
    WITH n AS (
      SELECT vec_id, embedding,
             SQRT({_sql_dot("embedding", "embedding")}) AS norm
      FROM embeddings)
    SELECT vec_id, norm,
           CASE WHEN norm = 0 THEN NULL ELSE
             array_to_string(list_transform(embedding,
               x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) / norm * 1000000.0 + 0.5)
                         AS BIGINT) AS VARCHAR)), ',')
           END AS unit_u6
    FROM n
    """,
    doc="L2-normalize every embedding (map-only, zero shuffle); unit vector "
    "serialized as micro-unit integers so the csv is bit-identical across "
    "engines. The prep step that turns dot product into cosine for ANN.",
)
def llm_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure per-row map work in whole-stage codegen — at corpus scale
    scan/write-bound like quantization. Norm uses the sequential fold
    (deterministic under any partitioning); elements are emitted as
    floor(x/norm * 1e6 + 0.5) integers because raw double→string
    rendering differs across engines. Zero vectors normalize to NULL
    (identical on both sides — array_join/array_to_string would
    otherwise disagree about NULL elements)."""
    e = load_table(spark, sf_dir, "embeddings")
    staged = e.select(
        "vec_id", "embedding", F.sqrt(_fold_dot("embedding", "embedding")).alias("norm")
    )
    csv = F.expr(
        "array_join(transform(embedding, "
        "x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) / norm * 1000000.0 + 0.5) "
        "AS BIGINT) AS STRING)), ',')"
    )
    return staged.select(
        "vec_id",
        "norm",
        F.when(F.col("norm") == 0, F.lit(None).cast("string")).otherwise(csv).alias("unit_u6"),
    )


def _sql_sqdist(a: str, b: str) -> str:
    """Sequential-fold squared euclidean distance (DuckDB side)."""
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


@register(
    "llm_kmeans_step",
    sql=f"""
    WITH seeds AS (
      SELECT vec_id AS centroid_id, embedding AS ce
      FROM embeddings ORDER BY vec_id LIMIT {K_SEEDS}),
    d AS (
      SELECT e.vec_id, e.embedding, s.centroid_id,
             {_sql_sqdist("e.embedding", "s.ce")} AS d2
      FROM embeddings e CROSS JOIN seeds s),
    a AS (
      SELECT vec_id, embedding, centroid_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d2, centroid_id) AS rn FROM d)
      WHERE rn = 1),
    idx AS (SELECT UNNEST(range(1, {DIM + 1})) AS i)
    SELECT a.centroid_id, idx.i AS i,
           list_reduce(list(CAST(a.embedding[idx.i] AS DOUBLE) ORDER BY a.vec_id),
                       (x, y) -> x + y) / COUNT(*) AS c,
           COUNT(*) AS n_members
    FROM a CROSS JOIN idx
    GROUP BY a.centroid_id, idx.i
    """,
    doc="One Lloyd (k-means) iteration: broadcast K seed centroids, map-side "
    "nearest-seed assignment (no shuffle), recompute means with the "
    "vec_id-ordered fold. The clustering-index build step for IVF/coarse "
    "quantizers — each further iteration is the same single-shuffle job.",
)
def llm_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment is embarrassingly parallel: the K seed vectors are
    collected once at the driver (the deterministic 'init' — K rows,
    same discipline as the broadcast ANN query vector) and inlined as
    literals, so every corpus row picks argmin(d2, centroid_id) inside
    codegen with NO join and NO per-row shuffle. The only shuffle is
    the (centroid, dim) mean aggregation — K*DIM reduce groups no
    matter the corpus size. Means use the vec_id-ordered sequential
    fold so results are partitioning-independent and engine-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = (
        e.orderBy("vec_id").limit(K_SEEDS).select("vec_id", "embedding").collect()
    )

    terms = ", ".join(
        f"struct({_spark_sqdist('embedding', _double_array(r['embedding']))} AS d2, "
        f"CAST({int(r['vec_id'])} AS BIGINT) AS centroid_id)"
        for r in seeds
    )
    assigned = e.select(
        "vec_id",
        "embedding",
        F.expr(f"array_min(array({terms})).centroid_id").alias("centroid_id"),
    )
    return (
        assigned.select(
            "vec_id", "centroid_id", F.posexplode("embedding").alias("i", "val")
        )
        .select(
            "vec_id",
            "centroid_id",
            (F.col("i") + 1).alias("i"),
            F.col("val").cast("double").alias("v"),
        )
        .groupBy("centroid_id", "i")
        .agg(
            (
                F.expr(
                    "aggregate(transform(array_sort(collect_list(struct(vec_id, v))), s -> s.v), "
                    "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
                )
                / F.count(F.lit(1))
            ).alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )


# --- MMR diverse top-k (rerank head) --------------------------------------

MMR_POOL = 20  # relevance-ranked candidate pool fed to the greedy head
MMR_K = 5      # final diverse selections
MMR_LAMBDA = 0.5  # exact binary fraction: identical IEEE math everywhere


def _mmr_sql() -> str:
    """Unrolled greedy MMR as chained CTEs (one per selection)."""
    cos_q = _sql_cos("e.embedding", "q.qe")
    parts = [
        f"WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})",
        f"pool AS (SELECT e.vec_id, e.embedding, {cos_q} AS rel FROM embeddings e CROSS JOIN q "
        f"WHERE e.vec_id <> {QUERY_VEC_ID} AND {cos_q} IS NOT NULL "
        f"ORDER BY rel DESC, e.vec_id LIMIT {MMR_POOL})",
        f"sim AS (SELECT a.vec_id AS ai, b.vec_id AS bi, "
        f"{_sql_cos('a.embedding', 'b.embedding')} AS s "
        "FROM pool a JOIN pool b ON a.vec_id <> b.vec_id)",
        "sel1 AS (SELECT vec_id, rel, 0.5 * rel AS mmr, 1 AS r FROM pool "
        "ORDER BY rel DESC, vec_id LIMIT 1)",
        "selu1 AS (SELECT * FROM sel1)",
    ]
    for k in range(2, MMR_K + 1):
        parts.append(
            f"sel{k} AS (SELECT p.vec_id, p.rel, "
            "0.5 * p.rel - 0.5 * (SELECT MAX(s.s) FROM sim s "
            f"JOIN selu{k-1} u ON s.ai = p.vec_id AND s.bi = u.vec_id) AS mmr, "
            f"{k} AS r FROM pool p "
            f"WHERE p.vec_id NOT IN (SELECT vec_id FROM selu{k-1}) "
            "ORDER BY mmr DESC, p.vec_id LIMIT 1)"
        )
        parts.append(
            f"selu{k} AS (SELECT * FROM selu{k-1} UNION ALL SELECT * FROM sel{k})"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT CAST(r AS BIGINT) AS sel_rank, vec_id, rel AS relevance, "
        f"mmr AS mmr_score FROM selu{MMR_K} ORDER BY sel_rank"
    )


@register(
    "llm_simsearch_mmr",
    sql=_mmr_sql(),
    doc=f"Maximal-marginal-relevance diverse top-{MMR_K}: distributed "
    f"relevance top-{MMR_POOL} pool + in-pool pairwise cosines, then the "
    "greedy λ·rel − (1−λ)·max-sim head on the O(k²) pool — diversity-aware "
    "retrieval for dataset curation and RAG serving",
)
def llm_simsearch_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale work — relevance scoring and top-N — is the
    same broadcast-query fused-fold TakeOrdered as llm_simsearch_topk;
    only the POOL (20 rows, independent of corpus size) reaches the
    greedy head, so the driver loop here is the 'top-1 dispatch
    decision' discipline, not a distributed-compute smell. Pairwise
    pool similarities are computed IN SPARK with the same sequential
    fold as every other cosine, so the selection compares
    engine-identical doubles and the unrolled SQL twin reproduces the
    exact same picks."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    pool_df = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", cosine("embedding", "qe").alias("rel"))
        .filter(F.col("rel").isNotNull())  # zero-norm vectors can't rank
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .localCheckpoint()  # pool feeds both the sim self-join and the head
    )
    a, b = pool_df.alias("a"), pool_df.alias("b")
    sims = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ai"),
            F.col("b.vec_id").alias("bi"),
            cosine("a.embedding", "b.embedding").alias("s"),
        )
        .collect()
    )
    pool = [(r["vec_id"], r["rel"]) for r in pool_df.select("vec_id", "rel").collect()]
    sim = {(r["ai"], r["bi"]): r["s"] for r in sims}

    selected: list[tuple[int, int, float, float]] = []  # (rank, vec_id, rel, mmr)
    chosen: list[int] = []
    for rank in range(1, MMR_K + 1):
        best = None
        for vid, rel in pool:
            if vid in chosen:
                continue
            if chosen:
                mmr = 0.5 * rel - 0.5 * max(sim[(vid, c)] for c in chosen)
            else:
                mmr = 0.5 * rel
            # argmax with vec_id tie-break (mirror of ORDER BY mmr DESC, vec_id)
            if best is None or mmr > best[3] or (mmr == best[3] and vid < best[1]):
                best = (rank, vid, rel, mmr)
        if best is None:  # pool exhausted (corpus smaller than MMR_K)
            break
        selected.append(best)
        chosen.append(best[1])
    return spark.createDataFrame(
        selected, "sel_rank bigint, vec_id bigint, relevance double, mmr_score double"
    )


def kmeans_iterate(
    spark: SparkSession, sf_dir: str, iters: int = 5, k: int = K_SEEDS
) -> tuple[list[tuple[int, list[float]]], list[float]]:
    """Full Lloyd loop built from the llm_kmeans_step machinery — the
    IVF/coarse-quantizer INDEX BUILD. Not registered as a query
    (iterative; no closed-form SQL twin — pytest-pinned instead, same
    policy as the sketch ops).

    Each iteration is ONE distributed job with the llm_kmeans_step
    shape: centroids collected at the driver (K*DIM floats — tiny) are
    inlined as literals, assignment is codegen argmin with no join,
    and the only shuffle carries K*DIM mean groups plus a 1-row WCSS
    sum. Iteration count is the classic small constant (5-20), so the
    driver loop is bounded and each pass streams the corpus once.

    Returns (final_centroids, wcss_per_iteration).
    """
    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.orderBy("vec_id").limit(k).select("vec_id", "embedding").collect()
    cents: list[tuple[int, list[float]]] = [
        (int(i), [float(x) for x in r["embedding"]]) for i, r in enumerate(seeds)
    ]
    wcss_hist: list[float] = []

    for _ in range(iters):
        terms = ", ".join(
            f"struct({_spark_sqdist('embedding', _double_array(vec))} AS d2, {cid} AS cid)"
            for cid, vec in cents
        )
        best = F.expr(f"array_min(array({terms}))")
        assigned = e.select(
            "vec_id",
            "embedding",
            best.getField("cid").alias("cid"),
            best.getField("d2").alias("d2"),
        )
        # ONE action per iteration: d2 rides along the (cid, dim) mean
        # rollup (replicated per dim, so wcss = Σ sd2 / DIM).
        mean_rows = (
            assigned.select("cid", "d2", F.posexplode("embedding").alias("i", "val"))
            .groupBy("cid", "i")
            .agg(
                (F.sum(F.col("val").cast("double")) / F.count(F.lit(1))).alias("c"),
                F.sum("d2").alias("sd2"),
            )
            .collect()
        )
        wcss_hist.append(float(sum(r["sd2"] for r in mean_rows)) / len({r["i"] for r in mean_rows}))
        by_cid: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_cid.setdefault(r["cid"], {})[r["i"]] = r["c"]
        cents = [
            (cid, [dims[i] for i in range(len(dims))])
            for cid, dims in sorted(by_cid.items())
        ]
    return cents, wcss_hist


# --- Product quantization (IVF-PQ's compression half) ----------------------

PQ_M = 4                 # subspaces
PQ_SUB = DIM // PQ_M     # dims per subspace (16)
PQ_K = 8                 # centroids per subspace codebook
PQ_TOPK = 10


def _sql_sub_sqdist(a: str, b: str, m_expr: str) -> str:
    """Sequential-fold squared distance over subspace ``m`` (DuckDB)."""
    return (
        f"list_reduce(list_transform(range(1, {PQ_SUB + 1}), "
        f"i -> (CAST({a}[{m_expr} * {PQ_SUB} + i] AS DOUBLE)"
        f" - CAST({b}[{m_expr} * {PQ_SUB} + i] AS DOUBLE))"
        f" * (CAST({a}[{m_expr} * {PQ_SUB} + i] AS DOUBLE)"
        f" - CAST({b}[{m_expr} * {PQ_SUB} + i] AS DOUBLE))), (x, y) -> x + y)"
    )


@register(
    "llm_simsearch_pq",
    sql=f"""
    WITH seeds AS (
      SELECT embedding AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS kidx
      FROM embeddings ORDER BY vec_id LIMIT {PQ_K}),
    ms AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    d AS (
      SELECT e.vec_id, ms.m, s.kidx,
             {_sql_sub_sqdist("e.embedding", "s.ce", "ms.m")} AS d2
      FROM embeddings e CROSS JOIN ms CROSS JOIN seeds s),
    codes AS (
      SELECT vec_id, m, kidx FROM (
        SELECT vec_id, m, kidx,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, kidx) AS rn
        FROM d) t WHERE rn = 1),
    qd AS (
      SELECT ms.m, s.kidx, {_sql_sub_sqdist("q.qe", "s.ce", "ms.m")} AS qd2
      FROM q CROSS JOIN ms CROSS JOIN seeds s),
    adc AS (
      SELECT c.vec_id,
             list_reduce(list(qd.qd2 ORDER BY c.m), (x, y) -> x + y) AS adc_d2
      FROM codes c JOIN qd ON qd.m = c.m AND qd.kidx = c.kidx
      GROUP BY c.vec_id),
    exact AS (
      SELECT e.vec_id, {_sql_sqdist("e.embedding", "q.qe")} AS true_d2
      FROM embeddings e CROSS JOIN q)
    SELECT a.vec_id, a.adc_d2, x.true_d2
    FROM adc a JOIN exact x ON x.vec_id = a.vec_id
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY a.adc_d2, a.vec_id LIMIT {PQ_TOPK}
    """,
    doc=f"Product-quantization ANN: {PQ_M}x{PQ_SUB}-dim subspaces, {PQ_K}-entry "
    "codebooks, asymmetric-distance (ADC) top-10 — the IVF-PQ compression "
    f"half; codes are {PQ_M} bytes/vector vs {DIM * 4} raw (the 100 TB memory story)",
)
def llm_simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011), the compression half of
    IVF-PQ — the index family behind every billion-scale ANN system.
    Encode: each vector splits into M subvectors, each assigned to its
    nearest codebook centroid → M small codes per vector (4 bytes here
    vs 256 raw). Search: the query precomputes an M×K table of
    subspace distances; a candidate's approximate distance is M table
    lookups + adds, never touching the raw vector (asymmetric distance
    computation).

    Spark shape mirrors `llm_kmeans_step`: the codebook (PQ_K seed
    vectors — the deterministic 'trained' codebook; production trains
    it with `kmeans_iterate` per subspace) and the query's distance
    table are DRIVER-SIDE literals inlined into codegen, so encode +
    ADC scoring is one map-only pass over the corpus with NO join and
    NO shuffle; the only wide op is TakeOrdered(top-k). At 100 TB the
    corpus pass reads the 4-byte code column only — this is why PQ
    exists: the scan is 64× less I/O than raw embeddings, and the
    distance table rides in the task closure. The fold order of every
    double sum matches the DuckDB twin exactly (sequential over dims,
    then m-ordered over subspaces), so ADC distances are bit-identical
    cross-engine."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        pq_adc_scores(e, spark, sf_dir)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "adc_d2", "true_d2")
        .orderBy("adc_d2", "vec_id")
        .limit(PQ_TOPK)
    )


def pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """``[m][k][dim]`` PQ codebook, persisted through the ann_index
    store. The "training" here is the deterministic k-seed selection
    (production swaps in `kmeans_iterate` per subspace — same artifact
    shape); what matters is the LIFECYCLE: the codebook is built once
    per corpus, stored as (kidx, m, sub) rows, and every encode/probe
    reads the stored rows — PQ codes are only decodable against the
    exact codebook that produced them, so the codebook must version
    with the corpus, which the fingerprint key enforces. The memoized
    value is the collected rows (bounded: PQ_M × PQ_K = 32), so repeat
    probes skip the store-read job."""
    from nova_pulsar_spark.operators.ann_index import load_or_build, memo

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings")
        seeds = (
            e.orderBy("vec_id")
            .limit(PQ_K)
            .select(
                (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("kidx"),
                "embedding",
            )
        )
        ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
        return seeds.crossJoin(ms).select(
            "m",
            "kidx",
            F.expr(
                f"transform(slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB}), x -> CAST(x AS DOUBLE))"
            ).alias("sub"),
        )

    rows = memo(
        spark, sf_dir, "pq_codebook",
        lambda: load_or_build(spark, sf_dir, "pq_codebook", build).collect(),
    )
    by_mk = {(r["m"], r["kidx"]): [float(x) for x in r["sub"]] for r in rows}
    return [[by_mk[(m, k)] for k in range(PQ_K)] for m in range(PQ_M)]


def pq_adc_scores(corpus: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, adc_d2, true_d2) PQ encode + ADC scoring of any
    subset of the embeddings table (codebook + query distance table are
    driver literals from the FULL table, so scores are identical no
    matter the subset — the property IVF-PQ relies on when ADC runs
    only inside probed cells)."""
    e = load_table(spark, sf_dir, "embeddings")
    books = pq_codebook(spark, sf_dir)  # persisted index artifact
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").first()[0]
    ]
    # ADC table: query-to-centroid subspace distances, folded in the
    # SAME sequential order as the SQL twin (query-time, not an artifact)
    dtab: list[list[float]] = []  # [m][k]
    for m in range(PQ_M):
        row_d = []
        for sub in books[m]:
            acc = 0.0
            for i in range(PQ_SUB):
                diff = qvec[m * PQ_SUB + i] - sub[i]
                acc = acc + diff * diff
            row_d.append(acc)
        dtab.append(row_d)

    # per-subspace code: argmin(d2, kidx) over the K codebook entries
    code_cols = []
    for m in range(PQ_M):
        sub = f"slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB})"
        terms = ", ".join(
            f"struct({_spark_sqdist(sub, _double_array(books[m][k]))} AS d2, {k} AS kidx)"
            for k in range(PQ_K)
        )
        code_cols.append(F.expr(f"array_min(array({terms})).kidx").alias(f"c{m}"))
    coded = corpus.select("vec_id", "label", "embedding", *code_cols)

    # ADC: m-ordered fixed sum of distance-table lookups (literal arrays)
    adc = None
    for m in range(PQ_M):
        lut = F.expr(f"element_at({_double_array(dtab[m])}, c{m} + 1)")
        adc = lut if adc is None else adc + lut
    true_d2 = F.expr(_spark_sqdist("embedding", _double_array(qvec)))
    return coded.select(
        "vec_id", "label", adc.alias("adc_d2"), true_d2.alias("true_d2")
    )


@register(
    "llm_simsearch_ivfpq",
    sql=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    idx AS (SELECT UNNEST(range(1, {DIM + 1})) AS i),
    centdim AS (
      SELECT e.label, idx.i AS i,
             list_reduce(list(CAST(e.embedding[idx.i] AS DOUBLE) ORDER BY e.vec_id), (a, b) -> a + b)
               / COUNT(*) AS c
      FROM embeddings e CROSS JOIN idx
      GROUP BY e.label, idx.i),
    cent AS (
      SELECT label, list(c ORDER BY i) AS cemb FROM centdim GROUP BY label),
    probes AS (
      SELECT cent.label FROM cent CROSS JOIN q
      ORDER BY {_sql_cos("cent.cemb", "q.qe")} DESC, cent.label LIMIT {{NPROBE}}),
    seeds AS (
      SELECT embedding AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS kidx
      FROM embeddings ORDER BY vec_id LIMIT {PQ_K}),
    ms AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
    cell AS (
      SELECT e.vec_id, e.label, e.embedding
      FROM embeddings e JOIN probes p ON e.label = p.label),
    d AS (
      SELECT e.vec_id, e.label, ms.m, s.kidx,
             {_sql_sub_sqdist("e.embedding", "s.ce", "ms.m")} AS d2
      FROM cell e CROSS JOIN ms CROSS JOIN seeds s),
    codes AS (
      SELECT vec_id, label, m, kidx FROM (
        SELECT vec_id, label, m, kidx,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, kidx) AS rn
        FROM d) t WHERE rn = 1),
    qd AS (
      SELECT ms.m, s.kidx, {_sql_sub_sqdist("q.qe", "s.ce", "ms.m")} AS qd2
      FROM q CROSS JOIN ms CROSS JOIN seeds s),
    adc AS (
      SELECT c.vec_id, ANY_VALUE(c.label) AS label,
             list_reduce(list(qd.qd2 ORDER BY c.m), (x, y) -> x + y) AS adc_d2
      FROM codes c JOIN qd ON qd.m = c.m AND qd.kidx = c.kidx
      GROUP BY c.vec_id),
    exact AS (
      SELECT e.vec_id, {_sql_sqdist("e.embedding", "q.qe")} AS true_d2
      FROM cell e CROSS JOIN q)
    SELECT a.vec_id, a.label, a.adc_d2, x.true_d2
    FROM adc a JOIN exact x ON x.vec_id = a.vec_id
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY a.adc_d2, a.vec_id LIMIT {PQ_TOPK}
    """.replace("{NPROBE}", "2"),
    doc="IVF-PQ ANN: coarse centroid probe (top-2 cells) + product-quantization "
    "ADC scoring only inside probed cells — the full billion-scale index stack",
)
def llm_simsearch_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index (Jégou et al. 2011), i.e. what a
    billion-scale ANN deployment actually runs: the IVF coarse
    quantizer prunes the corpus to nprobe=2 cells (at cluster scale:
    partition pruning on a label-partitioned code table — the scan
    never touches the other cells' files), then PQ asymmetric-distance
    scoring ranks ONLY the surviving vectors from their 4-byte codes.
    Both halves are the already-benched building blocks: the cached
    `ivf_centroids` frame (index build) and the driver-literal PQ
    codebook/distance-table from `pq_adc_scores` — the compose step
    adds one broadcast semi-join (cell filter) and nothing else.
    `true_d2` rides along as the exact rerank head: at 100 TB the
    pattern is ADC top-R from codes, then one gather of R raw vectors
    for exact rerank — here R = k so the rerank is the output itself.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    probes = (
        ivf_centroids(spark, sf_dir)
        .crossJoin(F.broadcast(q))
        .orderBy(cosine("cemb", "qe").desc(), "label")
        .limit(2)
        .select("label")
    )
    cell = e.join(F.broadcast(probes), "label")
    return (
        pq_adc_scores(cell, spark, sf_dir)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "adc_d2", "true_d2")
        .orderBy("adc_d2", "vec_id")
        .limit(PQ_TOPK)
    )


# --- SemDeDup: semantic dedup via cluster-then-pairwise --------------------

SEMDEDUP_K = 4       # clusters (kmeans seeds); ~corpus_size/avg_cluster in prod
SEM_MAX_CLUSTER = 64  # per-cluster pair-stage cap: only the cap nearest-to-seed
# members enter the quadratic stage. Production SemDeDup bounds |cluster| by
# scaling K with the corpus (50k clusters for LAION); a static-K registered
# query needs the explicit cap or per-cluster pair work grows quadratically —
# the round-4 second-decade audit measured 44x at a 10x corpus step uncapped.
SEMDEDUP_T = 0.35    # cosine threshold (fixture embeddings are near-orthogonal;
                     # real text embeddings use ~0.95+)


_SEM_NRM_SQL = (
    f"SQRT(list_reduce(list_transform(range(1, {DIM + 1}), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y))"
)

_SEM_NDOT_SQL = (
    f"list_reduce(list_transform(range(1, {DIM + 1}), "
    "i -> x.nv[i] * y.nv[i]), (p, q) -> p + q)"
)


@register(
    "llm_dedup_semdedup",
    sql=f"""
    WITH seeds AS (
      SELECT vec_id AS cluster_id, embedding AS ce
      FROM embeddings ORDER BY vec_id LIMIT {SEMDEDUP_K}),
    d AS (
      SELECT e.vec_id, e.embedding, s.cluster_id,
             {_sql_sqdist("e.embedding", "s.ce")} AS d2
      FROM embeddings e CROSS JOIN seeds s),
    a AS (
      SELECT vec_id, embedding, cluster_id, d2
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster_id) AS rn FROM d) t
      WHERE rn = 1),
    am AS (
      SELECT vec_id, embedding, cluster_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                         ORDER BY d2, vec_id) AS mrank FROM a) t
      WHERE mrank <= {SEM_MAX_CLUSTER}),
    nrm AS (
      SELECT vec_id, cluster_id, embedding, {_SEM_NRM_SQL} AS nrm FROM am),
    n AS (
      SELECT vec_id, cluster_id,
             CASE WHEN nrm = 0 THEN NULL
                  ELSE list_transform(range(1, {DIM + 1}),
                                      i -> CAST(embedding[i] AS DOUBLE) / nrm)
             END AS nv
      FROM nrm)
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cluster_id,
           {_SEM_NDOT_SQL} AS cos_sim,
           y.vec_id AS removed_vec
    FROM n x JOIN n y
      ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
    WHERE {_SEM_NDOT_SQL} >= {SEMDEDUP_T}
    """,
    doc=f"SemDeDup semantic dedup: k-means-cluster embeddings ({SEMDEDUP_K} "
    "seed clusters), exact pairwise cosine ONLY within a cluster, drop the "
    "higher id of every pair above the threshold — cluster blocking bounds "
    "the quadratic term at |cluster|, never the corpus",
)
def llm_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): documents
    that SAY the same thing in different words share no shingles, so
    MinHash/SimHash miss them — but their embeddings are nearly
    parallel. Cluster the embedding space (here: nearest of K
    deterministic seeds, the `llm_kmeans_step` assignment idiom with
    driver-inlined literals → map-only, no join), then compare pairs
    ONLY within a cluster and drop the higher vec_id of any pair above
    the cosine threshold (keep-first, deterministic).

    The per-pair work is ONE dot product: vectors are L2-normalized in
    the linear map pass (cosine(a,b) ≡ dot(â,b̂); zero-norm → NULL,
    dropped by the threshold on both engines), and the normalized
    frame is localCheckpointed since both sides of the pair join read
    it — first cut recomputed a 3-fold cosine per pair, 55× slower at
    sf0.1. The same normalize-once trick is what makes production
    SemDeDup affordable: the quadratic stage touches unit vectors and
    multiplies/adds only.

    100 TB shape: K scales with the corpus (SemDeDup used 50k clusters
    for LAION) so |cluster| stays ~constant; the pair join shuffles on
    cluster_id — each cluster's quadratic work is bounded and
    embarrassingly parallel across clusters, the same skew profile as
    LSH buckets (a runaway cluster takes the max_bucket-style cap).
    The fixture's embeddings are random (near-orthogonal, max cos
    ≈ 0.51), so the threshold is 0.35 here where production text
    embeddings use ~0.95."""
    e = load_table(spark, sf_dir, "embeddings")
    seed_rows = e.orderBy("vec_id").limit(SEMDEDUP_K).select("vec_id", "embedding").collect()

    terms = ", ".join(
        f"struct({_spark_sqdist('embedding', _double_array(r['embedding']))} AS d2, "
        f"CAST({int(r['vec_id'])} AS BIGINT) AS cluster_id)"
        for r in seed_rows
    )
    a = e.select(
        "vec_id",
        "embedding",
        F.expr(f"array_min(array({terms})).cluster_id").alias("cluster_id"),
        F.expr(f"array_min(array({terms})).d2").alias("d2"),
    )
    # Per-cluster pair-stage cap: rank members by distance-to-seed and
    # let only the SEM_MAX_CLUSTER nearest enter the pairwise stage —
    # a linear window, identical on both engines (tie-break vec_id).
    from pyspark.sql.window import Window as W

    am = (
        a.withColumn(
            "mrank",
            F.row_number().over(W.partitionBy("cluster_id").orderBy("d2", "vec_id")),
        )
        .filter(F.col("mrank") <= SEM_MAX_CLUSTER)
        .drop("mrank", "d2")
    )
    # Normalize ONCE (linear), so each candidate pair costs a single
    # dot fold; checkpoint because both join sides consume this frame.
    n = (
        am.select("vec_id", "cluster_id", "embedding", F.sqrt(_fold_dot("embedding", "embedding")).alias("nrm"))
        .select(
            "vec_id",
            "cluster_id",
            F.expr(
                "CASE WHEN nrm = 0 THEN NULL "
                "ELSE transform(embedding, v -> CAST(v AS DOUBLE) / nrm) END"
            ).alias("nv"),
        )
        # the fixture parquet is ONE row group → the O(n²/K) pair stage
        # would run in a single task without an explicit fan-out; round-
        # robin here so every core computes pair dots (real multi-file
        # tables inherit scan parallelism and skip this)
        .repartition(64)
        .localCheckpoint()
    )
    x, y = n.alias("x"), n.alias("y")
    ndot = F.expr(
        "aggregate(zip_with(x.nv, y.nv, (p, q) -> p * q), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    # Broadcast the probe side: with few clusters an equi-join on
    # cluster_id collapses to |K| tasks; broadcasting keeps all 32
    # scan partitions computing pair dots map-side. At production K
    # (thousands of small clusters) the same query without the hint is
    # a well-distributed shuffle join — the hint only matters when
    # |clusters| < |cores|.
    return (
        x.join(
            F.broadcast(y),
            (F.col("x.cluster_id") == F.col("y.cluster_id"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.cluster_id").alias("cluster_id"),
            ndot.alias("cos_sim"),
            F.col("y.vec_id").alias("removed_vec"),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_T)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

RRF_C = 60  # the standard RRF constant (Cormack/Clarke/Buettcher 2009)
RRF_DENSE_K = 20  # dense candidate list length
RRF_TOPK = 10


def _rrf_sql() -> str:
    from nova_pulsar_spark.operators.textstats import BM25_SQL

    return f"""
    WITH sparse_ranked AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_sparse
      FROM ({BM25_SQL}) b),
    dense_ranked AS (
      SELECT vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS r_dense
      FROM (
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
        SELECT e.vec_id, {_sql_cos("e.embedding", "q.qe")} AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, e.vec_id LIMIT {RRF_DENSE_K}) d),
    fused AS (
      SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.r_sparse, d.r_dense,
             COALESCE(1.0 / ({RRF_C} + s.r_sparse), 0) + COALESCE(1.0 / ({RRF_C} + d.r_dense), 0) AS rrf_score
      FROM sparse_ranked s FULL OUTER JOIN dense_ranked d ON s.doc_id = d.doc_id)
    SELECT doc_id, r_sparse, r_dense, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOPK}
    """


@register(
    "llm_simsearch_rrf",
    sql=_rrf_sql(),
    doc=f"Hybrid retrieval: BM25 top-{15} (sparse) + cosine top-{RRF_DENSE_K} "
    f"(dense) fused by reciprocal-rank fusion 1/({RRF_C}+rank), top-{RRF_TOPK}",
)
def llm_simsearch_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) over the two
    retrieval heads the engine already ships: the BM25 sparse scorer
    (documents.text; inverted-index shape) and the brute/indexable
    dense cosine head (embeddings; broadcast query). RRF is the
    standard hybrid-retrieval combiner because it needs only RANKS —
    no score normalization across incomparable scales.

    100 TB shape: each head is already scale-safe on its own (BM25
    filters the token stream to query terms before any shuffle; the
    dense head is a broadcast-query map + TakeOrdered, or the IVF/LSH
    index variants for big k). The fusion itself touches only the two
    candidate LISTS — 15 + {RRF_DENSE_K} rows — so the outer join and
    re-rank are driver-trivial no matter the corpus size; this is the
    textbook "retrieve cheap per modality, fuse tiny" decomposition.

    Cross-engine exactness: ranks are integers with doc_id
    tie-breaks; 1.0/(60+rank) is one IEEE division of exact integers,
    and the two-term sum is fixed-order — bit-identical on both
    engines. Docs present in only one list contribute 0 for the
    missing head (COALESCE), the standard RRF-over-union convention.
    """
    from pyspark.sql import Window as W

    from nova_pulsar_spark.operators.textstats import llm_bm25_score

    sparse = llm_bm25_score(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .cast("bigint")
        .alias("r_sparse"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    dense = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", cosine("embedding", "qe").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(RRF_DENSE_K)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(W.orderBy(F.col("cos").desc(), "vec_id"))
            .cast("bigint")
            .alias("r_dense"),
        )
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "r_sparse",
        "r_dense",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("r_sparse")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("r_dense")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(RRF_TOPK)


# --- Filtered vector search (pre-filter vs post-filter) --------------------


@register(
    "llm_simsearch_prefiltered",
    sql=f"""
    WITH q AS (
      SELECT embedding AS qe, label AS qlabel FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id, e.label, {_sql_cos("e.embedding", "q.qe")} AS cosine,
             e.label <> q.qlabel AS passes
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {QUERY_VEC_ID}),
    pre AS (
      SELECT vec_id, label, cosine,
             CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS pre_rank
      FROM scored WHERE passes
      ORDER BY cosine DESC, vec_id LIMIT {TOP_K}),
    post AS (
      SELECT vec_id FROM (
        SELECT vec_id, passes FROM scored
        ORDER BY cosine DESC, vec_id LIMIT {TOP_K}) t
      WHERE passes)
    SELECT p.vec_id, p.label, p.cosine, p.pre_rank,
           p.vec_id IN (SELECT vec_id FROM post) AS survives_postfilter
    FROM pre p
    """,
    doc=f"Filtered ANN: top-{TOP_K} cosine restricted to label <> query's "
    "(pre-filter: exact k results) with a flag for which hits the naive "
    "post-filter (top-k then filter) would have kept — the recall gap",
)
def llm_simsearch_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search — the pattern every production
    vector store needs (search only docs matching a predicate). Two
    strategies differ at scale:

    - PRE-filter (this op's result): apply the predicate before
      scoring/top-k. Always returns k hits from the eligible set; in
      Spark the predicate lands in the scan (partition pruning when the
      corpus is laid out by the filter column), so the filtered search
      touches less data, not more.
    - POST-filter (flagged per row): global top-k first, filter after
      — cheaper with a prebuilt unfiltered index, but returns < k (or
      zero) hits when the predicate is selective. `survives_postfilter`
      marks exactly which pre-filter hits a post-filter of the same
      budget would have found: the FALSE rows ARE the recall gap.

    The scoring itself reuses the broadcast-query fused-fold cosine;
    both rankings are TakeOrdered, never a global sort."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), F.col("label").alias("qlabel")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            cosine("embedding", "qe").alias("cosine"),
            (F.col("label") != F.col("qlabel")).alias("passes"),
        )
    )
    scored = scored.localCheckpoint()  # two consumers: pre and post rankings
    from pyspark.sql.window import Window as W

    pre = (
        scored.filter("passes")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
        .select(
            "vec_id",
            "label",
            "cosine",
            F.row_number().over(W.orderBy(F.col("cosine").desc(), "vec_id")).cast("bigint").alias("pre_rank"),
        )
    )
    post = (
        scored.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
        .filter("passes")
        .select(F.col("vec_id").alias("pv"), F.lit(True).alias("survives_postfilter"))
    )
    return (
        pre.join(F.broadcast(post), pre.vec_id == F.col("pv"), "left")
        .select(
            "vec_id",
            "label",
            "cosine",
            "pre_rank",
            F.coalesce("survives_postfilter", F.lit(False)).alias("survives_postfilter"),
        )
    )


# --- PCA power-iteration step (embedding whitening / rotation build) -------

PCA_FP = 1048576.0  # 2^20 fixed-point scale for the cross-row accumulator
_V0 = 0.125  # start vector v0 = (1/sqrt(DIM), ...) — 1/8 exactly representable


@register(
    "llm_pca_power_step",
    sql=f"""
    WITH s AS (
      SELECT vec_id, embedding,
             list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                         (x, y) -> x + y) * {_V0} AS sv
      FROM embeddings),
    g AS (
      SELECT i.i AS i,
             CAST(SUM(CAST(FLOOR(s.sv * CAST(s.embedding[i.i] AS DOUBLE) * {PCA_FP})
                           AS BIGINT)) AS DOUBLE) / {PCA_FP} AS xtxv
      FROM s CROSS JOIN (SELECT UNNEST(range(1, {DIM + 1})) AS i) i
      GROUP BY i.i),
    n AS (
      SELECT SQRT(list_reduce(list(xtxv * xtxv ORDER BY i), (x, y) -> x + y)) AS nrm,
             list_reduce(list(xtxv ORDER BY i), (x, y) -> x + y) * {_V0} AS ray
      FROM g)
    SELECT g.i, g.xtxv,
           g.xtxv / NULLIF(n.nrm, 0) AS v_next,
           n.ray AS rayleigh_q
    FROM g CROSS JOIN n
    """,
    doc="One PCA power-iteration step v' = X^T(Xv) over the embedding corpus "
    "— the top-principal-direction build for whitening/OPQ-style index "
    "rotations; fixed-point cross-row accumulator, order/partition-exact",
)
def llm_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable PCA step factors v' = (X^T X) v as X^T (X v): a
    per-row dot s_r = <x_r, v0> (v0 = 1/sqrt(DIM) literal — no data
    dependence, no prior pass), then per-dimension sums of s_r * x_rj.
    The shuffle is (dim, partial_sum) — DIM reduce groups with
    map-side combine no matter the corpus size, the same profile as
    llm_kmeans_step. Cross-row float addition is order-dependent, so
    the accumulator is FIXED-POINT: floor(s*x*2^20) per row (a
    deterministic IEEE expression both engines evaluate identically)
    summed in DECIMAL(38,0) — order-free, no collect_list fold over
    corpus-sized groups, which is what survives 100 TB. The final
    64-row normalization + Rayleigh quotient use the tiny ordered
    fold. Each further power iteration is the same single-shuffle job
    with v' re-broadcast (the llm_kmeans_step loop discipline)."""
    e = load_table(spark, sf_dir, "embeddings")
    s = e.select(
        "vec_id",
        "embedding",
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v) * {_V0}"
        ).alias("sv"),
    )
    g = (
        s.select("sv", F.posexplode("embedding").alias("i0", "x"))
        .select(
            (F.col("i0") + 1).cast("bigint").alias("i"),
            F.floor(F.col("sv") * F.col("x").cast("double") * F.lit(PCA_FP)).alias("q"),
        )
        .groupBy("i")
        .agg((F.sum(F.col("q").cast("decimal(38,0)")).cast("double") / F.lit(PCA_FP)).alias("xtxv"))
    )
    n = g.agg(
        F.sqrt(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(i, xtxv))), "
                "s -> s.xtxv * s.xtxv), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        ).alias("nrm"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, xtxv))), "
            f"s -> s.xtxv), CAST(0 AS DOUBLE), (acc, v) -> acc + v) * {_V0}"
        ).alias("ray"),
    )
    return g.crossJoin(F.broadcast(n)).select(
        "i",
        "xtxv",
        F.when(F.col("nrm") != 0, F.col("xtxv") / F.col("nrm")).alias("v_next"),
        F.col("ray").alias("rayleigh_q"),
    )


# --- Margin-based bitext mining (parallel-corpus candidate scoring) --------

BITEXT_SRC_LABEL = 0  # "language A" side of the mining run
BITEXT_TGT_LABEL = 1  # "language B" side
BITEXT_K = 4  # neighborhood size for the margin normalizer


@register(
    "llm_bitext_margin",
    sql=f"""
    WITH {_EMB_CAND_CTES},
    x AS (
      SELECT CASE WHEN a.label = {BITEXT_SRC_LABEL} THEN c.vec_a ELSE c.vec_b END AS src_id,
             CASE WHEN a.label = {BITEXT_SRC_LABEL} THEN c.vec_b ELSE c.vec_a END AS tgt_id,
             {_sql_cos("a.embedding", "b.embedding")} AS cosine
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.vec_a
      JOIN embeddings b ON b.vec_id = c.vec_b
      WHERE (a.label = {BITEXT_SRC_LABEL} AND b.label = {BITEXT_TGT_LABEL})
         OR (a.label = {BITEXT_TGT_LABEL} AND b.label = {BITEXT_SRC_LABEL})),
    p AS (SELECT src_id, tgt_id, cosine FROM x WHERE cosine IS NOT NULL),
    ra AS (
      SELECT src_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS rn
      FROM p),
    fa AS (
      SELECT src_id,
             list_reduce(list(cosine ORDER BY rn), (x, y) -> x + y) / COUNT(*) AS nn_src
      FROM ra WHERE rn <= {BITEXT_K} GROUP BY src_id),
    rb AS (
      SELECT tgt_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS rn
      FROM p),
    fb AS (
      SELECT tgt_id,
             list_reduce(list(cosine ORDER BY rn), (x, y) -> x + y) / COUNT(*) AS nn_tgt
      FROM rb WHERE rn <= {BITEXT_K} GROUP BY tgt_id),
    m AS (
      SELECT p.src_id, p.tgt_id, p.cosine,
             p.cosine / NULLIF((fa.nn_src + fb.nn_tgt) * 0.5, 0) AS margin
      FROM p
      JOIN fa ON fa.src_id = p.src_id
      JOIN fb ON fb.tgt_id = p.tgt_id),
    f AS (
      SELECT src_id, tgt_id, cosine, margin,
             ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rf
      FROM m),
    bk AS (
      SELECT src_id, tgt_id,
             ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rb
      FROM m)
    SELECT f.src_id, f.tgt_id, f.cosine, f.margin,
           (bk.src_id IS NOT NULL) AS mutual_best
    FROM f LEFT JOIN bk
      ON bk.src_id = f.src_id AND bk.tgt_id = f.tgt_id AND bk.rb = 1
    WHERE f.rf = 1
    """,
    doc="Margin-based bitext mining (Artetxe & Schwenk ratio margin): "
    "cross-label candidate pairs from the shared sign-LSH stage, margin = "
    "cos / mean of the two k-NN-neighborhood averages, forward-best per "
    "source with a mutual-best flag — the parallel-corpus miner",
)
def llm_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mining parallel text by raw cosine over-selects hub sentences;
    the ratio margin (cos normalized by the mean of each side's k-NN
    average cosine) is the published fix (Artetxe & Schwenk 2019 —
    margin-based mining, the CCMatrix recipe). Scale shape: candidate
    pairs come from the SAME persisted sign-LSH banded index the dedup
    DAG uses (never all-pairs, ~n*bucket density rows); neighborhood
    averages are per-endpoint aggregates over candidate pairs (two
    map-side-combinable shuffles on src_id/tgt_id); the argmax heads
    are row_number windows. k-NN truncation uses the rn-ordered
    sequential fold so the averages — and therefore margins and both
    argmax heads — are bit-identical across engines and partitionings.
    Zero-norm vectors (cosine NULL) drop before neighborhoods on both
    engines; an all-zero neighborhood yields NULL margin (NULLIF'd
    denominator), ranked last by both engines' DESC NULLS LAST."""
    e = load_table(spark, sf_dir, "embeddings")
    cand = _sign_lsh_candidates(spark, e, sf_dir)
    a = e.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("label").alias("lb"), F.col("embedding").alias("eb"))
    src, tgt = F.lit(BITEXT_SRC_LABEL), F.lit(BITEXT_TGT_LABEL)
    p = (
        cand.join(a, F.col("ia") == F.col("vec_a"))
        .join(b, F.col("ib") == F.col("vec_b"))
        .filter(
            ((F.col("la") == src) & (F.col("lb") == tgt))
            | ((F.col("la") == tgt) & (F.col("lb") == src))
        )
        .select(
            F.when(F.col("la") == src, F.col("vec_a")).otherwise(F.col("vec_b")).alias("src_id"),
            F.when(F.col("la") == src, F.col("vec_b")).otherwise(F.col("vec_a")).alias("tgt_id"),
            cosine("ea", "eb").alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    # Two consumers (src- and tgt-side neighborhoods) + the margin join
    # read the same candidate-cosine frame: materialize it once.
    p = p.localCheckpoint()
    from pyspark.sql.window import Window as W

    def _nn(side: str, other: str, out: str) -> DataFrame:
        w = W.partitionBy(side).orderBy(F.col("cosine").desc(), other)
        return (
            p.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= BITEXT_K)
            .groupBy(side)
            .agg(
                (
                    F.expr(
                        "aggregate(transform(array_sort(collect_list(struct(rn, cosine))), "
                        "s -> s.cosine), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
                    )
                    / F.count(F.lit(1))
                ).alias(out)
            )
        )

    fa = _nn("src_id", "tgt_id", "nn_src")
    fb = _nn("tgt_id", "src_id", "nn_tgt")
    den = (F.col("nn_src") + F.col("nn_tgt")) * F.lit(0.5)
    m = (
        p.join(fa, "src_id")
        .join(fb, "tgt_id")
        .select(
            "src_id", "tgt_id", "cosine",
            F.when(den != 0, F.col("cosine") / den).alias("margin"),
        )
    )
    m = m.localCheckpoint()  # forward and backward argmax heads share it
    f = m.withColumn(
        "rf", F.row_number().over(W.partitionBy("src_id").orderBy(F.col("margin").desc(), "tgt_id"))
    ).filter(F.col("rf") == 1)
    bk = (
        m.withColumn(
            "rb", F.row_number().over(W.partitionBy("tgt_id").orderBy(F.col("margin").desc(), "src_id"))
        )
        .filter(F.col("rb") == 1)
        .select(F.col("src_id").alias("bs"), F.col("tgt_id").alias("bt"), F.lit(True).alias("mb"))
    )
    return (
        f.join(bk, (F.col("bs") == f.src_id) & (F.col("bt") == f.tgt_id), "left")
        .select(
            "src_id", "tgt_id", "cosine", "margin",
            F.coalesce("mb", F.lit(False)).alias("mutual_best"),
        )
    )


def pca_top_component(
    spark: SparkSession, sf_dir: str, iters: int = 12
) -> tuple[list[float], list[float]]:
    """Full power-iteration loop built from the llm_pca_power_step
    machinery — the whitening/OPQ-rotation INDEX BUILD. Not registered
    as a query (iterative; no closed-form SQL twin — pytest-pinned,
    the lloyd-loop policy).

    Each iteration is ONE distributed job with the step's shape: the
    current direction v (DIM floats — tiny) is inlined as a literal,
    s = <x, v> is a per-row fold, and the only shuffle carries DIM
    fixed-point partial-sum groups. The driver normalizes the DIM-
    vector and re-broadcasts; the Rayleigh quotient per iteration
    gives the convergence trace (monotone for PSD X^T X up to
    fixed-point error).

    Returns (unit top component, rayleigh quotient per iteration)."""
    e = load_table(spark, sf_dir, "embeddings")
    import math

    v = [1.0 / math.sqrt(DIM)] * DIM
    ray_hist: list[float] = []
    for _ in range(iters):
        vlit = "array(" + ", ".join(repr(float(x)) for x in v) + ")"
        s = e.select(
            F.expr(
                f"aggregate(zip_with(embedding, {vlit}, "
                "(x, y) -> CAST(x AS DOUBLE) * y), "
                "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("sv"),
            "embedding",
        )
        g = (
            s.select("sv", F.posexplode("embedding").alias("i0", "x"))
            .select(
                F.col("i0").alias("i"),
                F.floor(F.col("sv") * F.col("x").cast("double") * F.lit(PCA_FP)).alias("q"),
            )
            .groupBy("i")
            .agg((F.sum(F.col("q").cast("decimal(38,0)")).cast("double") / F.lit(PCA_FP)).alias("w"))
        )
        rows = {r["i"]: r["w"] for r in g.collect()}  # DIM floats — bounded
        w = [rows.get(i, 0.0) for i in range(DIM)]
        ray_hist.append(sum(a * b for a, b in zip(v, w)))
        nrm = math.sqrt(sum(x * x for x in w))
        if nrm == 0:
            break
        v = [x / nrm for x in w]
    return v, ray_hist


# --- Incremental embedding dedup (new batch vs stored ANN index) -----------

EMB_INCR_MOD = 5  # vec_id % 5 == 0 models the "new crawl" batch


@register(
    "llm_dedup_embedding_incremental",
    sql=f"""
    WITH {_EMB_CAND_CTES},
    pairs AS (
      SELECT vec_a, vec_b FROM cand
      WHERE (vec_a % {EMB_INCR_MOD} = 0) <> (vec_b % {EMB_INCR_MOD} = 0)),
    norm AS (
      SELECT CASE WHEN vec_a % {EMB_INCR_MOD} = 0 THEN vec_a ELSE vec_b END AS batch_vec,
             CASE WHEN vec_a % {EMB_INCR_MOD} = 0 THEN vec_b ELSE vec_a END AS index_vec
      FROM pairs),
    scored AS (
      SELECT n.batch_vec, n.index_vec,
             {_sql_cos("a.embedding", "b.embedding")} AS cosine
      FROM norm n
      JOIN embeddings a ON a.vec_id = n.batch_vec
      JOIN embeddings b ON b.vec_id = n.index_vec),
    best AS (
      SELECT batch_vec, index_vec, cosine,
             ROW_NUMBER() OVER (PARTITION BY batch_vec
                                ORDER BY cosine DESC, index_vec) AS rn
      FROM scored WHERE cosine IS NOT NULL)
    SELECT batch_vec, index_vec AS matched_index_vec, cosine,
           cosine >= {EMB_DUP_THRESHOLD} AS is_dup
    FROM best WHERE rn = 1
    """,
    doc="Incremental embedding dedup: new-batch vectors probe the stored "
    "sign-LSH band index, exact cosine on batch-vs-index candidates only, "
    "best index match per batch vector — the ANN-side daily-crawl pattern",
)
def llm_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN mirror of llm_dedup_incremental: the historical corpus
    keeps the PERSISTED sign-LSH band index (operators/ann_index.py
    lifecycle); a new batch computes signatures for its vectors only
    and probes the stored buckets, so cost scales with the batch,
    never the corpus. The split is modeled as vec_id % 5 == 0; the
    shared capped candidate stage plays the stored index, restricted
    to batch-vs-index pairs. Best match per batch vector is an
    explicit row_number argmax (cosine DESC, index_vec) — the
    tie-deterministic form; zero-norm probes (NULL cosine) drop before
    ranking on both engines. The ladder + hot-bucket cap stay ON: a
    saturated historical bucket would otherwise bill every new crawl
    for its fan-out."""
    e = load_table(spark, sf_dir, "embeddings")
    cand = _sign_lsh_candidates(spark, e, sf_dir)
    is_batch = lambda c: c % EMB_INCR_MOD == 0  # noqa: E731
    norm = cand.filter(is_batch(F.col("vec_a")) != is_batch(F.col("vec_b"))).select(
        F.when(is_batch(F.col("vec_a")), F.col("vec_a")).otherwise(F.col("vec_b")).alias("batch_vec"),
        F.when(is_batch(F.col("vec_a")), F.col("vec_b")).otherwise(F.col("vec_a")).alias("index_vec"),
    )
    a = e.select(F.col("vec_id").alias("batch_vec"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("index_vec"), F.col("embedding").alias("eb"))
    from pyspark.sql.window import Window as W

    scored = (
        norm.join(a, "batch_vec")
        .join(b, "index_vec")
        .select("batch_vec", "index_vec", cosine("ea", "eb").alias("cosine"))
        .filter(F.col("cosine").isNotNull())
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("batch_vec").orderBy(F.col("cosine").desc(), "index_vec")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "batch_vec",
            F.col("index_vec").alias("matched_index_vec"),
            "cosine",
            (F.col("cosine") >= EMB_DUP_THRESHOLD).alias("is_dup"),
        )
    )


# --- Cap-loss ledgers for the round-4 caps ---------------------------------


@register(
    "llm_dedup_embedding_cap_loss",
    sql=f"""
    WITH sigs AS (
      SELECT vec_id, {_SIGNS_SQL} AS signs FROM embeddings),
    nbits AS (
      SELECT {_BITS_LADDER_SQL} AS bits
      FROM (SELECT COUNT(*) AS n FROM embeddings)),
    {_bands_cte()},
    buckets AS (
      SELECT band, sig, COUNT(*) AS n FROM bands GROUP BY band, sig)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n > {EMB_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_dropped,
           CAST(SUM(CASE WHEN n > {EMB_MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT) AS n_vecs_dropped,
           CAST(SUM(CASE WHEN n > {EMB_MAX_BUCKET} THEN n * (CAST(n AS BIGINT) - 1) // 2 ELSE 0 END) AS BIGINT) AS n_pairs_dropped
    FROM buckets GROUP BY band
    """,
    doc=f"Per-band sign-LSH hot-bucket-cap accounting at the active ladder "
    f"rung: buckets over EMB_MAX_BUCKET={EMB_MAX_BUCKET}, the vector mass "
    "inside them, and the candidate pairs excised — the embedding mirror of "
    "llm_dedup_lsh_cap_loss",
)
def llm_dedup_embedding_cap_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH cap's ledger, priced at the CURRENT ladder rung
    (the same prefix the candidate stage keys on — a ledger at the
    stored 16-bit width would claim losses the 8-bit rung never
    takes). Σ n·(n−1)/2 over dropped buckets is the fan-out the cap
    saved; n_vecs_dropped is the mass that belongs to exact/byte dedup
    upstream. One groupBy over the shared persisted band index —
    bucket counts only, no pair join."""
    e = load_table(spark, sf_dir, "embeddings")
    pb = _prefix_bands(spark, e, sf_dir)
    b = pb.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    dropped = F.col("n") > EMB_MAX_BUCKET
    return b.groupBy(F.col("band").cast("bigint").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_buckets_dropped"),
        F.sum(F.when(dropped, F.col("n")).otherwise(0)).cast("bigint").alias("n_vecs_dropped"),
        F.sum(F.when(dropped, F.expr("n * (CAST(n AS BIGINT) - 1) DIV 2")).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_dropped"),
    )


@register(
    "llm_semdedup_cap_loss",
    sql=f"""
    WITH seeds AS (
      SELECT vec_id AS cluster_id, embedding AS ce
      FROM embeddings ORDER BY vec_id LIMIT {SEMDEDUP_K}),
    d AS (
      SELECT e.vec_id, s.cluster_id,
             {_sql_sqdist("e.embedding", "s.ce")} AS d2
      FROM embeddings e CROSS JOIN seeds s),
    a AS (
      SELECT vec_id, cluster_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster_id) AS rn FROM d) t
      WHERE rn = 1),
    sizes AS (SELECT cluster_id, COUNT(*) AS n FROM a GROUP BY cluster_id)
    SELECT cluster_id, CAST(n AS BIGINT) AS n_members,
           CAST(LEAST(n, {SEM_MAX_CLUSTER}) AS BIGINT) AS n_in_pair_stage,
           CAST(GREATEST(n - {SEM_MAX_CLUSTER}, 0) AS BIGINT) AS n_excluded,
           CAST(n * (CAST(n AS BIGINT) - 1) // 2
                - LEAST(n, {SEM_MAX_CLUSTER}) * (CAST(LEAST(n, {SEM_MAX_CLUSTER}) AS BIGINT) - 1) // 2
                AS BIGINT) AS n_pairs_saved
    FROM sizes
    """,
    doc=f"Per-cluster SemDeDup cap accounting: members vs the "
    f"SEM_MAX_CLUSTER={SEM_MAX_CLUSTER} pair-stage window, excluded tail, "
    "and the pairwise work the cap saved — the SemDeDup mirror of the "
    "LSH cap ledgers",
)
def llm_semdedup_cap_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the per-cluster cap costs and saves, per cluster: the
    excluded tail (farthest-from-seed members — production re-clusters
    with a larger K when this column grows) and the avoided pair
    fan-out n·(n−1)/2 − cap·(cap−1)/2. Same driver-inlined seed
    assignment as the dedup itself (map-only), then one K-row count —
    the audit is strictly cheaper than the op it audits."""
    e = load_table(spark, sf_dir, "embeddings")
    seed_rows = e.orderBy("vec_id").limit(SEMDEDUP_K).select("vec_id", "embedding").collect()

    terms = ", ".join(
        f"struct({_spark_sqdist('embedding', _double_array(r['embedding']))} AS d2, "
        f"CAST({int(r['vec_id'])} AS BIGINT) AS cluster_id)"
        for r in seed_rows
    )
    sizes = (
        e.select(F.expr(f"array_min(array({terms})).cluster_id").alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = F.col("n")
    kept = F.least(n, F.lit(SEM_MAX_CLUSTER))
    # integer DIV, not float /: n*(n-1)/2 through a double silently
    # loses exactness past 2^53 (clusters of ~10^8 at corpus scale)
    return sizes.select(
        "cluster_id",
        n.cast("bigint").alias("n_members"),
        kept.cast("bigint").alias("n_in_pair_stage"),
        F.greatest(n - SEM_MAX_CLUSTER, F.lit(0)).cast("bigint").alias("n_excluded"),
        F.expr(
            f"CAST(n * (CAST(n AS BIGINT) - 1) DIV 2"
            f" - LEAST(n, {SEM_MAX_CLUSTER}) * (CAST(LEAST(n, {SEM_MAX_CLUSTER}) AS BIGINT) - 1) DIV 2"
            " AS BIGINT)"
        ).alias("n_pairs_saved"),
    )


# --- IVF index-quality audit ---------------------------------------------
# The ANN mirror of llm_dedup_lsh_recall: before trusting a pruned
# probe path at 100 TB you measure recall@k against exact brute-force
# truth on a query sample. NQ queries is the SAMPLE — at production
# scale the panel is drawn per index build, the corpus side unchanged.
IVF_NQ = 16  # query panel: vec_id < IVF_NQ
IVF_NPROBE = 2  # cells scanned per query (same as llm_simsearch_ivf)

_CENTDIM_SQL = f"""
    idx AS (SELECT UNNEST(range(1, {DIM + 1})) AS i),
    centdim AS (
      SELECT e.label, idx.i AS i,
             list_reduce(list(CAST(e.embedding[idx.i] AS DOUBLE) ORDER BY e.vec_id), (a, b) -> a + b)
               / COUNT(*) AS c
      FROM embeddings e CROSS JOIN idx
      GROUP BY e.label, idx.i),
    cent AS (
      SELECT label, list(c ORDER BY i) AS cemb FROM centdim GROUP BY label)"""


@register(
    "llm_simsearch_ivf_recall",
    sql=f"""
    WITH qs AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {IVF_NQ}),
    {_CENTDIM_SQL.strip()},
    probes AS (
      SELECT qid, label FROM (
        SELECT qs.qid, cent.label,
               ROW_NUMBER() OVER (PARTITION BY qs.qid
                 ORDER BY {_sql_cos("cent.cemb", "qs.qe")} DESC, cent.label) AS rn
        FROM cent CROSS JOIN qs) t WHERE rn <= {IVF_NPROBE}),
    scored AS (
      SELECT qs.qid, e.vec_id, e.label,
             {_sql_cos("e.embedding", "qs.qe")} AS cosine
      FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qs.qid),
    exact_topk AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
        FROM scored) t WHERE rn <= {TOP_K}),
    ivf_topk AS (
      SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.cosine DESC, s.vec_id) AS rn
        FROM scored s JOIN probes p ON p.qid = s.qid AND p.label = s.label) t
      WHERE rn <= {TOP_K}),
    counts AS (
      SELECT (SELECT COUNT(*) FROM exact_topk) AS n_true,
             (SELECT COUNT(*) FROM ivf_topk) AS n_ivf,
             (SELECT COUNT(*) FROM exact_topk x JOIN ivf_topk v
                ON v.qid = x.qid AND v.vec_id = x.vec_id) AS n_found)
    SELECT CAST({IVF_NQ} AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST({IVF_NPROBE} AS BIGINT) AS n_probe,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_ivf AS BIGINT) AS n_ivf,
           CAST(n_found AS BIGINT) AS n_found,
           CAST(n_found AS DOUBLE) / NULLIF(n_true, 0) AS recall_at_k
    FROM counts
    """,
    doc=f"IVF index-quality audit: recall@{TOP_K} of the nprobe={IVF_NPROBE} "
    f"probe path against exact brute-force truth over a {IVF_NQ}-query panel "
    "— the companion honesty metric to llm_dedup_lsh_recall, for the ANN side",
)
def llm_simsearch_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit for the IVF probe path (the ANN honesty metric —
    cell pruning trades recall for scan cost, and the trade must be
    PRICED before production, exactly as llm_dedup_lsh_recall prices
    the MinHash bands and llm_dedup_embedding_cap_loss prices the
    sign-LSH cap). Truth is brute-force top-k per query — affordable
    because the query panel is a bounded SAMPLE (IVF_NQ broadcast
    rows): one corpus scan scores all panel queries (corpus x NQ rows,
    linear in the corpus), ranked per query. The IVF side reuses the
    persisted centroid index (ivf_centroids — build once, probe many)
    and ranks the SAME scored stream restricted to each query's
    nprobe cells, so a recall gap isolates cell pruning specifically,
    not scoring differences. Single-row output: panel size, k, nprobe,
    |truth|, |ivf|, |hits|, recall@k. The per-query rank partitions
    (NQ of them) are the audit's intentional shape — at production
    scale the panel stays O(100) while the corpus side is the same
    scan every probe query already does."""
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < IVF_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", cosine("embedding", "qe").alias("cosine"))
        .localCheckpoint(eager=False)  # two rank consumers: exact + ivf
    )
    # two-stage heads (ranks.grouped_head, r5): the per-qid rank over
    # the truth scan is corpus x panel rows funneled into |panel|
    # tasks by a PARTITION BY qid window — local top-k per input
    # partition first, exact rank over the bounded survivors after
    from nova_pulsar_spark.operators.ranks import grouped_head

    head_order = [F.col("cosine").desc(), F.col("vec_id")]
    exact_topk = grouped_head(scored, ["qid"], head_order, TOP_K).select("qid", "vec_id")
    cent = ivf_centroids(spark, sf_dir)
    probes = (
        cent.crossJoin(F.broadcast(qs))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(cosine("cemb", "qe").desc(), F.col("label"))
            ),
        )
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("qid", "label")
    )
    ivf_topk = grouped_head(
        scored.join(F.broadcast(probes), ["qid", "label"]), ["qid"], head_order, TOP_K
    ).select("qid", "vec_id")
    exact_topk = exact_topk.localCheckpoint(eager=False)  # count + semijoin
    ivf_topk = ivf_topk.localCheckpoint(eager=False)
    n_true = exact_topk.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_ivf = ivf_topk.agg(F.count(F.lit(1)).cast("bigint").alias("n_ivf"))
    n_found = (
        exact_topk.join(ivf_topk, ["qid", "vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
    )
    return (
        n_true.crossJoin(F.broadcast(n_ivf))
        .crossJoin(F.broadcast(n_found))
        .select(
            F.lit(IVF_NQ).cast("bigint").alias("n_queries"),
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.lit(IVF_NPROBE).cast("bigint").alias("n_probe"),
            "n_true",
            "n_ivf",
            "n_found",
            (F.col("n_found").cast("double") / F.nullif(F.col("n_true"), F.lit(0))).alias(
                "recall_at_k"
            ),
        )
    )


@register(
    "llm_simsearch_pq_distortion",
    sql=f"""
    WITH seeds AS (
      SELECT embedding AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS kidx
      FROM embeddings ORDER BY vec_id LIMIT {PQ_K}),
    ms AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
    d AS (
      SELECT e.vec_id, ms.m, s.kidx,
             {_sql_sub_sqdist("e.embedding", "s.ce", "ms.m")} AS d2
      FROM embeddings e CROSS JOIN ms CROSS JOIN seeds s),
    best AS (
      SELECT vec_id, m, MIN(d2) AS d2min FROM d GROUP BY vec_id, m),
    pv AS (
      SELECT vec_id, list_reduce(list(d2min ORDER BY m), (x, y) -> x + y) AS dist
      FROM best GROUP BY vec_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST({PQ_M} AS BIGINT) AS m_subspaces,
           CAST({PQ_K} AS BIGINT) AS k_entries,
           CAST(SUM(CAST(FLOOR(dist * 1048576) AS DECIMAL(38,0))) AS DOUBLE)
             / COUNT(*) / 1048576 AS mean_sqerr,
           MAX(dist) AS max_sqerr
    FROM pv
    """,
    doc=f"PQ codebook-quality audit: mean/max squared reconstruction error "
    f"of the {PQ_M}x{PQ_K} codebook over the whole corpus — prices the "
    "compression loss the way llm_simsearch_ivf_recall prices cell pruning",
)
def llm_simsearch_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression honesty metric: PQ stores M small codes per
    vector, and what that costs is the squared distance between each
    vector and its reconstruction (nearest centroid per subspace) —
    quantization distortion, the number a codebook must report before
    ADC scores can be trusted (it is exactly the additive bias of an
    ADC distance). One map-only pass: the codebook is a driver-side
    literal (the persisted ann_index artifact), per-subspace min-d2 is
    an `array_min` over K inlined struct terms inside codegen — no
    join, no shuffle beyond the final 1-row aggregate, the same
    zero-shuffle shape as llm_simsearch_pq encode. Corpus-sized float
    sum -> the 2^-20 fixed-point idiom (floor + DECIMAL(38,0)), so
    the mean is partition- and engine-exact; MAX over identically
    derived doubles is order-free. Query-independent by design
    (unlike the per-query ADC-vs-true gap): this audits the INDEX
    artifact itself — recompute per codebook build, alarm on drift."""
    e = load_table(spark, sf_dir, "embeddings")
    books = pq_codebook(spark, sf_dir)

    dist = None
    for m in range(PQ_M):
        sub = f"slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB})"
        terms = ", ".join(
            f"struct({_spark_sqdist(sub, _double_array(books[m][k]))} AS d2, {k} AS kidx)"
            for k in range(PQ_K)
        )
        dm = F.expr(f"array_min(array({terms})).d2")
        dist = dm if dist is None else dist + dm
    pv = e.select("vec_id", dist.alias("dist"))
    return pv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.lit(PQ_M).cast("bigint").alias("m_subspaces"),
        F.lit(PQ_K).cast("bigint").alias("k_entries"),
        (
            F.sum(F.floor(F.col("dist") * 1048576).cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 1048576
        ).alias("mean_sqerr"),
        F.max("dist").alias("max_sqerr"),
    )


# --- Streaming-ingest claim-rung -> stored-index re-key --------------------

# Fixed claim rung for the STREAMING ingest path
# (streaming/ingest_dedup.py): a stream cannot know the final corpus
# size, so buckets are claimed at the ladder's base width; the batch
# compaction below folds stream claims onto the stored full-width
# index keys.
EMB_STREAM_BITS = 8


@register(
    "llm_ingest_rekey",
    sql=f"""
    WITH sigs AS (
      SELECT vec_id, {_SIGNS_SQL} AS signs FROM embeddings),
    k AS (
      SELECT vec_id, b.b AS band,
             substr(signs, b.b * {BAND_BITS} + 1, {EMB_STREAM_BITS}) AS sig_claim,
             substr(signs, b.b * {BAND_BITS} + 1, {BAND_BITS}) AS sig
      FROM sigs CROSS JOIN (SELECT UNNEST(range(0, {N_BANDS})) AS b) b),
    o8 AS (
      SELECT band, sig_claim, MIN(vec_id) AS owner_stream
      FROM k GROUP BY band, sig_claim),
    fullb AS (
      SELECT band, sig_claim, sig, MIN(vec_id) AS owner_index,
             CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM k GROUP BY band, sig_claim, sig)
    SELECT f.band, f.sig_claim, f.sig, f.n_vecs,
           o.owner_stream, f.owner_index,
           f.owner_index <> o.owner_stream AS owner_split
    FROM fullb f JOIN o8 o USING (band, sig_claim)
    """,
    doc=f"Batch compaction of streaming-ingest claim buckets ({EMB_STREAM_BITS}-bit "
    f"rung) onto the stored full-width ({BAND_BITS}-bit) sign-LSH index keys, "
    "with the per-bucket owner handoff made explicit",
)
def llm_ingest_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision-recovery path named by the round-5 streaming soak
    (STATE_SOAK_r05: the stream claim rung saturates at
    bands x 2^EMB_STREAM_BITS buckets): streaming ingest claims sign-LSH
    buckets at a FIXED base rung because a stream cannot know final
    corpus size; the batch compaction job re-keys those claims onto the
    persisted index's FULL band width (operators/ann_index store,
    `sign_bands` kind). Probe-time ladder truncation operates on the
    stored width, so folding to full width subsumes every rung the
    ladder later picks — no re-indexing when the corpus crosses a
    decade. One row per (claim bucket, stored bucket): `owner_split`
    marks stored buckets whose owner differs from the stream-rung
    owner — exactly the vectors the coarse rung shadowed (claimed as
    collisions) that the compaction promotes back to distinct owners,
    i.e. the precision the re-key recovers (measured before/after in
    tools/state_soak.py).

    Plan shape: one scan of the persisted band index (full-width sigs
    are STORED — the claim key is a prefix, so re-keying is a
    substring, not a signature recompute), two map-side-combinable
    groupBys, and a broadcast join of the claim-rung owner table
    (bounded by bands x 2^{EMB_STREAM_BITS} rows — the saturation
    ceiling itself) back onto stored buckets. Nothing here is
    pairwise; every stage is linear in the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    bands = _sign_bands(spark, e, sf_dir)  # store-read: full-width sigs
    k = bands.select(
        "vec_id",
        "band",
        F.substring(F.col("sig"), 1, EMB_STREAM_BITS).alias("sig_claim"),
        "sig",
    )
    o8 = k.groupBy("band", "sig_claim").agg(F.min("vec_id").alias("owner_stream"))
    fullb = k.groupBy("band", "sig_claim", "sig").agg(
        F.min("vec_id").alias("owner_index"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
    )
    return fullb.join(F.broadcast(o8), ["band", "sig_claim"]).select(
        "band",
        "sig_claim",
        "sig",
        "n_vecs",
        "owner_stream",
        "owner_index",
        (F.col("owner_index") != F.col("owner_stream")).alias("owner_split"),
    )


# --- Sign-LSH recall ledger (the rung-trade price tag) ---------------------

RECALL_ANCHOR_MOD = 10  # floor modulus: vec_id % mod == 0 anchor sample
# Anchor BUDGET (ADVICE r6): the modulus scales with the corpus so the
# anchor count is truly bounded (~ANCHOR_BUDGET rows) instead of n/10.
# 200 puts the floor-to-budget handover exactly AT the sf0.1 corpus
# (2000 vecs x floor 10 = 200 anchors), so driver-SF results are
# bit-identical to the fixed modulus the ledger shipped with AND every
# decade past sf0.1 does the same ~200 x n cosine folds per 10x data —
# linear from the first scaled decade, no transition bump (a 1000
# budget left anchors growing n/10 until 10k vecs; SCALING2 flagged
# the resulting one-time 80x step at the 2k->20k decade).
ANCHOR_BUDGET = 200
EMB_STRONG_THRESHOLD = 0.9  # "strong" near-dup tier for the s-curve view


def _anchor_mod(n: int) -> int:
    """Python twin of ``_ANCHOR_MOD_SQL`` (kept textually adjacent so
    they cannot drift): mod = max(floor, ceil(n / budget)), giving at
    most ~ANCHOR_BUDGET anchors at any corpus size. ceil via negated
    floordiv — exact integer arithmetic, no float rounding."""
    return max(RECALL_ANCHOR_MOD, -(-n // ANCHOR_BUDGET))


# DuckDB twin: CEIL over COUNT(*)/budget is exact in double up to 2^53
# rows, far past any corpus this ledger audits.
_ANCHOR_MOD_SQL = (
    f"(SELECT GREATEST({RECALL_ANCHOR_MOD}, "
    f"CAST(CEIL(COUNT(*) / {ANCHOR_BUDGET}.0) AS BIGINT)) FROM embeddings)"
)


@register(
    "llm_dedup_embedding_recall",
    sql=f"""
    WITH {_EMB_CAND_CTES},
    anchors AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_ANCHOR_MOD_SQL} = 0),
    truth AS (
      SELECT LEAST(a.vec_id, e.vec_id) AS lo,
             GREATEST(a.vec_id, e.vec_id) AS hi,
             MAX(CASE WHEN {_sql_cos("a.embedding", "e.embedding")}
                          >= {EMB_STRONG_THRESHOLD} THEN 1 ELSE 0 END) AS strong
      FROM anchors a JOIN embeddings e ON e.vec_id <> a.vec_id
      WHERE {_sql_cos("a.embedding", "e.embedding")} >= {EMB_DUP_THRESHOLD}
      GROUP BY 1, 2),
    hit AS (
      SELECT t.lo, t.hi, t.strong,
             CASE WHEN c.vec_a IS NULL THEN 0 ELSE 1 END AS got
      FROM truth t LEFT JOIN cand c ON c.vec_a = t.lo AND c.vec_b = t.hi)
    SELECT CAST((SELECT COUNT(*) FROM anchors) AS BIGINT) AS n_anchors,
           CAST({_ANCHOR_MOD_SQL} AS BIGINT) AS anchor_mod,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(got) AS BIGINT) AS n_hit,
           CAST(SUM(got) AS DOUBLE) / NULLIF(COUNT(*), 0) AS recall,
           CAST(SUM(strong) AS BIGINT) AS n_truth_strong,
           CAST(SUM(strong * got) AS BIGINT) AS n_hit_strong,
           CAST(SUM(strong * got) AS DOUBLE) / NULLIF(SUM(strong), 0)
             AS recall_strong
    FROM hit
    """,
    doc=f"Sign-LSH candidate recall vs the exact-cosine truth set over a "
    f"budgeted anchor sample (mod = max({RECALL_ANCHOR_MOD}, "
    f"ceil(n/{ANCHOR_BUDGET})), ~{ANCHOR_BUDGET} anchors at any corpus "
    f"size), tiered at the dup threshold and the strong "
    f"(≥{EMB_STRONG_THRESHOLD}) tier — the rung-trade price tag for the "
    "embedding banding ladder (mirrors llm_dedup_lsh_recall for text)",
)
def llm_dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ladder's recall ledger: every rung the prefix ladder climbs
    (8 → 12 → 16 → 24-bit paired slices) steepens the LSH s-curve and
    sheds borderline pairs; this query PRICES that by measuring, over
    a deterministic budgeted anchor sample, what fraction of true
    near-dup pairs (exact cosine ≥ threshold) the banded candidate
    stage at the ACTIVE rung still surfaces — TIERED, because banding
    recall is an s-curve: borderline pairs (cos just over the 0.40
    threshold, sign-agreement ~0.6) collide rarely by design, while
    strong near-dups (cos ≥ 0.9, agreement ≥ 0.97) collide almost
    surely. `recall` prices the borderline tier, `recall_strong` the
    tier dedup actually targets. Run beside
    `llm_dedup_embedding_cap_loss` (what the cap drops) it makes the
    precision/recall trade fully observable per corpus — the audit
    pair SCALE.md's fourth-decade note leans on.

    Scale shape (ADVICE r6): the anchor modulus is DERIVED from the
    memoized corpus count — mod = max(10, ceil(n/ANCHOR_BUDGET)) — so
    the anchor broadcast is a fixed ~ANCHOR_BUDGET rows at ANY corpus
    size (the handover from the floor modulus lands exactly at the
    sf0.1 corpus, so scaled decades never cross it mid-ladder) and
    the exact-cosine truth stage is one corpus scan against a
    constant-size broadcast: linear in the corpus, never O(n²/10).
    The candidate probe is a broadcast-able left join on the bounded
    truth pairs. `n_anchors`/`anchor_mod` report the realized sample
    size so recall estimates carry their own error bar. Recall is a
    ratio of two integers, one float division — bit-identical across
    engines."""
    e = load_table(spark, sf_dir, "embeddings")
    mod = _anchor_mod(_corpus_count(spark, e, sf_dir))
    # norms once per SIDE, not per pair (the llm_dedup_embedding_lsh
    # idiom): the anchor x corpus cosine then costs ONE fold per pair
    # instead of three (measured 9.5 s -> ~3 s at sf0.1)
    norm = F.sqrt(_fold_dot("embedding", "embedding"))
    anchors = e.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("av"), F.col("embedding").alias("ae"), norm.alias("na")
    )
    # r12: the corpus side carries the anchor x corpus exact-cosine fold
    # — the dominant cost — and the testdata scan is one row group = one
    # task; spread it first (fan_out no-ops when the scan splits itself).
    corpus = fan_out(spark, e, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm.alias("nb")
    )
    cos = F.when(
        F.col("na") * F.col("nb") != 0,
        _fold_dot("ae", "embedding") / (F.col("na") * F.col("nb")),
    )
    truth = (
        corpus.join(F.broadcast(anchors), F.col("vec_id") != F.col("av"))
        .select(
            F.least("av", "vec_id").alias("lo"),
            F.greatest("av", "vec_id").alias("hi"),
            cos.alias("c"),
        )
        .filter(F.col("c") >= EMB_DUP_THRESHOLD)
        .groupBy("lo", "hi")
        .agg(
            F.max(
                F.when(F.col("c") >= EMB_STRONG_THRESHOLD, 1).otherwise(0)
            ).alias("strong")
        )
    )
    cand = _sign_lsh_candidates(spark, e, sf_dir)
    hit = truth.join(
        cand,
        (F.col("vec_a") == F.col("lo")) & (F.col("vec_b") == F.col("hi")),
        "left",
    ).select(
        "strong", F.when(F.col("vec_a").isNull(), 0).otherwise(1).alias("got")
    )
    # r12: n_anchors rides the same job as a broadcast 1-row aggregate
    # (the SQL twin's scalar subquery) instead of a separate .count()
    # action — one Spark job per timed run instead of two.
    na = anchors.agg(F.count(F.lit(1)).cast("bigint").alias("n_anchors"))
    return (
        hit.agg(
            F.lit(mod).cast("bigint").alias("anchor_mod"),
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum("got").cast("bigint").alias("n_hit"),
            (
                F.sum("got").cast("double")
                / F.nullif(F.count(F.lit(1)), F.lit(0)).cast("double")
            ).alias("recall"),
            F.sum("strong").cast("bigint").alias("n_truth_strong"),
            F.sum(F.col("strong") * F.col("got")).cast("bigint").alias("n_hit_strong"),
            (
                F.sum(F.col("strong") * F.col("got")).cast("double")
                / F.nullif(F.sum("strong"), F.lit(0)).cast("double")
            ).alias("recall_strong"),
        )
        .crossJoin(F.broadcast(na))
        .select(
            "n_anchors",
            "anchor_mod",
            "n_truth",
            "n_hit",
            "recall",
            "n_truth_strong",
            "n_hit_strong",
            "recall_strong",
        )
    )
