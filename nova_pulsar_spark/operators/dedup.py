"""Deduplication operators for LLM training-data pipelines.

North-star layer (BASELINE.json): exact hash dedup, MinHash+LSH
near-dup, SimHash fingerprints, n-gram Jaccard — each over the
`documents` table, each with a DuckDB oracle twin.

Engine-parity hashing: both Spark and DuckDB compute identical
lowercase-hex ``md5``, so MinHash signatures (min of md5 over
shingles) and band signatures are bit-identical across engines —
this is what makes probabilistic dedup oracle-checkable exactly.

Scale notes (the 100 TB story):
- exact dedup: hash-groupBy on md5(text) — map-side combinable,
  shuffles 16-byte keys, not documents;
- MinHash LSH: cost is (docs × shingles × seeds) map work then a
  shuffle on (band, signature) — candidates join only within
  buckets, never all-pairs. Hot buckets (boilerplate text) are the
  skew risk → AQE skew-join plus a bucket-size cap in production;
- SimHash: one pass to 16-bit signatures, near-dup candidates via
  signature equality or small-radius blocking;
- n-gram Jaccard here verifies pairs within a blocking key (lang) —
  the exact-verify stage that follows LSH candidate generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nova_pulsar_spark.fixpoint import MAX_CC_ITERS, min_label_components
from nova_pulsar_spark.registry import register
from nova_pulsar_spark.sources.tables import load_table

N_SEEDS = 8  # minhash signature length
N_BANDS = 4  # LSH bands (2 rows per band)

# Hot-bucket cap — ACTIVE in the production dedup DAG (near/verify/
# clusters). A band bucket of n docs yields n·(n−1)/2 candidate pairs;
# one boilerplate bucket of 10⁵ docs alone produces 5×10⁹ pairs, the
# canonical LSH scale-killer at 100 TB. Buckets larger than this are
# dropped from candidate generation (documented recall trade: such
# buckets are templated boilerplate better handled by exact dedup
# upstream). 64 at test SF; tune per corpus in production.
MAX_BUCKET = 64


def _words(col):
    return F.split(col, " ")


def _shingles_expr():
    """3-word shingle array from a pre-split `ws` column (distinct).

    Expects the caller to project ``split(text, ' ') AS ws`` first:
    Catalyst does not CSE a split() inside transform() lambdas, so
    inlining it re-tokenizes the document per shingle (~9× slower).
    """
    # Degenerate docs (NULL text or < 3 words) have NO 3-word shingles
    # and must vanish from the shingle index on BOTH engines — they are
    # the exact-dedup tier's job. The DuckDB twins get this for free
    # (the out-of-range subscript makes the lone shingle NULL and
    # list_distinct drops NULLs); Spark's concat_ws would instead emit
    # a phantom short shingle, which pair-joins hid (singleton buckets)
    # but bucket-level audits like llm_dedup_lsh_cap_loss expose — so
    # emit an empty array explicitly (r4 fix).
    return F.expr(
        "CASE WHEN ws IS NULL OR size(ws) < 3 THEN CAST(array() AS ARRAY<STRING>) ELSE "
        "array_distinct(transform(sequence(1, size(ws) - 2), "
        "i -> concat_ws(' ', slice(ws, i, 3)))) END"
    )


SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 2)), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))"
)


@register(
    "llm_dedup_exact",
    sql="""
    SELECT
      md5(text) AS text_hash,
      COUNT(*) AS n_copies,
      MIN(doc_id) AS keeper_id
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy, keep lowest doc_id (scales as a 16-byte-key shuffle)",
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_id")
    )


def minhash_signatures(docs: DataFrame, n_seeds: int = N_SEEDS) -> DataFrame:
    """(doc_id, seed, mh): 8 min-hash functions from TWO md5 digests.

    Each shingle is hashed twice (md5(s), md5('#'+s)); seed k uses the
    16-hex-char slice starting at 4k+1 of digest k//4. Slices of a
    strong hash are themselves uniform hash functions, so the min over
    shingles per slice is a valid min-hash — at 4× fewer digest
    computations than hashing per-seed (the dominant cost at 100 TB).
    Lexicographic min over hex is order-isomorphic to numeric min.
    """
    shingled = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws")).select(
        "doc_id",
        F.explode(_shingles_expr()).alias("shingle"),
    ).select(
        "doc_id",
        F.md5(F.col("shingle").cast("binary")).alias("h0"),
        F.md5(F.concat(F.lit("#"), F.col("shingle")).cast("binary")).alias("h1"),
    )
    # All 8 mins in ONE aggregation pass (no seed×rows blowup), then
    # unpivot the 8 columns to (seed, mh) rows — the shuffle carries
    # one row per doc instead of one per (doc, seed, shingle).
    mins = shingled.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col("h0") if s < 4 else F.col("h1"), (s % 4) * 4 + 1, 16)).alias(f"m{s}")
            for s in range(n_seeds)
        ]
    )
    stack_args = ", ".join(f"{s}, m{s}" for s in range(n_seeds))
    return mins.selectExpr("doc_id", f"stack({n_seeds}, {stack_args}) AS (seed, mh)").select(
        "doc_id", F.col("seed").cast("int").alias("seed"), "mh"
    )


_MIN_COLS = ", ".join(
    f"MIN(substring({'h0' if s < 4 else 'h1'}, {(s % 4) * 4 + 1}, 16)) AS m{s}" for s in range(N_SEEDS)
)
_UNPIVOT_SELECTS = "\n    UNION ALL\n    ".join(
    f"SELECT doc_id, {s} AS seed, m{s} AS mh FROM mins" for s in range(N_SEEDS)
)
MINHASH_SQL_CTES = (
    f"shingled AS (SELECT doc_id, md5(shingle) AS h0, md5('#' || shingle) AS h1 "
    f"FROM (SELECT doc_id, UNNEST({SHINGLES_SQL}) AS shingle FROM documents))",
    f"mins AS (SELECT doc_id, {_MIN_COLS} FROM shingled GROUP BY doc_id)",
    f"""mh AS (
    {_UNPIVOT_SELECTS})""",
    """bands AS (
    SELECT doc_id, seed // 2 AS band,
           MIN(CASE WHEN seed % 2 = 0 THEN mh END) || MIN(CASE WHEN seed % 2 = 1 THEN mh END) AS sig
    FROM mh GROUP BY doc_id, seed // 2)""",
    # Hot-bucket cap: same HAVING filter as lsh_candidates(max_bucket).
    f"""ok AS (
    SELECT band, sig FROM bands GROUP BY band, sig HAVING COUNT(*) <= {MAX_BUCKET})""",
    """cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN ok ON ok.band = a.band AND ok.sig = a.sig
    JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""",
)


def band_sigs(mh: DataFrame) -> DataFrame:
    """(doc_id, band, sig): each doc's full-band signature — the LSH
    bucket key. Shared by candidate generation and the cap-loss audit."""
    return mh.groupBy("doc_id", (F.col("seed") / 2).cast("int").alias("band")).agg(
        F.concat(
            F.min(F.when(F.col("seed") % 2 == 0, F.col("mh"))),
            F.min(F.when(F.col("seed") % 2 == 1, F.col("mh"))),
        ).alias("sig")
    )


def lsh_candidates(mh: DataFrame, max_bucket: int | None = MAX_BUCKET) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b) from (doc_id, seed, mh)
    signatures — the bucket self-join that replaces all-pairs: only
    documents agreeing on a full band signature ever meet.

    ``max_bucket`` is the hot-bucket cap (the LSH skew mitigation for
    100 TB corpora): a band bucket holding n docs yields n·(n−1)/2
    pairs, so one boilerplate bucket of 10⁵ docs alone produces 5×10⁹
    pairs. Buckets larger than the cap are dropped from candidate
    generation — a documented recall trade (their members are typically
    templated boilerplate better handled by exact dedup upstream).
    Default ON (``MAX_BUCKET``); pass ``None`` to disable.
    """
    bands = band_sigs(mh)
    if max_bucket is not None:
        ok = (
            bands.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket)
            .select("band", "sig")
        )
        bands = bands.join(ok, ["band", "sig"], "left_semi")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared candidate-generation stage of the dedup DAG,
    MATERIALIZED through the fingerprint-keyed index store
    (`operators/ann_index.py`): ``(mh, cand, ws)`` where

    - ``mh``   = minhash signatures (doc_id, seed, mh),
    - ``cand`` = banded-LSH candidate pairs with the hot-bucket cap ON,
    - ``ws``   = (doc_id, lang, words) word sets ONLY for docs appearing
      in a candidate pair (semi-join — the corpus never reaches the
      pair join).

    `llm_dedup_near`, `llm_dedup_verify`, `llm_dedup_ngram_jaccard` and
    `llm_dedup_clusters` all consume this stage, mirroring the
    production DAG where candidates are materialized once and every
    downstream verify/cluster/report stage reads the materialization
    instead of re-deriving signatures per query. Each frame
    round-trips through ``spark-warehouse/ann_index/dedup_{mh,cand,ws}/``
    keyed by the DOCUMENTS fingerprint, so a rewritten corpus is
    rebuilt, never read stale.

    The memoized value holds EAGER localCheckpoints of the three store
    reads: in-session fan-out consumers then read the block manager,
    not parquet, per branch (keep_best alone reads cand+ws twice each;
    measured +0.18 s/query at sf0.1 without them)."""
    from nova_pulsar_spark.operators.ann_index import load_or_build, memo

    def make() -> tuple[DataFrame, DataFrame, DataFrame]:
        d = load_table(spark, sf_dir, "documents")
        mh = load_or_build(spark, sf_dir, "dedup_mh", lambda: minhash_signatures(d))
        cand = load_or_build(spark, sf_dir, "dedup_cand", lambda: lsh_candidates(mh))

        def build_ws() -> DataFrame:
            needed = (
                cand.select(F.col("doc_a").alias("doc_id"))
                .union(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            return d.join(needed, "doc_id", "left_semi").select(
                "doc_id", "lang", F.array_distinct(_words(F.col("text"))).alias("words")
            )

        ws = load_or_build(spark, sf_dir, "dedup_ws", build_ws)
        return mh.localCheckpoint(), cand.localCheckpoint(), ws.localCheckpoint()

    return memo(spark, sf_dir, "dedup_candidates", make)


def _pair_jaccard(cand: DataFrame, ws: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact word-set Jaccard evaluated ONLY on
    candidate pairs. Staged projections: the array_intersect (the
    expensive per-pair op) is evaluated once, then jaccard derives from
    named columns instead of re-running the set intersection."""
    a, b = ws.alias("a"), ws.alias("b")
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    return (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            inter.alias("ninter"),
            (F.size(F.col("a.words")) + F.size(F.col("b.words"))).alias("nsum"),
        )
        .select(
            "doc_a",
            "doc_b",
            "lang_a",
            "lang_b",
            (F.col("ninter").cast("double") / (F.col("nsum") - F.col("ninter"))).alias("jaccard"),
        )
    )


@register(
    "llm_dedup_near",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + """
    SELECT c.doc_a, c.doc_b,
           CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est_jaccard
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_a
    JOIN mh mb ON mb.doc_id = c.doc_b AND ma.seed = mb.seed
    GROUP BY c.doc_a, c.doc_b
    """,
    doc="MinHash+LSH near-dup: shingle→minhash→band→bucket-join→estimate (never all-pairs)",
)
def llm_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    mh, cand, _ = dedup_candidates(spark, sf_dir)
    ma, mb = mh.alias("ma"), mh.alias("mb")
    return (
        cand.join(ma, F.col("ma.doc_id") == F.col("doc_a"))
        .join(mb, (F.col("mb.doc_id") == F.col("doc_b")) & (F.col("ma.seed") == F.col("mb.seed")))
        .groupBy("doc_a", "doc_b")
        .agg(
            (
                F.sum(F.when(F.col("ma.mh") == F.col("mb.mh"), 1).otherwise(0)).cast("double")
                / N_SEEDS
            ).alias("est_jaccard")
        )
    )


@register(
    "llm_dedup_verify",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + """,
    ws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand))
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) AS jaccard,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.8 AS is_dup
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
    """,
    doc="LSH→verify pipeline: exact Jaccard computed ONLY on MinHash-LSH candidate "
    "pairs (the production dedup DAG; SURVEY §7.3.5)",
)
def llm_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DAG: candidate generation is banded LSH with
    the hot-bucket cap active (never all-pairs), the exact-Jaccard
    verify stage then runs only on those candidates. At 100 TB the
    verify join touches |cand| pairs — word sets are materialized only
    for docs that appear in a candidate pair (semi-join inside
    ``dedup_candidates``), so the expensive array intersection never
    sees the full corpus. The candidate stage is shared (cached) with
    `llm_dedup_clusters`/`llm_dedup_ngram_jaccard`.
    """
    _, cand, ws = dedup_candidates(spark, sf_dir)
    return _pair_jaccard(cand, ws).select(
        "doc_a", "doc_b", "jaccard", (F.col("jaccard") >= 0.8).alias("is_dup")
    )



@register(
    "llm_minhash_jaccard_est",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + """,
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE) / """
    + str(N_SEEDS)
    + """ AS est_jaccard
      FROM cand c
      JOIN mh x ON x.doc_id = c.doc_a
      JOIN mh y ON y.doc_id = c.doc_b AND y.seed = x.seed
      GROUP BY c.doc_a, c.doc_b),
    ws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand))
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) AS jaccard,
           ABS(e.est_jaccard
               - CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                 / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)))) AS abs_err
    FROM est e
    JOIN ws a ON a.doc_id = e.doc_a
    JOIN ws b ON b.doc_id = e.doc_b
    """,
    doc=f"MinHash estimator audit: per candidate pair, the signature-agreement "
    f"Jaccard estimate (agreeing seeds / {N_SEEDS}) against the exact word-set "
    "Jaccard, with absolute error — the measurement that justifies (or indicts) "
    "the signature length; rides the shared materialized candidate stage",
)
def llm_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The honesty metric for MinHash itself: P[min-hash collision] =
    Jaccard exactly (Broder 1997), so the fraction of agreeing seeds is
    an unbiased Jaccard estimator with std sqrt(J(1-J)/k) — at k=8
    that is +-0.17 worst case, which is WHY the DAG treats signatures
    as a candidate filter and verifies with exact Jaccard afterwards
    (`llm_dedup_verify`), never as the dedup decision. This query puts
    that number in evidence per pair, the same audit shape as
    `llm_simsearch_ivf_recall` and the cap-loss ledgers: every pruning
    structure ships with the query that measures what it trades.

    Scale: both sides ride the MATERIALIZED dedup stage — signatures
    and candidates come from the fingerprint-keyed store, the per-pair
    agreement join carries |cand| x k signature rows (k = 8 constant),
    and the exact side reuses the semi-joined word sets. Nothing here
    touches the full corpus. Cross-engine exactness: agreement counts
    are integers, est = count / 8 is dyadic-exact, and the exact
    Jaccard expression is textually the verify twin's."""
    mh, cand, ws = dedup_candidates(spark, sf_dir)
    ma = mh.select(F.col("doc_id").alias("doc_a"), "seed", F.col("mh").alias("ma"))
    mb = mh.select(F.col("doc_id").alias("doc_b"), "seed", F.col("mh").alias("mb"))
    est = (
        cand.join(ma, "doc_a")
        .join(mb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            (
                F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0)).cast("double")
                / N_SEEDS
            ).alias("est_jaccard")
        )
    )
    exact = _pair_jaccard(cand, ws).select("doc_a", "doc_b", "jaccard")
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.abs(F.col("est_jaccard") - F.col("jaccard")).alias("abs_err"),
    )



@register(
    "llm_ngram_novelty",
    sql=f"""
    WITH sh AS (
      SELECT doc_id, UNNEST({SHINGLES_SQL}) AS shingle FROM documents),
    first AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty
    FROM sh s JOIN first f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    """,
    doc="Per-document n-gram novelty: share of a doc's distinct 3-gram "
    "shingles whose corpus-wide FIRST occurrence (min doc_id) is the doc "
    "itself — the dataset-order memorization/novelty curve; low-novelty "
    "tails are boilerplate or crawl echo the dedup tiers should have caught",
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The novelty curve dataset analyses plot before training: as a
    corpus is consumed in doc_id order, what fraction of each new
    document's n-grams has never been seen before? A healthy corpus
    decays slowly; a sharp drop means later shards re-crawl earlier
    content (memorization pressure without information). Docs under 3
    words have no shingles and emit no row on either engine (the
    degenerate-doc convention shared with the whole shingle family).

    Scale: one shingle-keyed map-side-combinable MIN (the first-seen
    index — at 100 TB this is a by-product of building the substring
    inverted index, same key layout as `llm_dedup_substring`), one
    join back on shingle (AQE handles hot-shingle skew), one per-doc
    aggregate. All counts integer; novelty is one IEEE division."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.split(F.col("text"), " ").alias("ws")).select(
        "doc_id", F.explode(_shingles_expr()).alias("shingle")
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


@register(
    "llm_postings_stats",
    sql=f"""
    WITH sh AS (
      SELECT doc_id, UNNEST({SHINGLES_SQL}) AS shingle FROM documents),
    df AS (
      SELECT shingle, COUNT(*) AS d FROM sh GROUP BY shingle)
    SELECT CAST(d AS BIGINT) AS posting_len,
           CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM df GROUP BY d
    """,
    doc="Posting-list length histogram of the 3-gram shingle index — the "
    "skew fingerprint for every shingle-keyed stage (the graph_degree_hist "
    "of the text index): a heavy tail here is the empirical case for the "
    "hot-bucket cap and the substring index's span-hash layout",
)
def llm_postings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Look at this before trusting any shingle-keyed plan: the df
    histogram is to the text index what the degree histogram is to the
    co-purchase graph — the boilerplate spike (one shingle in 20% of
    docs) is exactly the hot key that makes uncapped bucket joins
    quadratic, and its mass here justifies MAX_BUCKET. Two map-side-
    combinable groupBys, output bounded by |distinct df values|;
    integer-exact on both engines."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.split(F.col("text"), " ").alias("ws")).select(
        "doc_id", F.explode(_shingles_expr()).alias("shingle")
    )
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("d"))
    return df.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles")).select(
        F.col("d").cast("bigint").alias("posting_len"), "n_shingles"
    )


# 16-bit SimHash from the first 4 hex chars of each token's md5.
_HEX = "0123456789abcdef"

_SIMHASH_BITSUMS_SQL = ",\n             ".join(
    f"CAST(SUM(2 * ((hv >> {b}) & 1) - 1) AS BIGINT) AS s{b}" for b in range(16)
)
_SIMHASH_RECOMBINE_SQL = "\n             + ".join(
    f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
)


@register(
    "llm_dedup_simhash",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS token
      FROM documents),
    tv AS (
      SELECT doc_id,
             (strpos('{_HEX}', substr(md5(token), 1, 1)) - 1) * 4096
           + (strpos('{_HEX}', substr(md5(token), 2, 1)) - 1) * 256
           + (strpos('{_HEX}', substr(md5(token), 3, 1)) - 1) * 16
           + (strpos('{_HEX}', substr(md5(token), 4, 1)) - 1) AS hv
      FROM tok),
    bits AS (
      SELECT doc_id,
             {_SIMHASH_BITSUMS_SQL}
      FROM tv GROUP BY doc_id)
    SELECT doc_id,
           CAST({_SIMHASH_RECOMBINE_SQL} AS BIGINT) AS simhash
    FROM bits
    """,
    doc="SimHash 16-bit document fingerprint (one-pass signature; near-dups = small Hamming radius)",
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass SimHash: all 16 bit-sums as aggregate columns in ONE
    groupBy(doc_id) — the same rewrite as MinHash's 8-way min. The
    shuffle carries one row per doc (16 longs), not 16× the token rows
    (the previous crossJoin-vs-bits plan). Bit extraction is integer
    shiftright/bitwiseAND on both engines — no double POW()/division at
    bit boundaries, so the oracle hash is exact.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("token"))
    h = F.md5(F.col("token").cast("binary"))

    def nib(i: int):
        return F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1

    hv = (nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4)).alias("hv")
    bitsrc = tok.select("doc_id", hv)
    sums = bitsrc.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) - 1)
            .cast("bigint")
            .alias(f"s{b}")
            for b in range(16)
        ]
    )
    recombine = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        recombine = term if recombine is None else recombine + term
    return sums.select("doc_id", recombine.cast("bigint").alias("simhash"))


@register(
    "llm_dedup_ngram_jaccard",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + """,
    ws AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand))
    SELECT c.doc_a, c.doc_b, a.lang,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) AS jaccard
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
    WHERE a.lang = b.lang
      AND CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.5
    """,
    doc="n-gram Jaccard verify over LSH candidate pairs (lang as a secondary "
    "residual filter, never the blocking key — candidate-driven, not all-pairs)",
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard at the 0.5 report threshold, evaluated
    ONLY on banded-LSH candidate pairs from the shared cached
    ``dedup_candidates`` stage — the lang equality is a residual
    filter on candidates, not a blocking key, so no O(n²)-per-block
    self-join exists anywhere in the registered plan."""
    _, cand, ws = dedup_candidates(spark, sf_dir)
    return (
        _pair_jaccard(cand, ws)
        .filter((F.col("lang_a") == F.col("lang_b")) & (F.col("jaccard") >= 0.5))
        .select("doc_a", "doc_b", F.col("lang_a").alias("lang"), "jaccard")
    )


DUP_THRESHOLD = 0.8

# Undirected dup edges = the LSH→verify pipeline's is_dup pairs; the
# recursive CTE computes per-node minimum reachable id = component id.
_CLUSTER_CTES = (
    "WITH RECURSIVE\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + f""",
  ws AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
    FROM documents
    WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)),
  dup AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
          / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)))
          >= {DUP_THRESHOLD}),
  sym AS (
    SELECT doc_a AS src, doc_b AS dst FROM dup
    UNION SELECT doc_b, doc_a FROM dup
    UNION SELECT doc_a, doc_a FROM dup
    UNION SELECT doc_b, doc_b FROM dup),
  reach AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst)"""
)

_CLUSTER_SQL = (
    _CLUSTER_CTES
    + """
  SELECT src AS doc_id,
         MIN(dst) AS component_id,
         MIN(dst) = src AS is_keeper
  FROM reach GROUP BY src
    """
)

# Quality-aware keeper selection: same 0-3 score as llm_text_quality.
_KEEP_BEST_SQL = (
    _CLUSTER_CTES
    + """,
  comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
  q AS (
    SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         + CASE WHEN CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / n_chars < 0.1
                THEN 1 ELSE 0 END
         + CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) > 0.1 THEN 1 ELSE 0 END
           AS quality_score
    FROM documents)
  SELECT c.doc_id, c.component_id,
         CAST(q.quality_score AS INT) AS quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality_score DESC, c.doc_id) = 1 AS keep
  FROM comp c JOIN q ON q.doc_id = c.doc_id
    """
)


@register(
    "llm_dedup_clusters",
    sql=_CLUSTER_SQL,
    doc="Dedup clustering: connected components over LSH-verified dup pairs — "
    "min-id label propagation; keeper = component minimum (the keep-one-per-"
    "cluster stage that completes the generate→verify→cluster dedup DAG)",
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the verified dup pairs, by
    `fixpoint.min_label_components` (min-label propagation with pointer
    jumping). Components only span verified duplicate pairs, so the
    graph is the (small) dup subgraph, not the corpus.

    Like ``ivf_centroids``, the converged labels are an index-build
    artifact, deterministic per corpus: the memoized value is the
    labels frame over the fixpoint's last localCheckpoint, so repeat
    invocations read the materialized assignment instead of re-running
    the fixpoint.
    """
    from nova_pulsar_spark.operators.ann_index import memo

    def make() -> DataFrame:
        _, cand, ws = dedup_candidates(spark, sf_dir)
        dup = _pair_jaccard(cand, ws).filter(F.col("jaccard") >= DUP_THRESHOLD)
        edges = dup.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        labels = min_label_components(edges, MAX_CC_ITERS)
        return labels.select(
            F.col("v").alias("doc_id"),
            F.col("lbl").alias("component_id"),
            (F.col("lbl") == F.col("v")).alias("is_keeper"),
        )

    return memo(spark, sf_dir, "dedup_clusters", make)


@register(
    "llm_dedup_keep_best",
    sql=_KEEP_BEST_SQL,
    doc="Quality-aware keeper selection: per near-dup component, keep the "
    "highest-quality doc (quality desc, doc_id tiebreak) — the last stage "
    "of the dedup DAG as production pipelines run it (keep best, not min-id)",
)
def llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the cached cluster labels with the 0-3 quality score
    (`llm_text_quality`): one window rank per component picks the
    keeper. The join touches only docs that appear in a dup component
    (the labels frame), so the quality scan is semi-join-pruned at
    scale; ranking partitions by component_id — components are tiny,
    so the window shuffle carries the dup subgraph only."""
    from pyspark.sql import Window as W

    from nova_pulsar_spark.operators.textstats import llm_text_quality

    comp = llm_dedup_clusters(spark, sf_dir).select("doc_id", "component_id")
    q = llm_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    w = W.partitionBy("component_id").orderBy(F.col("quality_score").desc(), "doc_id")
    return (
        comp.join(q, "doc_id")
        .select(
            "doc_id",
            "component_id",
            F.col("quality_score").cast("int").alias("quality_score"),
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


@register(
    "llm_dedup_cluster_stats",
    sql=_CLUSTER_CTES
    + """,
  comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
  sizes AS (
    SELECT component_id, COUNT(*) AS csize FROM comp GROUP BY component_id)
  SELECT CAST(csize AS BIGINT) AS cluster_size,
         CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(csize) - COUNT(*) AS BIGINT) AS docs_removed
  FROM sizes GROUP BY csize
    """,
    doc="Dup-cluster size distribution: clusters per size and docs removed "
    "by keep-one — the dedup-yield report every corpus run ships with",
)
def llm_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tiny rollups over the cached component labels (dup subgraph
    only — the corpus never shuffles): per-component size, then the
    size histogram with `docs_removed = Σ(size−1)` per bucket, the
    number dedup deletes under keep-one-per-cluster."""
    comp = llm_dedup_clusters(spark, sf_dir).select("doc_id", "component_id")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("csize"))
    return (
        sizes.groupBy("csize")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            (F.sum("csize") - F.count(F.lit(1))).cast("bigint").alias("docs_removed"),
        )
        .select(F.col("csize").cast("bigint").alias("cluster_size"), "n_clusters", "docs_removed")
    )


@register(
    "llm_dedup_rate_by_source",
    sql="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
    FROM documents GROUP BY source
    """,
    doc="Exact-dup rate per source: docs vs distinct text hashes — the "
    "crawl-quality signal that drives per-source mixing/exclusion calls",
)
def llm_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication profile as one hash-groupBy: the shuffle
    carries (source, md5) pairs — 16-byte keys, not documents. The
    count-distinct is exact (expand-then-count under one aggregate);
    sources with outsized dup rates are the first exclusion candidates
    in corpus curation."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(h).cast("bigint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).cast("bigint").alias("n_dups"),
    )


QUALITY_FLOOR = 2  # keep docs scoring >= 2 of 3

# The full curation-funnel CTE chain (cluster stage + quality scores +
# exact-dup keepers + near-dup losers) — shared verbatim by
# `llm_corpus_curate` (the survivor listing) and `llm_corpus_layout`
# (the survivors pushed through the serpentine write layout,
# operators/pipeline.py), so the two oracles can never drift on what
# "survives curation".
_CURATE_FUNNEL_CTES = (
    _CLUSTER_CTES
    + """,
  comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
  q AS (
    SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         + CASE WHEN CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / n_chars < 0.1
                THEN 1 ELSE 0 END
         + CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) > 0.1 THEN 1 ELSE 0 END
           AS quality_score
    FROM documents),
  exact_keep AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
  near_removed AS (
    SELECT doc_id FROM (
      SELECT c.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality_score DESC, c.doc_id) AS rnk
      FROM comp c JOIN q ON q.doc_id = c.doc_id) t
    WHERE rnk > 1)"""
)


@register(
    "llm_corpus_curate",
    sql=_CURATE_FUNNEL_CTES
    + f"""
  SELECT d.doc_id, d.source, d.lang,
         CAST(q.quality_score AS INT) AS quality_score
  FROM documents d
  JOIN exact_keep ek ON ek.doc_id = d.doc_id
  JOIN q ON q.doc_id = d.doc_id
  WHERE d.doc_id NOT IN (SELECT doc_id FROM near_removed)
    AND q.quality_score >= {QUALITY_FLOOR}
    """,
    doc="End-to-end corpus curation: exact-dup keepers ∩ near-dup keep-best "
    "survivors ∩ quality floor — the one-query funnel from raw crawl to "
    "training corpus",
)
def llm_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel composed from the engine's own stages:
    (1) exact dedup keeps min-id per text hash (16-byte-key shuffle);
    (2) near-dup clusters keep their best-quality member (cached
    candidate stage + labels — the corpus never re-shuffles for this);
    (3) a quality floor (>= {floor} of 3) drops the tail. Each step is
    a semi/anti join against a SMALL frame (keepers, removed ids), so
    the funnel costs one corpus scan plus tiny-side joins at 100 TB —
    the exact shape a production curation DAG materializes nightly.
    """
    from nova_pulsar_spark.operators.textstats import llm_text_quality

    d = load_table(spark, sf_dir, "documents")
    exact_keep = d.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    near_removed = (
        llm_dedup_keep_best(spark, sf_dir).filter(~F.col("keep")).select("doc_id")
    )
    q = llm_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    return (
        d.join(exact_keep, "doc_id", "left_semi")
        .join(near_removed, "doc_id", "left_anti")
        .join(q, "doc_id")
        .filter(F.col("quality_score") >= QUALITY_FLOOR)
        .select("doc_id", "source", "lang", F.col("quality_score").cast("int").alias("quality_score"))
    )


# --- 60-bit banded SimHash: the documented scale path made real -----------
# 15 md5 nibbles -> 60-bit fingerprint (fits signed BIGINT with headroom),
# 4 bands x 15 bits; candidates = pairs agreeing on >= 1 band, verify =
# Hamming distance over the full signature. Same integer-only idiom as
# the 16-bit SimHash, so both engines agree bit-for-bit.
SIMHASH64_BITS = 60
SIMHASH64_BANDS = 4
SIMHASH64_BAND_BITS = SIMHASH64_BITS // SIMHASH64_BANDS  # 15
SIMHASH64_HAMMING_T = 12
SIMHASH64_MAX_BUCKET = 64  # hot-band cap (fixed 2^15 keyspace per band)

_SH64_NIB_SQL = " + ".join(
    f"(strpos('{_HEX}', substr(md5(token), {i}, 1)) - 1) * {16 ** (15 - i)}"
    for i in range(1, 16)
)
_SH64_BITSUMS_SQL = ",\n             ".join(
    f"CAST(SUM(2 * ((hv >> {b}) & 1) - 1) AS BIGINT) AS s{b}" for b in range(SIMHASH64_BITS)
)
_SH64_RECOMBINE_SQL = "\n             + ".join(
    f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH64_BITS)
)
def simhash64_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): the 60-bit SimHash fingerprint over distinct
    tokens — one groupBy pass carrying 60 bit-sums per doc. Factored
    out of `llm_dedup_simhash_banded` (identical plan) so the
    cascade-recovery audit (`tools/candidate_audit.py`) evaluates the
    EXACT production fingerprint on its sampled shed pairs."""
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("token")
    )
    h = F.md5(F.col("token").cast("binary"))

    def nib(i: int):
        return (F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1).cast("long")

    hv = sum(nib(i) * (16 ** (15 - i)) for i in range(1, 16)).alias("hv")
    bitsrc = tok.select("doc_id", hv)
    sums = bitsrc.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) - 1)
            .cast("bigint")
            .alias(f"s{b}")
            for b in range(SIMHASH64_BITS)
        ]
    )
    recombine = None
    for b in range(SIMHASH64_BITS):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        recombine = term if recombine is None else recombine + term
    return sums.select("doc_id", recombine.cast("bigint").alias("sig"))


_SH64_BAND_SELECTS = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, sig, {k} AS band_idx, "
    f"(sig // {1 << (k * SIMHASH64_BAND_BITS)}) % {1 << SIMHASH64_BAND_BITS} AS band_val FROM sigs"
    for k in range(SIMHASH64_BANDS)
)


@register(
    "llm_dedup_simhash_banded",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS token
      FROM documents),
    tv AS (
      SELECT doc_id, {_SH64_NIB_SQL} AS hv FROM tok),
    bits AS (
      SELECT doc_id,
             {_SH64_BITSUMS_SQL}
      FROM tv GROUP BY doc_id),
    sigs AS (
      SELECT doc_id, CAST({_SH64_RECOMBINE_SQL} AS BIGINT) AS sig FROM bits),
    bands AS (
      {_SH64_BAND_SELECTS}),
    okb AS (
      SELECT band_idx, band_val FROM bands
      GROUP BY band_idx, band_val HAVING COUNT(*) <= {SIMHASH64_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a
      JOIN okb ON okb.band_idx = a.band_idx AND okb.band_val = a.band_val
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id <> b.doc_id),
    scored AS (
      SELECT doc_a AS doc_id, doc_b,
             CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming,
             ROW_NUMBER() OVER (PARTITION BY doc_a
                                ORDER BY bit_count(xor(sig_a, sig_b)), doc_b) AS rnk
      FROM cand)
    SELECT doc_id, doc_b AS nn_doc, hamming,
           hamming <= {SIMHASH64_HAMMING_T} AS is_dup
    FROM scored WHERE rnk = 1
    """,
    doc=f"Banded {SIMHASH64_BITS}-bit SimHash nearest neighbor: 4x{SIMHASH64_BAND_BITS}-bit "
    "band blocking generates candidates (agree on >= 1 band), hot-band cap, "
    "full-signature Hamming argmin per doc — the SimHash scale path, never all-pairs",
)
def llm_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16-bit SimHash's documented scale extension, implemented: a
    60-bit fingerprint (60 bit-sums in ONE groupBy pass — the shuffle
    carries one row per doc), 15-bit band equality as the blocking key
    (a Hamming-space pigeonhole: any pair within distance 3 shares a
    band; wider radii trade recall exactly like MinHash banding), and
    popcount-of-XOR verify ONLY on banded candidates. All integer
    shift/and/xor — bit-identical across engines. The band self-join
    shuffles (band_idx, 15-bit value) keys, and hot bands take the
    SIMHASH64_MAX_BUCKET cap — a 15-bit band value is a FIXED keyspace
    (32768 buckets), so without the cap occupancy and candidate pairs
    grow n²/keyspace once the corpus outgrows it (the same failure the
    second-decade audit measured on the fixed-width sign-LSH layout);
    identical-fingerprint boilerplate clusters saturate a bucket at
    any size and belong to exact dedup upstream."""
    d = load_table(spark, sf_dir, "documents")
    sigs = simhash64_signatures(d)
    band_rows = []
    for k in range(SIMHASH64_BANDS):
        band_rows.append(
            sigs.select(
                "doc_id",
                "sig",
                F.lit(k).alias("band_idx"),
                F.shiftright(F.col("sig"), k * SIMHASH64_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH64_BAND_BITS) - 1))
                .alias("band_val"),
            )
        )
    bands = band_rows[0]
    for br in band_rows[1:]:
        bands = bands.unionByName(br)
    bands = bands.localCheckpoint(eager=False)
    ok = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") <= SIMHASH64_MAX_BUCKET)
        .select("band_idx", "band_val")
    )
    capped = bands.join(ok, ["band_idx", "band_val"], "left_semi")
    a, b = capped.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # nearest neighbor per doc: argmin (hamming, doc_b) in ONE aggregate
    best = F.min_by(F.struct(ham.alias("h"), F.col("doc_b")), F.struct(ham.alias("h"), F.col("doc_b")))
    return (
        cand.groupBy("doc_id")
        .agg(best.alias("b"))
        .select(
            "doc_id",
            F.col("b.doc_b").alias("nn_doc"),
            F.col("b.h").cast("bigint").alias("hamming"),
            (F.col("b.h") <= SIMHASH64_HAMMING_T).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup (duplicated token spans across documents)
# ---------------------------------------------------------------------------

SUBSTR_K = 8  # span length in tokens; ~50 in production (Lee et al. 2022 shape)


def substring_span_stats(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Per-doc duplicated K-token-span counts over any (doc_id, text) frame.

    Span keys are Spark-native ``xxhash64`` BIGINTs, not md5 strings:
    the output is hash-agnostic (counts of duplicated spans), so the
    engine is free to pick the cheapest collision-safe key — an 8-byte
    long shuffles at 1/4 the volume of a 32-char hex digest and hashes
    ~5x faster. The DuckDB twin keeps md5; both agree as long as
    neither hash collides (64-bit birthday at even 10^9 distinct spans
    is ~3%·#pairs/2^64 ≈ negligible for count parity; a 100 TB corpus
    with 10^12 spans would move to the 128-bit concat idiom)."""
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    grams = ws.filter(F.expr(f"size(ws) >= {k}")).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(ws) - {k} + 1), "
                    f"i -> xxhash64(concat_ws(' ', slice(ws, i, {k}))))"
                )
            )
        ).alias("g"),
    )
    # grams feeds BOTH the span-count aggregate and the join-back below;
    # without materialization the shingle explode + hash runs twice per
    # action (same reasoning as _sign_lsh_candidates' eager checkpoint).
    grams = grams.localCheckpoint()
    counts = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") > 1, 1).otherwise(0)
    return (
        grams.join(counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).cast("bigint").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") * 5 >= F.col("n_spans")).alias("mostly_dup"),
        )
    )


@register(
    "llm_dedup_substring",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
          range(1, len(ws) - {SUBSTR_K} + 2),
          i -> md5(array_to_string(list_slice(ws, i, i + {SUBSTR_K} - 1), ' '))))) AS g
      FROM toks WHERE len(ws) >= {SUBSTR_K}),
    counts AS (
      SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 5 >= COUNT(*) AS mostly_dup
    FROM grams JOIN counts USING (g)
    GROUP BY doc_id
    """,
    doc=f"Substring-level dedup: {SUBSTR_K}-token spans appearing in >1 document, "
    "per-doc duplicated-span counts (inverted span-hash index, never all-pairs)",
)
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection, the scalable alternative to
    a suffix array (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): every K-token window is hashed, and the
    inverted index (one groupBy on the 16-byte span hash) marks spans
    occurring in more than one document. Per-doc rollup = how much of
    each document is boilerplate copied elsewhere.

    100 TB shape: the shuffle carries (span_hash, doc_id) — 24-byte
    rows, map-side distinct — and the span-count join re-uses the same
    hash partitioning (AQE co-locates both sides; no second shuffle of
    the corpus). Nothing is ever compared pairwise: a span duplicated
    across n docs costs n index rows, not n² pairs. Memory per task is
    one document's token array. Reference parity: the dedup family in
    BASELINE.json; span length 50 in production, 8 at test SF so the
    fixture's near-duplicate docs overlap."""
    return substring_span_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin family) — exact Jaccard >= t
# ---------------------------------------------------------------------------

SETSIM_NUM = 3  # Jaccard threshold t = 3/5 = 0.6, kept rational for
SETSIM_DEN = 5  # integer-exact filtering on both engines


def setsim_prefix_pairs(
    docs: DataFrame, t_num: int = SETSIM_NUM, t_den: int = SETSIM_DEN
) -> DataFrame:
    """Exact Jaccard >= t_num/t_den shingle-set pairs via prefix filtering."""
    from pyspark.sql.window import Window as W

    # Shingles are folded to xxhash64 BIGINTs immediately: every
    # downstream stage (df count, rank windows, self-join, verify
    # array intersect) keys on an 8-byte long instead of a ~20-char
    # string — smaller shuffles and cheaper comparisons throughout.
    # The output is hash-agnostic (pair ids + exact counts): prefix
    # filtering is lossless under ANY consistent token order, so
    # ordering by (df, hash) instead of (df, shingle) preserves the
    # result set exactly; a 64-bit in-doc collision (odds ~|doc|²/2⁶⁴)
    # is the only approximation and the DuckDB twin stays string-keyed
    # to pin it.
    toks = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .select("doc_id", F.explode(_shingles_expr()).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("tok"))
        .localCheckpoint()  # 4 consumers: freq, ranked, and both verify sides
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(freq, "tok")
        .withColumn("rk", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok")))
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("sz") - F.expr(f"(sz * {t_num} + {t_den - 1}) DIV {t_den}") + 1
    ).select("doc_id", "tok", "rk", "sz").localCheckpoint()  # both sides of the self-join
    a, b = prefix.alias("a"), prefix.alias("b")
    # The groupBy replaces a bare .distinct() at the same shuffle cost
    # and carries the POSITIONAL filter state: for a collision at
    # prefix ranks (ra, rb), the overlap can never exceed
    # 1 + min(sz_a - ra, sz_b - rb) (everything before the collision
    # is disjoint by the df-ordering); keep a pair only if its BEST
    # collision still allows inter >= ceil(t/(1+t) * (sz_a + sz_b)).
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(
            F.max(
                F.least(F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk"))
            ).alias("rem")
        )
    )
    # Length filter (PPJoin): J >= t forces t*max(|A|,|B|) <= min(|A|,|B|),
    # then the positional filter — both integer-exact candidate prunes
    # BEFORE any verify work (together they cut candidates ~3x).
    cand = cand.filter(
        F.greatest("sz_a", "sz_b") * t_num <= F.least("sz_a", "sz_b") * t_den
    ).filter(
        (1 + F.col("rem")) * (t_num + t_den) >= t_num * (F.col("sz_a") + F.col("sz_b"))
    ).drop("rem")
    # Verify via per-doc shingle ARRAYS + array_intersect: the pair list
    # is joined to two array columns and intersected map-side — no
    # (pair x token) row explosion (at sf0.1 the exploded verify join
    # materialized ~9M rows for ~300k candidates; this keeps it at one
    # row per pair).
    sets = toks.groupBy("doc_id").agg(F.collect_set("tok").alias("tokset"))
    sa = sets.select(F.col("doc_id").alias("a_id"), F.col("tokset").alias("ta"))
    sb = sets.select(F.col("doc_id").alias("b_id"), F.col("tokset").alias("tb"))
    inter = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("ta", "tb")).alias("n_inter"),
        )
    )
    n_union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    return (
        inter.filter(F.col("n_inter") * t_den >= n_union * t_num)
        .select(
            "a_id",
            "b_id",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            n_union.cast("bigint").alias("n_union"),
            (F.col("n_inter").cast("double") / n_union.cast("double")).alias("jaccard"),
        )
    )


@register(
    "llm_setsim_prefix",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({SHINGLES_SQL}) AS tok
      FROM documents),
    freq AS (
      SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
    ranked AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS rk,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
      FROM toks t JOIN freq f ON t.tok = f.tok),
    prefix AS (
      SELECT doc_id, tok, rk, sz FROM ranked
      WHERE rk <= sz - (sz * {SETSIM_NUM} + {SETSIM_DEN - 1}) // {SETSIM_DEN} + 1),
    cand AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.sz AS sz_a, b.sz AS sz_b
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      WHERE GREATEST(a.sz, b.sz) * {SETSIM_NUM} <= LEAST(a.sz, b.sz) * {SETSIM_DEN}
      GROUP BY 1, 2, 3, 4
      HAVING (1 + MAX(LEAST(a.sz - a.rk, b.sz - b.rk)))
               * {SETSIM_NUM + SETSIM_DEN} >= {SETSIM_NUM} * (a.sz + b.sz)),
    sets AS (
      SELECT doc_id, list(tok) AS tokset FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.a_id, c.b_id, c.sz_a, c.sz_b,
             len(list_intersect(sa.tokset, sb.tokset)) AS n_inter
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.a_id
      JOIN sets sb ON sb.doc_id = c.b_id)
    SELECT a_id, b_id,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sz_a + sz_b - n_inter AS BIGINT) AS n_union,
           CAST(n_inter AS DOUBLE) / CAST(sz_a + sz_b - n_inter AS DOUBLE) AS jaccard
    FROM inter
    WHERE n_inter * {SETSIM_DEN} >= (sz_a + sz_b - n_inter) * {SETSIM_NUM}
    """,
    doc=f"Prefix-filtered set-similarity self-join (PPJoin family) over 3-gram "
    f"shingle sets: exact Jaccard >= {SETSIM_NUM}/{SETSIM_DEN} pairs, candidates "
    "only where rare-shingle prefixes collide, then length- and position-pruned "
    "(~3x fewer verifies) — exact-threshold complement to MinHash LSH",
)
def llm_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-threshold set-similarity join via prefix filtering
    (SSJoin/PPJoin, Chaudhuri et al. 2006 / Xiao et al. 2008): order
    each document's 3-gram shingle set by ascending global document
    frequency; two sets with Jaccard >= t MUST share an element within
    their first |T| - ceil(t|T|) + 1 elements, so candidate pairs are
    generated only from collisions on those *rarest* shingles (unigram
    tokens are too coarse a universe — over a small vocabulary every
    doc pair collides; shingles make prefixes selective). Unlike MinHash LSH this
    is lossless — recall is exactly 1.0 at the threshold — at the cost
    of an extra global token-frequency pass.

    100 TB shape: boilerplate (high-df) tokens can never enter a
    prefix, so the candidate join's bucket sizes are bounded by the
    df of RARE tokens — the skew profile is the inverse of the naive
    token join, which is what makes it feasible. Three shuffles total:
    token df (map-combinable), the prefix self-join keyed by token,
    and the candidate verify keyed by doc pair; the verify stage
    touches only candidate docs via semi-join pruning. Integer ceil
    ((sz*3+4) DIV 5) keeps the prefix boundary bit-identical across
    engines."""
    return setsim_prefix_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "llm_dedup_url",
    sql="""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://' || upper(source) || '.Example.COM/d/'
               || CAST(doc_id % 200 AS VARCHAR) || '/?utm_source=feed&ref=rss' AS raw_url
      FROM documents),
    canon AS (
      SELECT doc_id, raw_url,
             lower(regexp_extract(raw_url, 'https?://([^/?#]+)', 1))
               || regexp_replace(regexp_extract(raw_url, '://[^/?#]+([^?#]*)', 1),
                                 '/$', '') AS canonical_url
      FROM u)
    SELECT doc_id, canonical_url,
           CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_same_url,
           CAST(MIN(doc_id) OVER (PARTITION BY canonical_url) AS BIGINT) AS keeper_id
    FROM canon
    """,
    doc="URL-canonicalization dedup: lowercase host + tracking-param/slash "
    "strip, dup groups keyed by canonical URL (the crawl-frontier dedup that "
    "runs BEFORE any content fetch)",
)
def llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl dedup at the URL level: canonicalize (case-fold the host —
    DNS is case-insensitive; keep the path case — it is not; drop
    query tracking params and the trailing slash) and group. This
    runs BEFORE fetch/content dedup in a crawl pipeline: it is the
    only dedup tier that saves network cost, not just storage. Pure
    map work + one exchange on the canonical key. The synthesized
    raw_url maps doc_id mod 200, planting genuine collisions the
    window rollup must find (same contract as llm_dedup_exact:
    n_copies + lowest-id keeper)."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".Example.COM/d/"),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("/?utm_source=feed&ref=rss"),
    )
    canon = F.concat(
        F.lower(F.regexp_extract("raw_url", r"https?://([^/?#]+)", 1)),
        F.regexp_replace(F.regexp_extract("raw_url", r"://[^/?#]+([^?#]*)", 1), r"/$", ""),
    )
    w = W.partitionBy("canonical_url")
    return (
        d.select("doc_id", raw.alias("raw_url"))
        .select("doc_id", canon.alias("canonical_url"))
        .select(
            "doc_id",
            "canonical_url",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_same_url"),
            F.min("doc_id").over(w).cast("bigint").alias("keeper_id"),
        )
    )


CONTAINMENT_T = 0.9  # overlap-coefficient threshold for "subsumed"


@register(
    "llm_dedup_containment",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + f""",
    ws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand))
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / NULLIF(LEAST(len(a.words), len(b.words)), 0) AS containment,
           CASE WHEN len(a.words) <= len(b.words) THEN c.doc_a
                ELSE c.doc_b END AS contained_doc,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / NULLIF(LEAST(len(a.words), len(b.words)), 0)
             >= {CONTAINMENT_T} AS is_subsumed
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
    """,
    doc="Containment (overlap-coefficient) dedup over LSH candidate pairs: "
    "|A∩B|/min(|A|,|B|) detects a small doc subsumed by a larger one — the "
    "asymmetric near-dup Jaccard misses (quote pages, excerpt mirrors)",
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup verify: Jaccard punishes size mismatch
    (a 100-word excerpt inside a 10k-word page has J ≈ 0.01), so
    excerpt/quote duplication needs the overlap coefficient
    |A∩B|/min(|A|,|B|) instead. Candidates still come from the shared
    banded-LSH stage (`dedup_candidates`, hot-bucket cap on) — the
    corpus never meets itself all-pairs; this is a second scoring head
    over the SAME materialized candidate set as `llm_dedup_verify`,
    which is exactly how a production DAG layers multiple dup
    predicates over one candidate generation pass. `contained_doc` is
    the smaller word set (tie → doc_a) — the removal candidate under
    subsumption semantics."""
    _, cand, ws = dedup_candidates(spark, sf_dir)
    a, b = ws.alias("a"), ws.alias("b")
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    nmin = F.least(F.size(F.col("a.words")), F.size(F.col("b.words")))
    return (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("ninter"),
            nmin.alias("nmin"),
            (F.size(F.col("a.words")) <= F.size(F.col("b.words"))).alias("a_smaller"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("ninter").cast("double") / F.nullif(F.col("nmin"), F.lit(0))).alias(
                "containment"
            ),
            F.when(F.col("a_smaller"), F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "contained_doc"
            ),
            (
                F.col("ninter").cast("double") / F.nullif(F.col("nmin"), F.lit(0))
                >= CONTAINMENT_T
            ).alias("is_subsumed"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-span SCRUB — remove cross-document boilerplate, emit clean text
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_substring_scrub",
    sql=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    pg AS (
      SELECT doc_id, UNNEST(list_transform(range(1, len(ws) - {SUBSTR_K} + 2),
          i -> {{'i': i, 'g': md5(array_to_string(list_slice(ws, i, i + {SUBSTR_K} - 1), ' '))}})) AS s
      FROM toks WHERE len(ws) >= {SUBSTR_K}),
    pg2 AS (SELECT doc_id, s.i AS i, s.g AS g FROM pg),
    counts AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM pg2 GROUP BY g),
    dup AS (SELECT p.doc_id, p.i FROM pg2 p JOIN counts c USING (g) WHERE c.nd > 1),
    covp AS (SELECT doc_id, UNNEST(range(i, i + {SUBSTR_K})) AS p FROM dup),
    cov AS (SELECT doc_id, list_sort(list_distinct(list(p))) AS cov FROM covp GROUP BY doc_id),
    fin AS (
      SELECT t.doc_id, t.ws, COALESCE(c.cov, []) AS cov
      FROM toks t LEFT JOIN cov c USING (doc_id))
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_before,
           CAST(len(list_filter(ws, (x, j) -> NOT list_contains(cov, j))) AS BIGINT) AS n_after,
           CAST(len(ws) - len(list_filter(ws, (x, j) -> NOT list_contains(cov, j))) AS BIGINT) AS n_removed,
           CASE WHEN ws IS NULL THEN NULL
                ELSE COALESCE(array_to_string(list_filter(ws, (x, j) -> NOT list_contains(cov, j)), ' '), '')
           END AS clean_text
    FROM fin
    """,
    doc=f"Boilerplate scrub: tokens covered by any {SUBSTR_K}-token span that also "
    "occurs in another document are removed and the cleaned text re-emitted "
    "(the removal side of the Lee-et-al span index; never all-pairs)",
)
def llm_dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *removal* counterpart of :func:`llm_dedup_substring`: where
    that operator reports how much of each document is copied
    elsewhere, this one rewrites the corpus with the copied spans cut
    out — the actual cleanup pass of a training-data pipeline
    (C4/RefinedWeb-style boilerplate removal, generalized to exact
    cross-document spans per Lee et al. 2022).

    Shape, stage by stage, and why it survives 100 TB:
    - span index: one posexplode of K-token span hashes -> the shuffle
      carries (16-byte hash, doc_id, pos) rows; the duplicate test is
      one groupBy on the hash. Nothing is ever compared pairwise.
    - covered positions: duplicated span STARTS explode to at most K
      positions each and collapse to a per-doc sorted set — shuffled
      by doc_id, i.e. the same key the rebuild needs, so AQE plans a
      single exchange for both.
    - rebuild: the original token array is filtered by a lambda
      against the per-doc covered set (array_contains on a sorted
      int array) — pure map work; the corpus text itself is never
      exploded for the rebuild, so the heavy column moves through
      exactly one join, not a token-level shuffle.
    NULL text stays NULL end-to-end on both engines (split/filter/
    array_join all NULL-propagate); docs shorter than K tokens pass
    through byte-identical (cov = empty set).

    Reference parity: dedup family in BASELINE.json; the registered
    exact twin walks the same span index in DuckDB.
    """
    return substring_scrub(load_table(spark, sf_dir, "documents"))


def substring_scrub(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Span-scrub pipeline over any (doc_id, text) frame (see
    :func:`llm_dedup_substring_scrub` for the scale analysis)."""
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    pos_grams = (
        ws.filter(F.expr(f"size(ws) >= {k}"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {k} + 1), "
                    f"i -> xxhash64(concat_ws(' ', slice(ws, i, {k}))))"
                )
            ).alias("i0", "g"),
        )
        .select("doc_id", (F.col("i0") + 1).alias("i"), "g")
    )
    # pos_grams feeds both the duplicate-count aggregate and the
    # join-back; materialize once (same discipline as
    # substring_span_stats). Span keys are xxhash64 BIGINTs for the
    # same shuffle-volume reason as substring_span_stats (output is
    # hash-agnostic; the DuckDB twin keeps md5).
    pos_grams = pos_grams.localCheckpoint()
    counts = pos_grams.groupBy("g").agg(F.countDistinct("doc_id").alias("nd"))
    dup_starts = pos_grams.join(counts.filter(F.col("nd") > 1), "g").select("doc_id", "i")
    cov = (
        dup_starts.select("doc_id", F.explode(F.expr(f"sequence(i, i + {k} - 1)")).alias("p"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p")).alias("cov"))
    )
    fin = ws.join(cov, "doc_id", "left").withColumn(
        "cov", F.coalesce(F.col("cov"), F.expr("CAST(array() AS ARRAY<INT>)"))
    )
    kept = F.expr("filter(ws, (x, j) -> NOT array_contains(cov, j + 1))")
    return fin.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_before"),
        F.size(kept).cast("bigint").alias("n_after"),
        (F.size("ws") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus index
# ---------------------------------------------------------------------------

INCR_MOD = 5  # doc_id % 5 == 0 -> "new batch" (20%); rest is the stored index


@register(
    "llm_dedup_incremental",
    sql=f"""
    WITH {", ".join(MINHASH_SQL_CTES)},
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      WHERE (doc_a % {INCR_MOD} = 0) <> (doc_b % {INCR_MOD} = 0)),
    norm AS (
      SELECT CASE WHEN doc_a % {INCR_MOD} = 0 THEN doc_a ELSE doc_b END AS batch_doc,
             CASE WHEN doc_a % {INCR_MOD} = 0 THEN doc_b ELSE doc_a END AS index_doc
      FROM pairs),
    agree AS (
      SELECT n.batch_doc, n.index_doc,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_agree
      FROM norm n
      JOIN mh ma ON ma.doc_id = n.batch_doc
      JOIN mh mb ON mb.doc_id = n.index_doc AND mb.seed = ma.seed
      GROUP BY n.batch_doc, n.index_doc),
    best AS (
      SELECT batch_doc, index_doc, n_agree,
             ROW_NUMBER() OVER (PARTITION BY batch_doc
                                ORDER BY n_agree DESC, index_doc) AS rn
      FROM agree)
    SELECT batch_doc, index_doc AS matched_index_doc,
           CAST(n_agree AS BIGINT) AS n_agree,
           n_agree / 8.0 AS est_jaccard,
           n_agree >= 4 AS is_dup
    FROM best WHERE rn = 1
    """,
    doc="Incremental dedup: new-batch docs probed against the existing "
    "corpus minhash index via LSH bands; best index match per batch doc "
    "(the daily-crawl-vs-historical-index production pattern)",
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of continuous corpus ingestion: the
    historical corpus keeps a MATERIALIZED minhash/band index; each new
    batch computes signatures for ITS docs only and probes the stored
    bands — cost scales with the batch, never the corpus. Here the
    split is modeled as doc_id % 5 == 0 (the "new crawl"); the
    shared `dedup_candidates` stage plays the stored index, and the
    incremental probe is the band bucket join restricted to
    batch-vs-index pairs (batch-internal dups are the ordinary
    `llm_dedup_near` path running on the small batch alone).

    Per batch doc the best index match is an explicit row_number
    argmax (n_agree DESC, index_doc) — tie-deterministic on both
    engines (fuzz class: bare max_by is not). est_jaccard is the
    banded signature-agreement estimate, n_agree/8 in one division.
    The hot-bucket cap stays ON: a boilerplate band bucket in the
    historical index would otherwise make every new crawl pay its
    pair fan-out.
    """
    from pyspark.sql.window import Window as W

    mh, cand, _ = dedup_candidates(spark, sf_dir)
    is_batch = lambda c: c % INCR_MOD == 0  # noqa: E731
    pairs = cand.filter(is_batch(F.col("doc_a")) != is_batch(F.col("doc_b")))
    norm = pairs.select(
        F.when(is_batch(F.col("doc_a")), F.col("doc_a")).otherwise(F.col("doc_b")).alias("batch_doc"),
        F.when(is_batch(F.col("doc_a")), F.col("doc_b")).otherwise(F.col("doc_a")).alias("index_doc"),
    )
    ma = mh.select(F.col("doc_id").alias("batch_doc"), "seed", F.col("mh").alias("mh_a"))
    mb = mh.select(F.col("doc_id").alias("index_doc"), "seed", F.col("mh").alias("mh_b"))
    agree = (
        norm.join(ma, "batch_doc")
        .join(mb, ["index_doc", "seed"])
        .groupBy("batch_doc", "index_doc")
        .agg(F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)).alias("n_agree"))
    )
    w = W.partitionBy("batch_doc").orderBy(F.col("n_agree").desc(), "index_doc")
    return (
        agree.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "batch_doc",
            F.col("index_doc").alias("matched_index_doc"),
            F.col("n_agree").cast("bigint").alias("n_agree"),
            (F.col("n_agree") / 8.0).alias("est_jaccard"),
            (F.col("n_agree") >= 4).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Index-quality evaluation: LSH candidate recall vs exact truth
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_lsh_recall",
    sql=f"""
    WITH {", ".join(MINHASH_SQL_CTES)},
    sh AS (
      SELECT doc_id, list_distinct({SHINGLES_SQL}) AS s
      FROM documents WHERE len(string_split(text, ' ')) >= 3),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * {SETSIM_DEN}
            >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * {SETSIM_NUM}),
    cand_all AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    counts AS (
      SELECT (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM truth t JOIN cand c
                ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_found,
             (SELECT COUNT(*) FROM truth t JOIN cand_all c
                ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_found_uncapped)
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_found AS BIGINT) AS n_found,
           CAST(n_found AS DOUBLE) / NULLIF(n_true, 0) AS recall,
           CAST(n_found_uncapped AS BIGINT) AS n_found_uncapped,
           CAST(n_found_uncapped - n_found AS BIGINT) AS n_missed_by_cap,
           CAST(n_found_uncapped AS DOUBLE) / NULLIF(n_true, 0) AS recall_uncapped
    FROM counts
    """,
    doc=f"LSH index-quality audit: candidate recall against the exact "
    f"shingle-Jaccard>={SETSIM_NUM}/{SETSIM_DEN} truth set (PPJoin-derived, "
    "lossless) — the number every banded index must report before production",
)
def llm_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Before trusting a banded-LSH index at 100 TB you measure its
    candidate RECALL against exact truth on a sample — this op is that
    audit, with both sides scale-safe: truth comes from the
    prefix-filtered set-similarity join (exact and lossless at the
    threshold, never all-pairs on the Spark side), candidates from the
    shared banded stage with the hot-bucket cap ON — so the metric
    also PRICES the cap's recall trade, not just band selectivity.
    The DuckDB twin recomputes truth naively all-pairs (fine at oracle
    scale) — an independent derivation, so a lossless-filter bug in
    the Spark truth side would surface as a mismatch here.
    One-row output: |truth|, |candidates|, |truth ∩ candidates|,
    recall — then the CAP-LOSS split: re-running the bucket join with
    the cap OFF prices how much of the miss is the hot-bucket cap
    specifically (`n_missed_by_cap` = uncapped hits − capped hits)
    versus plain band-selectivity misses (`n_true − n_found_uncapped`).
    The uncapped join exists only inside this audit (run it on a
    sample at production scale); every production query keeps the cap.
    Per-band dropped-bucket mass is the companion op
    `llm_dedup_lsh_cap_loss`."""
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        setsim_prefix_pairs(docs)
        .select(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
    )
    mh, cand, _ = dedup_candidates(spark, sf_dir)
    truth = truth.localCheckpoint()  # three consumers: count + two semijoins
    cand = cand.localCheckpoint()
    cand_all = lsh_candidates(mh, max_bucket=None)
    found = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    found_all = truth.join(cand_all, ["doc_a", "doc_b"], "left_semi")
    n_true = truth.count()
    n_cand = cand.count()
    n_found = found.count()
    n_found_all = found_all.count()
    row = [
        (
            n_true,
            n_cand,
            n_found,
            (float(n_found) / n_true) if n_true else None,
            n_found_all,
            n_found_all - n_found,
            (float(n_found_all) / n_true) if n_true else None,
        )
    ]
    return spark.createDataFrame(
        row,
        "n_true bigint, n_candidates bigint, n_found bigint, recall double, "
        "n_found_uncapped bigint, n_missed_by_cap bigint, recall_uncapped double",
    )


@register(
    "llm_dedup_lsh_cap_loss",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + f""",
    buckets AS (
      SELECT band, sig, COUNT(*) AS n FROM bands GROUP BY band, sig)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n > {MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_dropped,
           CAST(SUM(CASE WHEN n > {MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT) AS n_docs_dropped,
           CAST(SUM(CASE WHEN n > {MAX_BUCKET} THEN n * (CAST(n AS BIGINT) - 1) // 2 ELSE 0 END) AS BIGINT) AS n_pairs_dropped
    FROM buckets GROUP BY band
    """,
    doc=f"Per-band hot-bucket-cap accounting: how many buckets exceed "
    f"MAX_BUCKET={MAX_BUCKET}, the doc mass inside them, and the candidate "
    "pairs the cap excised — the per-band ledger behind llm_dedup_lsh_recall's "
    "n_missed_by_cap",
)
def llm_dedup_lsh_cap_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cap's ledger, per band: what `MAX_BUCKET` dropped and what it
    would have cost to keep. `n_pairs_dropped` = Σ n·(n−1)/2 over
    dropped buckets is exactly the pair fan-out the cap saved — at
    100 TB this column is why the cap exists (one 10⁵-doc boilerplate
    bucket = 5×10⁹ pairs), and `n_docs_dropped` is the mass to hand to
    the exact-dedup tier instead. Cost: one groupBy over band
    signatures reusing the shared cached signature stage — bucket
    counts only, no pair join anywhere."""
    mh, _, _ = dedup_candidates(spark, sf_dir)
    b = band_sigs(mh).groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    dropped = F.col("n") > MAX_BUCKET
    return b.groupBy(F.col("band").cast("bigint").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_buckets_dropped"),
        F.sum(F.when(dropped, F.col("n")).otherwise(0)).cast("bigint").alias("n_docs_dropped"),
        F.sum(F.when(dropped, F.expr("n * (CAST(n AS BIGINT) - 1) DIV 2")).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_dropped"),
    )


# Test-scale rendition of MAX_BUCKET for the recovery operator: the
# sf0.01 corpus's largest band bucket holds 3 docs, so the production
# cap of 64 would make the registered query vacuously empty there. The
# underlying `lsh_cap_recover_pairs` takes the cap as a parameter;
# production runs it with MAX_BUCKET.
CAP_RECOVER_BUCKET = 2


def lsh_cap_recover_pairs(docs: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(doc_a=bucket representative, doc_b=member) pairs for every
    over-cap LSH bucket — the O(members) per-document recovery route
    for the pair mass `lsh_candidates`' hot-bucket cap declines to
    enumerate. A bucket of n docs costs n−1 pairs here instead of
    n·(n−1)/2: every member is linked to the bucket's MIN doc_id, so
    per-DOCUMENT dup detection (and keep-best collapse toward the
    representative) survives the cap even on 10⁵-doc cliques."""
    return _cap_recover_from_bands(band_sigs(minhash_signatures(docs)), max_bucket)


def _cap_recover_from_bands(bands: DataFrame, max_bucket: int) -> DataFrame:
    over = (
        bands.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("rep"))
        .filter(F.col("n") > max_bucket)
        .select("band", "sig", "rep")
    )
    return (
        bands.join(over, ["band", "sig"])
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def _cap_recover_sql(cap: int) -> str:
    """DuckDB twin of the recovery route at an arbitrary bucket cap."""
    return (
        "WITH\n  "
        + ",\n  ".join(MINHASH_SQL_CTES)
        + f""",
    over_bucket AS (
      SELECT band, sig, MIN(doc_id) AS rep
      FROM bands GROUP BY band, sig HAVING COUNT(*) > {cap}),
    rpairs AS (
      SELECT DISTINCT o.rep AS doc_a, b.doc_id AS doc_b
      FROM over_bucket o
      JOIN bands b ON b.band = o.band AND b.sig = o.sig AND b.doc_id <> o.rep),
    ws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM rpairs UNION SELECT doc_b FROM rpairs))
    SELECT r.doc_b AS doc_id, r.doc_a AS rep_doc,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) AS jaccard,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.8 AS is_dup
    FROM rpairs r
    JOIN ws a ON a.doc_id = r.doc_a
    JOIN ws b ON b.doc_id = r.doc_b
    """
    )


def _cap_recover_verified(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    """Shared Spark body for the recovery query at a given cap: over-cap
    buckets → (member, representative) pairs → exact word-set-Jaccard
    verify, semi-join-pruned to docs appearing in a recovery pair."""
    docs = load_table(spark, sf_dir, "documents")
    mh, _, _ = dedup_candidates(spark, sf_dir)
    pairs = _cap_recover_from_bands(band_sigs(mh), cap)
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ws = docs.join(ids, "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(_words(F.col("text"))).alias("words")
    )
    a, b = ws.alias("a"), ws.alias("b")
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    staged = (
        pairs.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("rep_doc"),
            inter.alias("ninter"),
            (F.size(F.col("a.words")) + F.size(F.col("b.words"))).alias("nsum"),
        )
    )
    jac = F.col("ninter").cast("double") / (F.col("nsum") - F.col("ninter"))
    return staged.select(
        "doc_id", "rep_doc", jac.alias("jaccard"), (jac >= 0.8).alias("is_dup")
    )


@register(
    "llm_dedup_lsh_cap_recover",
    sql=_cap_recover_sql(CAP_RECOVER_BUCKET),
    doc=f"Over-cap bucket recovery: each member of a band bucket past the cap "
    f"(test rendition: {CAP_RECOVER_BUCKET}; production: MAX_BUCKET, registered "
    "separately as llm_dedup_lsh_cap_recover_prod) is paired with the "
    "bucket's MIN-doc_id representative and exact-verified — O(members) pairs "
    "instead of the O(members²) the cap shed, preserving per-document dup "
    "detection on boilerplate/replica cliques of any size",
)
def llm_dedup_lsh_cap_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured answer to the cap-shed recall question
    (SCALING3_r09 `x1000_cascade_recovery`, VERDICT r8 #1): banded
    tiers with their OWN caps shed the same giant cliques (the as-run
    capped SimHash tier re-finds only ~7% of shed docs per-document at
    the x1000 decade — fixed-keyspace physics is universal), but
    pairing each over-cap member with its bucket REPRESENTATIVE is
    linear in members and, measured on the sampled shed-pair truth
    set, verifies at 1.0000 of the true near-dup class (exact shingle
    Jaccard ≥ 0.6; word-set Jaccard here with the verify tier's 0.8
    bar). This operator makes that route executable: over-cap buckets
    → (member, rep) pairs → exact word-set Jaccard verify, only on
    docs appearing in a recovery pair (semi-join). At 100 TB the pair
    count is bounded by over-cap MEMBER mass (18.0M at the x1000
    decade, vs the 9.38B pairs the cap shed), one shuffle keyed by
    (band, sig), one by doc_id for the verify joins. Rides the shared
    materialized signature stage like `llm_dedup_lsh_cap_loss`."""
    return _cap_recover_verified(spark, sf_dir, CAP_RECOVER_BUCKET)


@register(
    "llm_dedup_lsh_cap_recover_prod",
    sql=_cap_recover_sql(MAX_BUCKET),
    doc=f"The PRODUCTION recovery surface (ADVICE r9): the same route at the "
    f"real hot-bucket cap MAX_BUCKET={MAX_BUCKET} that `llm_dedup_near`'s "
    "candidate stage enforces — at small SF the cap never sheds, so this is "
    "legitimately empty; at corpus scale it is the operator the production "
    "chain actually runs, now benchmarked and oracle-checked as itself",
)
def llm_dedup_lsh_cap_recover_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-cap rendition of `llm_dedup_lsh_cap_recover`
    (ADVICE r9 low): the registered test-scale cap
    (CAP_RECOVER_BUCKET=2) exists because sf0.01's largest band bucket
    holds 3 docs, but the documented 100 TB chain runs
    `lsh_cap_recover_pairs` at MAX_BUCKET — this entry IS that
    surface, so the measured/oracle-checked query and the production
    story are the same plan. An empty frame at small SF is the correct
    answer (the cap shed nothing), and the DuckDB twin agrees on
    emptiness, schema, and — on any corpus where the cap does shed —
    values."""
    return _cap_recover_verified(spark, sf_dir, MAX_BUCKET)


# ---------------------------------------------------------------------------
# Dedup dashboard: every tier's yield in one frame
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_report",
    sql="WITH\n  "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + f""",
    ws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)),
    verified AS (
      SELECT c.doc_a FROM cand c
      JOIN ws a ON a.doc_id = c.doc_a
      JOIN ws b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
            / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.8),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
          range(1, len(t) - {SUBSTR_K} + 2),
          i -> md5(array_to_string(list_slice(t, i, i + {SUBSTR_K} - 1), ' '))))) AS g
      FROM toks WHERE len(t) >= {SUBSTR_K}),
    gcounts AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
    span AS (
      SELECT doc_id,
             SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 5 >= COUNT(*) AS mostly_dup
      FROM grams JOIN gcounts USING (g) GROUP BY doc_id),
    over_bucket AS (
      SELECT band, sig, MIN(doc_id) AS rep
      FROM bands GROUP BY band, sig HAVING COUNT(*) > {CAP_RECOVER_BUCKET}),
    rpairs AS (
      SELECT DISTINCT o.rep AS doc_a, b.doc_id AS doc_b
      FROM over_bucket o
      JOIN bands b ON b.band = o.band AND b.sig = o.sig AND b.doc_id <> o.rep),
    rws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
      WHERE doc_id IN (SELECT doc_a FROM rpairs UNION SELECT doc_b FROM rpairs)),
    recovered AS (
      SELECT r.doc_a, r.doc_b FROM rpairs r
      JOIN rws a ON a.doc_id = r.doc_a
      JOIN rws b ON b.doc_id = r.doc_b
      WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
            / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.8)
    SELECT 'exact_removable_docs' AS tier,
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n
    FROM (SELECT COUNT(*) AS c FROM documents WHERE text IS NOT NULL GROUP BY md5(text)) t
    WHERE c > 1
    UNION ALL
    SELECT 'lsh_candidate_pairs', CAST(COUNT(*) AS BIGINT) FROM cand
    UNION ALL
    SELECT 'verified_dup_pairs', CAST(COUNT(*) AS BIGINT) FROM verified
    UNION ALL
    SELECT 'mostly_dup_span_docs', CAST(COALESCE(SUM(CASE WHEN mostly_dup THEN 1 ELSE 0 END), 0) AS BIGINT) FROM span
    UNION ALL
    SELECT 'recovered_dup_pairs', CAST(COUNT(*) AS BIGINT) FROM recovered
    UNION ALL
    SELECT 'recovered_docs', CAST(COUNT(DISTINCT doc_b) AS BIGINT) FROM recovered
    """,
    doc="Dedup dashboard: one row per tier — exact removable docs, LSH "
    "candidate pairs, verified duplicate pairs, mostly-boilerplate docs, "
    "plus (VERDICT r9 #4) the cap-recover tier's verified (member, rep) "
    "pair and document mass "
    "(the numbers a corpus owner reads before committing the rewrite)",
)
def llm_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The summary a pipeline owner reads before any destructive pass:
    each dedup tier's yield, computed from the SAME shared stages the
    per-tier operators use (digest groupBy; the cached banded-LSH
    candidate stage; exact verify on candidates only; the span index)
    — so the dashboard costs little more than the most expensive tier
    and never introduces a new scale risk. Round 10 (VERDICT r9 #4)
    adds the production chain's recover tier: the verified
    (member, representative) pairs from over-cap buckets and the
    distinct shed documents they re-link — the recovered-pair mass a
    corpus owner could not previously see here. Counts are collected
    driver-side (six scalars) and emitted as a literal frame, the
    same pattern as llm_dedup_lsh_recall."""
    d = load_table(spark, sf_dir, "documents")
    exact_removable = (
        d.filter(F.col("text").isNotNull())
        .groupBy(F.md5(F.col("text").cast("binary")))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)))
        .first()[0]
    )
    _, cand, ws = dedup_candidates(spark, sf_dir)
    n_cand = cand.count()
    n_verified = _pair_jaccard(cand, ws).filter(F.col("jaccard") >= 0.8).count()
    n_span = (
        substring_span_stats(d).filter(F.col("mostly_dup")).count()
    )
    recovered = _cap_recover_verified(spark, sf_dir, CAP_RECOVER_BUCKET).filter(
        F.col("is_dup")
    )
    n_rec_pairs = recovered.count()
    n_rec_docs = recovered.select("doc_id").distinct().count()
    rows = [
        ("exact_removable_docs", int(exact_removable)),
        ("lsh_candidate_pairs", int(n_cand)),
        ("verified_dup_pairs", int(n_verified)),
        ("mostly_dup_span_docs", int(n_span)),
        ("recovered_dup_pairs", int(n_rec_pairs)),
        ("recovered_docs", int(n_rec_docs)),
    ]
    return spark.createDataFrame(rows, "tier string, n bigint")


# --- Candidate-graph centrality (boilerplate-hub detection) ----------------

PR_FP = 1099511627776  # 2^40 fixed-point scale for 1/deg edge weights


@register(
    "llm_dedup_pagerank",
    sql="WITH "
    + ",\n  ".join(MINHASH_SQL_CTES)
    + f""",
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM e GROUP BY src),
    n AS (SELECT COUNT(*) AS n FROM deg),
    s AS (
      SELECT e.dst AS doc_id, SUM({PR_FP} // deg.deg) AS q
      FROM e JOIN deg ON deg.doc_id = e.src
      GROUP BY e.dst)
    SELECT d.doc_id, CAST(d.deg AS BIGINT) AS degree,
           CAST(0.15 AS DOUBLE) / n.n
           + CAST(0.85 AS DOUBLE) * (CAST(s.q AS DOUBLE) / {PR_FP}.0) / n.n AS pr
    FROM deg d JOIN s ON s.doc_id = d.doc_id CROSS JOIN n
    """,
    doc="One damped PageRank step over the capped LSH candidate graph: "
    "centrality spots template/boilerplate hub documents (high-degree "
    "near-dup neighborhoods) that per-pair verify scores miss",
)
def llm_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A document tied into many near-dup neighborhoods is template
    boilerplate even when each individual pair sits under the verify
    threshold — degree + one damped PageRank step over the candidate
    graph surface exactly those hubs. Reuses the SHARED cached
    candidate stage (zero signature recompute), symmetrizes pairs, and
    runs pr1(v) = 0.15/N + 0.85/N * sum(1/deg(u)) with uniform prior
    r0 = 1/N. The cross-row sum is FIXED-POINT (floor(2^40/deg) BIGINT
    per edge — deg is integral so the scaled weight is deterministic;
    DECIMAL(38,0) accumulator), so scores are order/partition-exact on
    both engines. Shuffles: degree count + one (dst, partial-sum)
    aggregation — both map-side combinable, edge-bounded (the
    hot-bucket cap bounds degree at ~cap*bands, so no hub blowup).
    Further power iterations are the same job shape with pr re-joined;
    isolated docs (no candidate evidence) keep the uniform prior and
    are excluded by construction."""
    _, cand, _ = dedup_candidates(spark, sf_dir)
    e = cand.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        cand.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    s = (
        e.join(deg, "src")
        .select("dst", F.expr(f"{PR_FP}L div deg").alias("w"))
        .groupBy("dst")
        .agg(F.sum(F.col("w").cast("decimal(38,0)")).alias("q"))
    )
    return (
        deg.select(F.col("src").alias("doc_id"), "deg")
        .join(s.select(F.col("dst").alias("doc_id"), "q"), "doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("deg").cast("bigint").alias("degree"),
            (
                F.lit(0.15) / F.col("n")
                + F.lit(0.85) * (F.col("q").cast("double") / F.lit(float(PR_FP))) / F.col("n")
            ).alias("pr"),
        )
    )
