"""Training-data pipeline operators over the `documents` table:
deterministic splits, per-group sampling, benchmark-contamination
checks, PII scrubbing, text normalization.

These extend the north-star LLM-data layer (BASELINE.json; SURVEY.md
§2.10 extensions) with the curation steps a 100 TB pretraining corpus
actually goes through between dedup and tokenization.

Scale notes:
- split/sample assignment is a pure per-row hash projection — no
  shuffle at all for the split, one shuffle on the (small) group key
  for per-group sampling;
- contamination is a semi-join of corpus shingles against a BENCHMARK
  shingle set that is broadcast (benchmarks are tiny vs the corpus) —
  documents never shuffle;
- scrub/normalize are single-pass projections inside whole-stage
  codegen (JVM regex, no Python).

Cross-engine hashing: both Spark and DuckDB share lowercase-hex
``md5``; integer buckets are derived nibble-wise (instr/strpos over
the hex alphabet — the same proven idiom as SimHash) so assignments
are bit-identical and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nova_pulsar_spark.registry import register
from nova_pulsar_spark.sources.tables import load_table

_HEX = "0123456789abcdef"

TRAIN_PCT = 90  # 90/10 split
SAMPLE_PER_GROUP = 25


def _hash16_spark(col: F.Column) -> F.Column:
    """First 16 bits of md5(col) as an int — identical on both engines."""
    h = F.md5(col.cast("binary"))

    def nib(i: int) -> F.Column:
        return F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1

    return nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4)


def _hash16_sql(expr: str) -> str:
    return (
        f"((strpos('{_HEX}', substr(md5({expr}), 1, 1)) - 1) * 4096"
        f" + (strpos('{_HEX}', substr(md5({expr}), 2, 1)) - 1) * 256"
        f" + (strpos('{_HEX}', substr(md5({expr}), 3, 1)) - 1) * 16"
        f" + (strpos('{_HEX}', substr(md5({expr}), 4, 1)) - 1))"
    )


@register(
    "llm_split_train_test",
    sql=f"""
    SELECT doc_id,
           CAST({_hash16_sql("CAST(doc_id AS VARCHAR)")} % 100 AS INTEGER) AS bucket,
           CASE WHEN {_hash16_sql("CAST(doc_id AS VARCHAR)")} % 100 < {TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic hash-bucket train/test split (stable across runs, "
    "partitionings, and engines; zero shuffle)",
)
def llm_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A split must be a pure function of the example id — never of
    partition order or RNG state — so re-runs, backfills, and late
    additions land in the same side. md5-bucket mod 100 gives that;
    the projection runs map-side with no shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = (_hash16_spark(F.col("doc_id").cast("string")) % 100).cast("int")
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, "train").otherwise("test").alias("split"),
    )


def _leakage_safe_sql() -> str:
    from nova_pulsar_spark.operators.dedup import _CLUSTER_CTES

    rep = "CAST(COALESCE(c.component_id, d.doc_id) AS VARCHAR)"
    return (
        _CLUSTER_CTES
        + f""",
  comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src)
  SELECT d.doc_id,
         COALESCE(c.component_id, d.doc_id) AS rep_id,
         CAST({_hash16_sql(rep)} % 100 AS INTEGER) AS bucket,
         CASE WHEN {_hash16_sql(rep)} % 100 < {TRAIN_PCT}
              THEN 'train' ELSE 'test' END AS split
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """
    )


@register(
    "llm_split_leakage_safe",
    sql=_leakage_safe_sql(),
    doc="Leakage-safe train/test split: hash the doc's near-dup CLUSTER "
    "representative, not the doc — whole verified-duplicate clusters land on "
    "one side, so no near-dup of a test doc can sit in train; unclustered "
    "docs degrade to the plain hash split",
)
def llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash split (`llm_split_train_test`) is deterministic but
    leaks: two near-duplicate documents hash independently, so a test
    document's near-twin lands in train with P = 2·p·(1−p) — benchmark
    contamination by another name, and the reason eval suites dedup
    against training data cluster-wise (the Lee et al. 2022
    "Deduplicating training data" protocol). The fix is one line of
    algebra: split on a CLUSTER-invariant key. Each doc's
    representative is its verified-dup component id (from the shared
    cluster stage; docs in no cluster represent themselves), and the
    md5-bucket split hashes the representative — every edge of the dup
    graph is within one side by construction (`llm_split_leakage_rate`
    puts the zero in evidence against the naive split's rate).

    Scale: the cluster assignment is the already-materialized dup
    subgraph (corpus never shuffles for it); the split itself is the
    same map-side hash projection as the naive split, plus one join
    against the (small) component table — broadcast-or-shuffle by
    AQE's choice."""
    from nova_pulsar_spark.operators.dedup import llm_dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    comp = llm_dedup_clusters(spark, sf_dir).select("doc_id", "component_id")
    rep = F.coalesce(F.col("component_id"), F.col("doc_id"))
    bucket = (_hash16_spark(rep.cast("string")) % 100).cast("int")
    return (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("rep_id"),
            bucket.alias("bucket"),
            F.when(bucket < TRAIN_PCT, "train").otherwise("test").alias("split"),
        )
    )


def _leakage_rate_sql() -> str:
    from nova_pulsar_spark.operators.dedup import _CLUSTER_CTES

    na = _hash16_sql("CAST(p.doc_a AS VARCHAR)")
    nb = _hash16_sql("CAST(p.doc_b AS VARCHAR)")
    ra = _hash16_sql("CAST(ca.component_id AS VARCHAR)")
    rb = _hash16_sql("CAST(cb.component_id AS VARCHAR)")
    return (
        _CLUSTER_CTES
        + f""",
  comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src)
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
         CAST(SUM(CASE WHEN ({na} % 100 < {TRAIN_PCT})
                        <> ({nb} % 100 < {TRAIN_PCT}) THEN 1 ELSE 0 END) AS BIGINT)
           AS leak_naive,
         CAST(SUM(CASE WHEN ({ra} % 100 < {TRAIN_PCT})
                        <> ({rb} % 100 < {TRAIN_PCT}) THEN 1 ELSE 0 END) AS BIGINT)
           AS leak_safe,
         CAST(SUM(CASE WHEN ({na} % 100 < {TRAIN_PCT})
                        <> ({nb} % 100 < {TRAIN_PCT}) THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS leak_rate_naive
  FROM dup p
  JOIN comp ca ON ca.doc_id = p.doc_a
  JOIN comp cb ON cb.doc_id = p.doc_b
    """
    )


@register(
    "llm_split_leakage_rate",
    sql=_leakage_rate_sql(),
    doc="Split-leakage audit: of the verified near-dup pairs, how many "
    "straddle the naive per-doc hash split (leaked eval twins) vs the "
    "cluster-representative split (provably zero) — the honesty metric the "
    "leakage-safe split ships with",
)
def llm_split_leakage_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies what `llm_split_leakage_safe` fixes: every verified
    duplicate pair is checked against both splits. Under the naive
    per-doc hash, a pair straddles with P = 2·p·(1−p) (~0.32 at an
    80/20 split); under the representative split the count is zero BY
    CONSTRUCTION (both endpoints of a dup edge share a component),
    and this query keeps that invariant in evidence rather than in a
    comment. Same audit discipline as the cap-loss ledgers and
    `llm_minhash_jaccard_est`: the op that changes behavior ships with
    the query that measures the change. All work rides the shared
    materialized dup stage; output is one row."""
    from nova_pulsar_spark.operators.dedup import (
        DUP_THRESHOLD,
        _pair_jaccard,
        dedup_candidates,
        llm_dedup_clusters,
    )

    _, cand, ws = dedup_candidates(spark, sf_dir)
    dup = (
        _pair_jaccard(cand, ws)
        .filter(F.col("jaccard") >= DUP_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    comp = llm_dedup_clusters(spark, sf_dir).select("doc_id", "component_id")
    ca = comp.select(F.col("doc_id").alias("doc_a"), F.col("component_id").alias("comp_a"))
    cb = comp.select(F.col("doc_id").alias("doc_b"), F.col("component_id").alias("comp_b"))
    j = dup.join(ca, "doc_a").join(cb, "doc_b")
    side = lambda c: _hash16_spark(c.cast("string")) % 100 < TRAIN_PCT  # noqa: E731
    naive_leak = F.when(side(F.col("doc_a")) != side(F.col("doc_b")), 1).otherwise(0)
    safe_leak = F.when(side(F.col("comp_a")) != side(F.col("comp_b")), 1).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.sum(naive_leak).cast("bigint").alias("leak_naive"),
        F.sum(safe_leak).cast("bigint").alias("leak_safe"),
        (F.sum(naive_leak).cast("double") / F.count(F.lit(1))).alias("leak_rate_naive"),
    )


@register(
    "llm_sample_per_group",
    sql=f"""
    SELECT doc_id, lang, rn AS sample_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= {SAMPLE_PER_GROUP}
    """,
    doc="Deterministic stratified sample: top-N per language by hash rank "
    "(reproducible 'random' sample without RNG state)",
)
def llm_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-ordering is a rank per group — the reproducible replacement
    for rand()-based sampling: the same N docs come back on every run
    and every engine. The rank is the DISTRIBUTED grouped_rank
    (operators/ranks.py): lang is a low-cardinality key, so a
    `PARTITION BY lang` window would ship each language to one task
    at 100 TB; the range-partitioned rank carries (doc_id, lang,
    32-byte hash) rows only and no group ever owns a task."""
    from nova_pulsar_spark.operators.ranks import grouped_rank

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string").cast("binary")).alias("__h")
    )
    return (
        grouped_rank(h, ["lang"], ["__h", "doc_id"], spark.sparkContext.defaultParallelism)
        .filter(F.col("rn") <= SAMPLE_PER_GROUP)
        .select("doc_id", "lang", F.col("rn").alias("sample_rank"))
    )


# Benchmark set for the contamination check: at 100 TB this is the
# (tiny) eval-suite text; here the first documents stand in for it so
# the overlap join is exercised against real shingles.
N_BENCHMARK_DOCS = 3
CONTAM_MIN_OVERLAP = 5

# 3-gram shingles, guarded identically on both engines: docs with
# fewer than 3 words emit NO shingles. Without the guard the engines
# diverge on short docs (Spark's concat_ws skips missing slice
# elements → phantom 1/2-grams; DuckDB's `||` NULL-propagates).
_SHINGLES_SQL = (
    "CASE WHEN len(string_split(text, ' ')) >= 3 THEN "
    "list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] "
    "|| ' ' || string_split(text, ' ')[i+2]) ELSE [] END"
)


@register(
    "llm_contamination",
    sql=f"""
    WITH bench AS (
      SELECT DISTINCT UNNEST({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE doc_id < {N_BENCHMARK_DOCS}),
    doc_shingles AS (
      SELECT doc_id, UNNEST(list_distinct({_SHINGLES_SQL})) AS shingle
      FROM documents WHERE doc_id >= {N_BENCHMARK_DOCS})
    SELECT d.doc_id,
           COUNT(*) AS n_overlap,
           COUNT(*) >= {CONTAM_MIN_OVERLAP} AS contaminated
    FROM doc_shingles d JOIN bench b ON d.shingle = b.shingle
    GROUP BY d.doc_id
    """,
    doc="Benchmark-contamination check: corpus docs sharing 3-gram shingles "
    "with the eval set (broadcast benchmark shingles; corpus never shuffles)",
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination joins every corpus shingle against the benchmark
    shingle set. The benchmark side is tiny → broadcast hash join: the
    corpus is scanned once map-side, only matching (doc_id, shingle)
    rows reach the count shuffle. The same plan at 100 TB: benchmark
    shingles ship with the tasks; a bloom filter fronts the join.
    """
    d = load_table(spark, sf_dir, "documents")
    # Same <3-word guard as _SHINGLES_SQL: short docs emit no shingles
    # (concat_ws would otherwise fabricate 1/2-gram phantoms here while
    # the SQL twin NULL-propagates — engine divergence on short docs).
    shingles = F.array_distinct(
        F.expr(
            "CASE WHEN size(ws) >= 3 THEN "
            "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3))) "
            "ELSE array() END"
        )
    )
    with_ws = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    # Shingles fold to xxhash64 BIGINTs before the join: the output is
    # overlap COUNTS (hash-agnostic), so the broadcast set and the
    # probe stream both carry 8-byte longs instead of ~20-char strings
    # — smaller broadcast, cheaper probes; the string-keyed DuckDB
    # twin pins collision-freedom at test scale.
    bench = (
        with_ws.filter(F.col("doc_id") < N_BENCHMARK_DOCS)
        .select(F.explode(shingles).alias("s"))
        .select(F.xxhash64("s").alias("shingle"))
        .distinct()
    )
    corpus = (
        with_ws.filter(F.col("doc_id") >= N_BENCHMARK_DOCS)
        .select("doc_id", F.explode(shingles).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("shingle"))
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            (F.col("n_overlap") >= CONTAM_MIN_OVERLAP).alias("contaminated"),
        )
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
_LONGNUM_RE = "\\b\\d{9,}\\b"


@register(
    "llm_pii_scrub",
    sql=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_LONGNUM_RE}', '<ID>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS BIGINT) AS n_ids
    FROM documents
    """,
    doc="PII scrubbing: email/phone/long-number redaction with per-doc "
    "redaction counts (single JVM-regex pass, no Python)",
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _LONGNUM_RE,
        "<ID>",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(_LONGNUM_RE)).cast("bigint").alias("n_ids"),
    )


@register(
    "llm_text_normalize",
    sql="""
    SELECT doc_id,
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text,
           CAST(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT) AS norm_len,
           length(text) - length(regexp_replace(text, '\\s+', ' ', 'g')) >= 0 AS changed_ok
    FROM documents
    """,
    doc="Canonical text normalization: whitespace collapse + trim + casefold "
    "(the pre-dedup canonical form)",
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalizing BEFORE hashing/dedup makes trivially-different bytes
    (double spaces, case) collide — standard corpus canonicalization.
    Pure projection; stays in whole-stage codegen.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
        (
            F.length("text") - F.length(F.regexp_replace(F.col("text"), "\\s+", " ")) >= 0
        ).alias("changed_ok"),
    )


CTX_LEN = 2048  # packing context length (tokens)


@register(
    "llm_pack_sequences",
    sql=f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS tokens_before
      FROM t)
    SELECT doc_id, source, n_tokens,
           tokens_before // {CTX_LEN} AS bin_no,
           tokens_before % {CTX_LEN} AS bin_offset
    FROM c
    """,
    doc="Sequence packing (concat-and-chunk): per-source running token count "
    "assigns each doc a context-window bin + offset — the tokenizer-sharding "
    "step before training. One window per source partition, no driver state.",
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing, the streaming-friendly packing strategy
    real pretraining pipelines use (greedy bin packing is sequential;
    concatenation + fixed-size chunking is embarrassingly parallel):
    docs are laid out in deterministic (source, doc_id) order and the
    running token offset places each in its 2048-token bin. At 100 TB
    the window partitions by source shard — no global ordering needed.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    # distributed running sum (ranks.py grouped_prefix): source is a
    # low-cardinality key, so the former PARTITION BY source window
    # shipped each source's whole corpus to one task; the range-
    # partitioned prefix sum has no per-group task ceiling
    from nova_pulsar_spark.operators.ranks import grouped_prefix

    c = grouped_prefix(
        t,
        ["source"],
        ["doc_id"],
        spark.sparkContext.defaultParallelism,
        sums={"run_tokens": "n_tokens"},
    ).withColumn("tokens_before", F.col("run_tokens").cast("bigint") - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("tokens_before") / CTX_LEN).alias("bin_no"),
        (F.col("tokens_before") % CTX_LEN).alias("bin_offset"),
    )


@register(
    "llm_quality_repetition",
    sql="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, greatest(len(w), 2)),
                    i -> w[i] || ' ' || w[i+1])) AS gram
      FROM ws),
    counts AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram),
    top AS (
      SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
             CAST(SUM(cnt) AS BIGINT) AS total_bigrams
      FROM counts GROUP BY doc_id)
    SELECT ws.doc_id,
           top.total_bigrams, top.top_bigram_n,
           CAST(top.top_bigram_n AS DOUBLE) / top.total_bigrams AS top_bigram_frac,
           CAST(1.0 AS DOUBLE)
             - CAST(len(list_distinct(ws.w)) AS DOUBLE) / len(ws.w) AS dup_word_frac
    FROM ws JOIN top ON ws.doc_id = top.doc_id
    """,
    doc="Gopher-style repetition quality: top-bigram fraction + duplicate-word "
    "fraction per doc (the repetition filters of corpus curation)",
)
def llm_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters: docs dominated by one repeated bigram or by
    duplicated words are boilerplate/spam candidates. dup_word_frac is
    a row-local projection (no shuffle); the top-bigram pass shuffles
    (doc_id, gram) pairs with map-side combine — the same shape as
    MinHash shingling, linear in corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    grams = ws.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, greatest(size(w) - 1, 1)), i -> concat(get(w, i-1), ' ', get(w, i)))")  # NULL-safe OOB
        ).alias("gram"),
    )
    top = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").cast("bigint").alias("top_bigram_n"),
            F.sum("cnt").cast("bigint").alias("total_bigrams"),
        )
    )
    return (
        ws.join(top, "doc_id")
        .select(
            "doc_id",
            "total_bigrams",
            "top_bigram_n",
            (F.col("top_bigram_n").cast("double") / F.col("total_bigrams")).alias(
                "top_bigram_frac"
            ),
            (
                F.lit(1.0).cast("double")
                - F.size(F.array_distinct(F.col("w"))).cast("double") / F.size(F.col("w"))
            ).alias("dup_word_frac"),
        )
    )


CHUNK_TOKENS = 32  # chunk window (tokens)
CHUNK_STRIDE = 24  # stride between chunk starts (overlap = 32 - 24 = 8)


@register(
    "llm_chunk_overlap",
    sql=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents),
    st AS (
      SELECT doc_id, w, n,
             UNNEST(generate_series(0, n - 1, {CHUNK_STRIDE})) AS start
      FROM ws)
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_no,
           CAST(start AS BIGINT) AS start_token,
           array_to_string(w[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text,
           CAST(LEAST({CHUNK_TOKENS}, n - start) AS BIGINT) AS n_tokens
    FROM st
    """,
    doc=f"Sliding-window document chunking: {CHUNK_TOKENS}-token chunks every "
    f"{CHUNK_STRIDE} tokens ({CHUNK_TOKENS - CHUNK_STRIDE}-token overlap) — the "
    "context-window chunking step for retrieval / embedding pipelines",
)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking is a row-local explode — split once (lambda-CSE: the
    token array is materialized a single time per doc), generate the
    stride-spaced start offsets, slice. No shuffle at all: output
    chunks stay on the partition that read the document, which is
    exactly what a 100 TB embed/chunk pipeline wants (chunking feeds
    straight into the embedding UDF map-side).
    """
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).select(
        "doc_id", "w", F.size("w").alias("n")
    )
    st = ws.select(
        "doc_id",
        "w",
        "n",
        F.explode(F.expr(f"sequence(0, n - 1, {CHUNK_STRIDE})")).alias("start"),
    )
    return st.select(
        "doc_id",
        F.floor(F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_no"),
        F.col("start").cast("bigint").alias("start_token"),
        F.concat_ws(" ", F.expr(f"slice(w, start + 1, {CHUNK_TOKENS})")).alias("chunk_text"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start")).cast("bigint").alias("n_tokens"),
    )


MIX_ALPHA_NOTE = "alpha = 0.5 via sqrt (correctly-rounded IEEE op — identical across engines)"


@register(
    "llm_mix_weights",
    sql="""
    WITH s AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT list_reduce(list(SQRT(CAST(n_tokens AS DOUBLE)) ORDER BY source),
                         (a, b) -> a + b) AS z
      FROM s)
    SELECT s.source, s.n_docs, s.n_tokens,
           SQRT(CAST(s.n_tokens AS DOUBLE)) / tot.z AS weight
    FROM s CROSS JOIN tot
    """,
    doc="Domain-mixing weights: per-source temperature sampling, weight ∝ "
    "sqrt(tokens) normalized (alpha=0.5); the normalizer is a source-ordered "
    "sequential fold so the double sum is deterministic",
)
def llm_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled mixing (the data-scheduling step that keeps
    small domains represented): weight_i = sqrt(tokens_i) / Σ sqrt.
    The Σ over sources is a sequential fold in source order on BOTH
    engines (Spark `aggregate` over a sorted collect_list ≡ DuckDB
    `list_reduce(list(... ORDER BY source))`) — shuffle-order-proof.
    Sources are few (a broadcastable scalar), so the fold is O(1) work.
    """
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).cast("bigint").alias("n_tokens"),
    )
    tot = s.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(source, "
            "sqrt(CAST(n_tokens AS DOUBLE)) AS sq))), x -> x.sq), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("z")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")).alias("weight"),
    )


LEN_BUCKET = 64  # sequence-length histogram bucket width (tokens)


@register(
    "llm_length_bucket_stats",
    sql=f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT n_tokens // {LEN_BUCKET} AS bucket,
           CAST(n_tokens // {LEN_BUCKET} * {LEN_BUCKET} AS BIGINT) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * ((n_tokens // {LEN_BUCKET} + 1) * {LEN_BUCKET}) - SUM(n_tokens)
                AS BIGINT) AS pad_waste_tokens
    FROM t GROUP BY n_tokens // {LEN_BUCKET}
    """,
    doc=f"Sequence-length histogram ({LEN_BUCKET}-token buckets) with padding "
    "waste per bucket — the profile that sizes packing bins and batch shapes",
)
def llm_length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length profiling for batch-shape planning: bucketed token-count
    histogram plus `pad_waste = Σ(bucket_ceiling − n_tokens)`, the
    tokens burned if every doc padded to its bucket ceiling (what
    length-bucketed batching would cost vs. packing). One map-side
    bucket projection, one {LEN_BUCKET}-ary groupBy — scan-bound."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    bucket = (n_tokens / LEN_BUCKET).cast("bigint")
    # per-row pad-to-bucket-ceiling, then one sum per bucket
    t = d.select(
        bucket.alias("bucket"),
        n_tokens.alias("n_tokens"),
        ((bucket + 1) * LEN_BUCKET - n_tokens).alias("pad"),
    )
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("pad").cast("bigint").alias("pad_waste_tokens"),
        )
        .select(
            "bucket",
            (F.col("bucket") * LEN_BUCKET).cast("bigint").alias("bucket_lo"),
            "n_docs",
            "total_tokens",
            "pad_waste_tokens",
        )
    )


@register(
    "llm_normalize_repeats",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c AS (
      SELECT doc_id, ws,
             list_filter(ws, (x, i) -> i = 1 OR x <> ws[i - 1]) AS collapsed
      FROM w)
    SELECT doc_id,
           array_to_string(collapsed, ' ') AS clean_text,
           CAST(len(ws) AS BIGINT) AS n_before,
           CAST(len(collapsed) AS BIGINT) AS n_after,
           CAST(len(ws) - len(collapsed) AS BIGINT) AS n_collapsed
    FROM c
    """,
    doc="Intra-document repetition collapse: consecutive duplicate tokens "
    "fold to one (stutter/boilerplate cleanup) — map-only, no shuffle",
)
def llm_normalize_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length token collapse as one lambda filter per row: token i
    survives iff it differs from token i−1. Spark's filter lambda index
    is 0-based while element_at is 1-based, so `element_at(ws, i)` IS
    the previous token; DuckDB's list lambdas are 1-based with direct
    indexing — both engines produce byte-identical cleaned text. Pure
    map work inside whole-stage codegen: at 100 TB this is scan-bound,
    the cheapest possible cleanup pass."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    collapsed = F.expr("filter(ws, (x, i) -> i = 0 OR x != element_at(ws, i))")
    return (
        w.select("doc_id", "ws", collapsed.alias("collapsed"))
        .select(
            "doc_id",
            F.array_join(F.col("collapsed"), " ").alias("clean_text"),
            F.size("ws").cast("bigint").alias("n_before"),
            F.size("collapsed").cast("bigint").alias("n_after"),
            (F.size("ws") - F.size("collapsed")).cast("bigint").alias("n_collapsed"),
        )
    )


SAMPLE_K = 100  # expected sample size for the weighted Bernoulli draw


@register(
    "llm_sample_weighted",
    sql=f"""
    WITH tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS sum_w FROM documents)
    SELECT doc_id, n_chars AS weight
    FROM documents, tot
    WHERE {_hash16_sql("CAST(doc_id AS VARCHAR)")} * sum_w
          < {65536 * SAMPLE_K} * n_chars
    """,
    doc=f"Weight-proportional Bernoulli sample (E[size]={SAMPLE_K}): include "
    "iff hash-uniform u < K*w/Σw, all-integer comparison — deterministic, "
    "shuffle-free scan after one scalar total",
)
def llm_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without RNG state: each doc's 16-bit md5 draw u
    is compared against K·w/Σw, but cross-multiplied into integers
    (u·Σw < 2¹⁶·K·w) so both engines decide inclusion with exact
    BIGINT arithmetic — no float rounding at the boundary, stable
    under re-runs and backfills exactly like llm_split_train_test.
    Σw is one map-combinable integer aggregate broadcast as a scalar;
    the sample itself is then a map-side filter over the corpus scan —
    no shuffle, no sort, no coordination. At 100 TB row counts the
    cross-product needs 128-bit (or per-partition scaled) arithmetic;
    the 16-bit draw grain is the test-SF simplification of the same
    scheme (production: 63-bit draw, DECIMAL(38) cross-multiply).
    Heavier docs are proportionally likelier: E[sample] = K exactly.
    """
    d = load_table(spark, sf_dir, "documents")
    tot = d.agg(F.sum("n_chars").cast("bigint").alias("sum_w"))
    u = _hash16_spark(F.col("doc_id").cast("string")).cast("bigint")
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(u * F.col("sum_w") < F.lit(65536 * SAMPLE_K) * F.col("n_chars"))
        .select("doc_id", F.col("n_chars").alias("weight"))
    )


# --- Bloom-prefiltered contamination -------------------------------------
# A deterministic 3840-bit bloom bitmap (64 words x 60 bits, single md5
# hash) built from the benchmark shingle set and applied map-side to the
# corpus shingle stream BEFORE the exact join. Engine-portable integer
# arithmetic end to end, so the bitmap is bit-identical across engines
# and the whole pipeline stays oracle-checkable. 60-bit words keep every
# shift result positive in int64 on both engines.

BLOOM_WORD_BITS = 60
BLOOM_WORDS = 64
BLOOM_BITS = BLOOM_WORD_BITS * BLOOM_WORDS


def _hash12_spark(col: F.Column) -> F.Column:
    """First 12 bits of md5(col) as an int — identical on both engines."""
    h = F.md5(col.cast("binary"))

    def nib(i: int) -> F.Column:
        return F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1

    return nib(1) * 256 + nib(2) * 16 + nib(3)


def _hash12_sql(expr: str) -> str:
    return (
        f"((strpos('{_HEX}', substr(md5({expr}), 1, 1)) - 1) * 256"
        f" + (strpos('{_HEX}', substr(md5({expr}), 2, 1)) - 1) * 16"
        f" + (strpos('{_HEX}', substr(md5({expr}), 3, 1)) - 1))"
    )


@register(
    "llm_contamination_bloom",
    sql=f"""
    WITH bench AS (
      SELECT DISTINCT UNNEST({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE doc_id < {N_BENCHMARK_DOCS}),
    bloom AS (
      SELECT ({_hash12_sql("shingle")} % {BLOOM_BITS}) // {BLOOM_WORD_BITS} AS w,
             bit_or(CAST(1 AS BIGINT) << (({_hash12_sql("shingle")} % {BLOOM_BITS})
                                          % {BLOOM_WORD_BITS})) AS bits
      FROM bench GROUP BY 1),
    doc_shingles AS (
      SELECT doc_id, UNNEST(list_distinct({_SHINGLES_SQL})) AS shingle
      FROM documents WHERE doc_id >= {N_BENCHMARK_DOCS}),
    hashed AS (
      SELECT doc_id, shingle,
             ({_hash12_sql("shingle")} % {BLOOM_BITS}) // {BLOOM_WORD_BITS} AS w,
             ({_hash12_sql("shingle")} % {BLOOM_BITS}) % {BLOOM_WORD_BITS} AS bit
      FROM doc_shingles),
    passed AS (
      SELECT h.doc_id, h.shingle
      FROM hashed h JOIN bloom b ON h.w = b.w
      WHERE (b.bits >> h.bit) & 1 = 1)
    SELECT p.doc_id,
           COUNT(*) AS n_overlap,
           COUNT(*) >= {CONTAM_MIN_OVERLAP} AS contaminated
    FROM passed p JOIN bench ON p.shingle = bench.shingle
    GROUP BY p.doc_id
    """,
    doc="Contamination check fronted by a deterministic 3840-bit bloom "
    "bitmap: corpus shingles are pruned map-side before the exact join — "
    "identical results to llm_contamination (no false negatives)",
)
def llm_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom-fronted join the llm_contamination docstring promises,
    realized: the benchmark shingle set folds into 64 bit_or words
    (≤1 KB broadcast with the tasks); each corpus shingle tests one
    bit map-side and only survivors reach the exact hash join. At
    100 TB the bloom eliminates ~(1-k/m) of the corpus stream before
    any join machinery — the explicit, engine-portable form of
    Spark's InjectRuntimeFilter. False positives are culled by the
    exact join that follows; false negatives are impossible, so the
    result set is byte-identical to the unfiltered operator (asserted
    in pytest). All arithmetic is integer md5-nibble hashing + shifts
    inside 60-bit words — the bitmap is bit-identical across engines,
    keeping even the probabilistic stage oracle-checkable."""
    d = load_table(spark, sf_dir, "documents")
    shingles = F.array_distinct(
        F.expr(
            "CASE WHEN size(ws) >= 3 THEN "
            "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3))) "
            "ELSE array() END"
        )
    )
    with_ws = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    bench = (
        with_ws.filter(F.col("doc_id") < N_BENCHMARK_DOCS)
        .select(F.explode(shingles).alias("shingle"))
        .distinct()
    )
    h = _hash12_spark(F.col("shingle")) % BLOOM_BITS
    bloom = (
        bench.select((h / BLOOM_WORD_BITS).cast("int").alias("w"), (h % BLOOM_WORD_BITS).cast("int").alias("bit"))
        .select("w", F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("m"))
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )
    corpus = with_ws.filter(F.col("doc_id") >= N_BENCHMARK_DOCS).select(
        "doc_id", F.explode(shingles).alias("shingle")
    )
    hashed = corpus.select(
        "doc_id",
        "shingle",
        (h / BLOOM_WORD_BITS).cast("int").alias("w"),
        (h % BLOOM_WORD_BITS).cast("int").alias("bit"),
    )
    passed = hashed.join(F.broadcast(bloom), "w").filter(
        F.expr("(shiftright(bits, bit) & CAST(1 AS BIGINT)) = 1")
    )
    return (
        passed.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            (F.col("n_overlap") >= CONTAM_MIN_OVERLAP).alias("contaminated"),
        )
    )


# --- Group-normalized quality (per-language z-scores) ----------------------


@register(
    "llm_quality_zscore",
    sql="""
    WITH base AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x FROM documents),
    st AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM base GROUP BY lang),
    m AS (
      SELECT lang, n, s, ss,
             CAST(s AS DOUBLE) / n AS mu,
             SQRT(GREATEST(0.0, CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))) AS sd
      FROM st)
    SELECT b.doc_id, b.lang, b.x AS n_chars, m.mu AS lang_mean,
           (b.x - m.mu) / NULLIF(m.sd, 0) AS zscore
    FROM base b JOIN m ON m.lang = b.lang
    """,
    doc="Per-language z-score of document length: integer sum/sumsq per "
    "group, fixed-order float math, broadcast join back — the "
    "cross-language-comparable quality normalization",
)
def llm_quality_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scores are not comparable across languages (a 'good'
    length/stopword/perplexity value differs per language), so real
    curation pipelines normalize per group before thresholding — this
    is that op, on the n_chars signal (swap in any scalar score).

    Exactness: per-group moments come from INTEGER sum and sum-of-
    squares (order-independent under any partitioning), converted to
    doubles in one fixed operation order (s/n, ss/n - mu*mu, sqrt);
    the z-score is then one subtraction and one division per row.
    Degenerate groups (constant value -> sd = 0) yield NULL on both
    engines via NULLIF. Scale: one map-side-combinable groupBy over
    |groups| rows, the stats frame broadcasts back — the corpus is
    scanned once and never shuffled."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("x"))
    st = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    m = st.select(
        "lang",
        mu.alias("mu"),
        F.sqrt(F.greatest(F.lit(0.0), F.col("ss").cast("double") / F.col("n") - mu * mu)).alias("sd"),
    )
    return base.join(F.broadcast(m), "lang").select(
        "doc_id",
        "lang",
        F.col("x").alias("n_chars"),
        F.col("mu").alias("lang_mean"),
        ((F.col("x") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0))).alias("zscore"),
    )



@register(
    "llm_quality_percentile",
    sql="""
    WITH ranked AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n,
             NTILE(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile
      FROM documents)
    SELECT doc_id, source, x AS n_chars,
           CAST(rn AS DOUBLE) / n AS pctile,
           CAST(decile AS INT) AS decile
    FROM ranked
    """,
    doc="Per-source percentile calibration of a quality signal (rank/n + "
    "decile) — the rank-based, outlier-immune normalization curation "
    "pipelines use when per-source score distributions are heavy-tailed; "
    "distributed rank, no per-source task ceiling",
)
def llm_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust twin of `llm_quality_zscore`: z-scores assume the
    per-source score distribution has a meaningful mean/sd — web-crawl
    quality signals usually don't (heavy tails, boilerplate spikes).
    Percentile calibration is distribution-free: a doc's rank within
    its source divided by the source size, plus the NTILE(10) decile
    downstream mixers threshold on ("keep the top 3 deciles of every
    source" is the standard curation contract, and is immune to one
    source's scorer running hot).

    Scale: source is a LOW-cardinality key, so the naive
    `PARTITION BY source` window ships each source's whole corpus to
    one task; this uses the distributed grouped_rank
    (operators/ranks.py — range partitions + broadcast offsets), under
    which no group ever owns a task. pctile is one IEEE division of
    exact integers and NTILE is integer div/mod on (rank, n), so both
    engines agree bit-exactly; the (n_chars, doc_id) tie-break makes
    every rank deterministic."""
    from nova_pulsar_spark.operators.ranks import grouped_rank, ntile_expr

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("x")
    )
    # asc_nulls_last pins the one place the engines disagree on this
    # plan: Spark default-ASC sorts NULLs FIRST, DuckDB LAST (the
    # dq_winsorize divergence class — ranked here, not excluded)
    ranked = grouped_rank(
        d,
        ["source"],
        [F.col("x").asc_nulls_last(), F.col("doc_id")],
        spark.sparkContext.defaultParallelism,
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("x").alias("n_chars"),
        (F.col("rn").cast("double") / F.col("n")).alias("pctile"),
        ntile_expr("rn", "n", 10).cast("int").alias("decile"),
    )


# --- LLM-judge quality scoring seam (S11/L1 generalized to data) -----------
# The reference's signature operator is an external-LLM call whose
# reply is validated and falls back to a deterministic algorithm
# (scripts/starry-daemon.sh:136-168 / orbiter.md:25-33; the scheduler
# seam in plans/scheduler.py:select_plan mirrors it for dispatch).
# Modern curation pipelines use the same shape for model-based quality
# scoring ("LLM-as-judge"): this operator is that seam over documents,
# batched through mapInPandas so an external model (subprocess, HTTP,
# in-process) scores Arrow-sized batches — with per-batch validation
# and the deterministic heuristic as fallback.

JUDGE_SCHEMA = "doc_id long, n_words long, judge_score double, judged_by string"


def judge_quality(docs: DataFrame, judge=None) -> DataFrame:
    """Score documents with an injectable ``judge``.

    ``judge``: ``Callable[[list[str]], list[float]] | None`` — gets one
    Arrow batch of texts, returns one score in [0, 1] per text. A
    judge exception, a length mismatch, or any out-of-range/non-finite
    score REJECTS the whole batch and falls back to the deterministic
    heuristic (exactly the daemon's validate-or-fallback contract).
    ``judge=None`` is the pure heuristic — the oracle-checked path.

    Scale: mapInPandas streams Arrow batches through the scorer; the
    plan is a single map stage (no shuffle), so an external model
    bounds throughput, not Spark. Batches are independent → failures
    degrade per batch, not per job."""
    import pandas as pd  # local import: worker-side function below

    def gen(batches):
        for pdf in batches:
            texts = pdf["text"]
            # Nullable dtypes (Int64/Float64) end-to-end: a bare None
            # coerces to numpy NaN in float64, and Arrow ships NaN as
            # NaN — not NULL — which diverges from the SQL twin on
            # NULL-text rows (edge-fixture finding). pd.NA survives
            # the Arrow boundary as a true NULL.
            n_words = texts.str.split(" ").map(
                lambda ws: len(ws) if isinstance(ws, list) else None
            ).astype("Int64")
            heur = (n_words.clip(upper=50).astype("Float64") / 50.0).where(n_words.notna())
            scores, by = heur, "heuristic"
            if judge is not None:
                try:
                    ext = judge(list(texts.fillna("")))
                    ok = (
                        isinstance(ext, (list, tuple))
                        and len(ext) == len(texts)
                        and all(
                            isinstance(x, (int, float)) and x == x and 0.0 <= x <= 1.0
                            for x in ext
                        )
                    )
                    if ok:
                        scores = (
                            pd.Series([float(x) for x in ext], index=texts.index)
                            .astype("Float64")
                            .where(texts.notna())
                        )
                        by = "external"
                except Exception:
                    pass  # fall through to heuristic
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "judge_score": scores,
                    "judged_by": by,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(gen, JUDGE_SCHEMA)


@register(
    "llm_judge_quality",
    sql="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           -- LEAST ignores NULL args on both engines (fuzz class 3),
           -- so NULL text needs the explicit guard or it scores 50/50
           CASE WHEN text IS NULL THEN NULL
                ELSE LEAST(len(string_split(text, ' ')), 50) / 50.0 END AS judge_score,
           'heuristic' AS judged_by
    FROM documents
    """,
    doc="LLM-judge quality seam: mapInPandas batch scorer with injectable "
    "external model, per-batch validation, deterministic fallback "
    "(the reference's validate-or-fallback external-call contract)",
)
def llm_judge_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return judge_quality(load_table(spark, sf_dir, "documents"))


# --- Apply the mixture: per-source down-sampling to the target weights -----


@register(
    "llm_mix_apply",
    sql=f"""
    WITH s AS (
      SELECT source,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT list_reduce(list(SQRT(CAST(n_tokens AS DOUBLE)) ORDER BY source),
                         (a, b) -> a + b) AS z,
             CAST(SUM(n_tokens) AS BIGINT) AS t_all
      FROM s),
    rates AS (
      SELECT s.source,
             ((SQRT(CAST(s.n_tokens AS DOUBLE)) / tot.z) * tot.t_all / s.n_tokens)
               / MAX((SQRT(CAST(s.n_tokens AS DOUBLE)) / tot.z) * tot.t_all / s.n_tokens) OVER ()
               AS keep_rate
      FROM s CROSS JOIN tot)
    SELECT d.doc_id, d.source, r.keep_rate,
           {_hash16_sql("CAST(d.doc_id AS VARCHAR)")} < r.keep_rate * 65536 AS kept
    FROM documents d JOIN rates r ON r.source = d.source
    """,
    doc="Mixture application: per-source deterministic Bernoulli keep at "
    "rate (target_weight / current_share) / max_ratio — down-samples "
    "over-represented sources to the sqrt-temperature mixture",
)
def llm_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`llm_mix_weights` says WHAT the mixture should be; this op makes
    it so: each source keeps documents at rate proportional to
    target_weight / current_token_share, normalized so the most
    under-represented source keeps everything — i.e. down-sample the
    over-represented, never up-sample (the standard one-epoch mixing
    rule). The keep decision is the proven deterministic-hash
    Bernoulli (md5 16-bit bucket vs rate), so re-runs and engines
    agree doc-by-doc.

    Plan: one groupBy over sources (tiny), the z/max normalizers
    computed with order-deterministic folds / order-independent MAX on
    the source-sized frame, then ONE broadcast join back — the corpus
    is scanned once, map-side, and never shuffled. At 100 TB the rates
    frame is a handful of literals shipped with the tasks."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).cast("bigint").alias("n_tokens"),
    )
    tot = s.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(source, "
            "sqrt(CAST(n_tokens AS DOUBLE)) AS sq))), x -> x.sq), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("z"),
        F.sum("n_tokens").cast("bigint").alias("t_all"),
    )
    ratio = (
        (F.sqrt(F.col("n_tokens").cast("double")) / F.col("z"))
        * F.col("t_all")
        / F.col("n_tokens")
    )
    from pyspark.sql.window import Window as W

    rates = (
        s.crossJoin(F.broadcast(tot))
        .select("source", ratio.alias("ratio"))
        .select("source", (F.col("ratio") / F.max("ratio").over(W.partitionBy())).alias("keep_rate"))
    )
    return d.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        "keep_rate",
        (
            _hash16_spark(F.col("doc_id").cast("string")).cast("double")
            < F.col("keep_rate") * 65536
        ).alias("kept"),
    )


# --- DSIR importance-resampling weights (targeted data selection) ----------

DSIR_TARGET_SOURCE = "src0"  # the "high-quality target" proxy corpus
DSIR_NB = 256  # hashed n-gram feature buckets
DSIR_FP = 1048576.0  # 2^20 fixed-point scale for per-doc accumulation


@register(
    "llm_dsir_weights",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS token
      FROM documents),
    bk AS (
      SELECT doc_id, source, {_hash16_sql("token")} % {DSIR_NB} AS b FROM tok),
    cnt AS (
      SELECT b, COUNT(*) AS cr,
             COUNT(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}') AS ct
      FROM bk GROUP BY b),
    r AS (
      SELECT b,
             CAST(FLOOR(CAST(ct + 1 AS DOUBLE) * CAST(SUM(cr) OVER () + {DSIR_NB} AS DOUBLE)
                  / (CAST(cr + 1 AS DOUBLE) * CAST(SUM(ct) OVER () + {DSIR_NB} AS DOUBLE))
                  * {DSIR_FP}) AS BIGINT) AS qr
      FROM cnt),
    ds AS (
      SELECT bk.doc_id, COUNT(*) AS n_tokens, SUM(r.qr) AS wq
      FROM bk JOIN r ON r.b = bk.b
      GROUP BY bk.doc_id)
    SELECT d.doc_id, d.source,
           CAST(COALESCE(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(ds.wq AS DOUBLE) / {DSIR_FP} / ds.n_tokens AS dsir_weight
    FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id
    """,
    doc="DSIR-style importance-resampling weights: hashed unigram features, "
    "add-1-smoothed target/raw likelihood ratio per bucket (rational — "
    "log-free, see idf/BM25 precedent), mean ratio per document — the "
    "targeted data-selection scorer (Xie et al. 2023, arXiv:2302.03169)",
)
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling, Spark-first: tokens
    hash into {DSIR_NB} buckets (16-bit md5 head — engine-shared), ONE
    corpus scan builds both the raw and target bucket counts
    (conditional count, no second pass), and the per-bucket smoothed
    likelihood ratio table — {DSIR_NB} rows, broadcast — scores every
    document by its mean token ratio. The paper sums LOG ratios;
    log() is not correctly-rounded cross-engine (same reason idf/BM25
    here use rational forms), so the registered score is the mean
    ratio — resampling callers can take log at the boundary. Per-doc
    accumulation is fixed-point (floor(ratio*2^20) BIGINT per bucket,
    DECIMAL(38,0) sums), so weights are order/partition-exact. The
    shuffles: token->bucket counts (map-side combinable, bucket-bounded)
    and the per-doc sum (doc-bounded) — nothing pairwise, no Python.
    Docs with no tokens keep NULL weight (no evidence) via the left
    join back to the full document set."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    bk = tok.select(
        "doc_id", "source", (_hash16_spark(F.col("token")) % DSIR_NB).alias("b")
    )
    bk = bk.localCheckpoint()  # two consumers: bucket counts + per-doc rescore
    cnt = bk.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, F.lit(1))).alias("ct"),
    )
    w = W.partitionBy()
    r = cnt.select(
        "b",
        F.floor(
            (F.col("ct") + 1).cast("double")
            * (F.sum("cr").over(w) + DSIR_NB).cast("double")
            / ((F.col("cr") + 1).cast("double") * (F.sum("ct").over(w) + DSIR_NB).cast("double"))
            * F.lit(DSIR_FP)
        ).alias("qr"),
    )
    ds = (
        bk.join(F.broadcast(r), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("qr").cast("decimal(38,0)")).alias("wq"),
        )
    )
    return (
        d.select("doc_id", "source")
        .join(ds, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            (F.col("wq").cast("double") / F.lit(DSIR_FP) / F.col("n_tokens")).alias("dsir_weight"),
        )
    )


# --- Per-document contamination rate (the decontamination report) ----------

CONTAM_FRAC_HI = 0.5  # >= half the doc's shingles in the benchmark -> drop
CONTAM_FRAC_LO = 0.1  # partial overlap -> flag for review


@register(
    "llm_contamination_rate",
    sql=f"""
    WITH bench AS (
      SELECT DISTINCT UNNEST({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE doc_id < {N_BENCHMARK_DOCS}),
    ds AS (
      SELECT doc_id, UNNEST(list_distinct({_SHINGLES_SQL})) AS shingle
      FROM documents WHERE doc_id >= {N_BENCHMARK_DOCS}),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ds GROUP BY doc_id),
    ov AS (
      SELECT d.doc_id, COUNT(*) AS n_overlap
      FROM ds d JOIN bench b ON d.shingle = b.shingle
      GROUP BY d.doc_id)
    SELECT c.doc_id,
           CAST(COALESCE(t.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CASE WHEN t.n_shingles IS NULL THEN NULL
                ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_shingles
           END AS overlap_frac,
           CASE WHEN t.n_shingles IS NULL THEN 'no_signal'
                WHEN CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_shingles >= {CONTAM_FRAC_HI} THEN 'contaminated'
                WHEN CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_shingles >= {CONTAM_FRAC_LO} THEN 'partial'
                ELSE 'clean' END AS tier
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {N_BENCHMARK_DOCS}) c
    LEFT JOIN tot t ON t.doc_id = c.doc_id
    LEFT JOIN ov o ON o.doc_id = c.doc_id
    """,
    doc="Per-document contamination RATE: fraction of a doc's distinct "
    "3-gram shingles found in the benchmark set, tiered into "
    "clean/partial/contaminated/no_signal — the decontamination decision "
    "report (llm_contamination gives raw counts; this is the policy head)",
)
def llm_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report released alongside model evals: not just which docs
    touch the benchmark (llm_contamination's count head) but what
    FRACTION of each doc overlaps, tiered for the drop/review/keep
    decision. Same scale shape as the count head — benchmark shingles
    broadcast, corpus scanned once; per-doc shingle totals come from a
    map-side size(array_distinct(...)) (no extra shuffle), so the only
    exchanges are the matched-rows count and the final left join on
    doc_id. Docs too short to shingle (< 3 words / NULL text) report
    tier 'no_signal' with NULL fraction on both engines."""
    d = load_table(spark, sf_dir, "documents")
    shingles = F.array_distinct(
        F.expr(
            "CASE WHEN size(ws) >= 3 THEN "
            "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3))) "
            "ELSE array() END"
        )
    )
    with_ws = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    bench = (
        with_ws.filter(F.col("doc_id") < N_BENCHMARK_DOCS)
        .select(F.explode(shingles).alias("s"))
        .select(F.xxhash64("s").alias("shingle"))
        .distinct()
    )
    corpus = with_ws.filter(F.col("doc_id") >= N_BENCHMARK_DOCS).select(
        "doc_id", shingles.alias("sh")
    )
    corpus = corpus.localCheckpoint()  # totals + overlap probe both read it
    totals = corpus.select("doc_id", F.size("sh").cast("bigint").alias("n_shingles"))
    ov = (
        corpus.select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.xxhash64("s").alias("shingle"))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_sh = F.col("n_shingles")
    n_ov = F.coalesce("n_overlap", F.lit(0)).cast("bigint")
    frac = F.when(n_sh > 0, n_ov.cast("double") / n_sh)
    return (
        totals.join(ov, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_ov.alias("n_overlap"),
            frac.alias("overlap_frac"),
            F.when(n_sh == 0, F.lit("no_signal"))
            .when(frac >= CONTAM_FRAC_HI, F.lit("contaminated"))
            .when(frac >= CONTAM_FRAC_LO, F.lit("partial"))
            .otherwise(F.lit("clean"))
            .alias("tier"),
        )
    )


# --- Token-budget waterfilling across sources -------------------------------


@register(
    "llm_mix_budget",
    sql="""
    WITH s AS (
      SELECT source,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS avail
      FROM documents GROUP BY source),
    tot AS (
      SELECT SUM(avail) AS total, COUNT(*) AS n_src,
             SUM(avail) // 2 AS budget
      FROM s),
    r AS (
      SELECT s.source, s.avail, tot.budget, tot.n_src,
             ROW_NUMBER() OVER (ORDER BY s.avail, s.source) AS k,
             SUM(s.avail) OVER (ORDER BY s.avail, s.source
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
      FROM s CROSS JOIN tot),
    sat AS (
      SELECT *, CASE WHEN pk + avail * (n_src - k) <= budget THEN 1 ELSE 0 END AS saturated
      FROM r),
    lvl AS (
      SELECT MAX(budget) AS budget, MAX(n_src) AS n_src,
             SUM(saturated) AS n_sat,
             COALESCE(SUM(CASE WHEN saturated = 1 THEN avail END), 0) AS p_sat
      FROM sat),
    wl AS (
      SELECT CASE WHEN n_sat < n_src
                  THEN CAST(budget - p_sat AS DOUBLE) / (n_src - n_sat)
             END AS level
      FROM lvl)
    SELECT sat.source, CAST(sat.avail AS BIGINT) AS avail_tokens,
           CAST(sat.saturated AS BIGINT) AS saturated,
           CASE WHEN sat.saturated = 1 THEN CAST(sat.avail AS DOUBLE)
                ELSE wl.level END AS allocated_tokens,
           wl.level AS water_level
    FROM sat CROSS JOIN wl
    """,
    doc="Token-budget waterfilling across sources (budget = half the "
    "corpus): equalize per-source contributions up to availability — "
    "closed-form level from sorted prefix sums, no iteration",
)
def llm_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture-budget allocator: spend a token budget across
    sources as evenly as availability allows (small sources
    contribute everything they have; big sources are capped at a
    common water level L with Σ min(avail, L) = budget). The naive
    solver iterates; the closed form is one SORT over the source
    summary: after the k smallest sources saturate, L would be
    (budget − prefix_k)/(n − k), and a source is saturated exactly
    when prefix_k + avail_k·(n−k) ≤ budget — a single window over
    the per-source frame (tiny: one row per source; the only
    corpus-sized work is the token count groupBy). Everything is
    integer until the one L division, so both engines agree
    bit-exactly; ties in avail sort by (avail, source) and leave L
    unchanged. budget ≥ total degenerates to full allocation
    (level NULL, every source saturated)."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias("avail")
    )
    tot = s.agg(
        F.sum("avail").alias("total"),
        F.count(F.lit(1)).alias("n_src"),
        (F.sum("avail") / 2).cast("bigint").alias("budget"),
    )
    w = W.orderBy("avail", "source")
    r = (
        s.crossJoin(F.broadcast(tot))
        .withColumn("k", F.row_number().over(w))
        .withColumn("pk", F.sum("avail").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    sat = r.withColumn(
        "saturated",
        F.when(
            F.col("pk") + F.col("avail") * (F.col("n_src") - F.col("k")) <= F.col("budget"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # Runs the scan, token-count and window stages at build time (AQE), so
    # the level aggregate and the final select read them once, not twice.
    sat = sat.localCheckpoint(eager=False)
    lvl = sat.agg(
        F.max("budget").alias("budget"),
        F.max("n_src").alias("n_src"),
        F.sum("saturated").alias("n_sat"),
        F.coalesce(F.sum(F.when(F.col("saturated") == 1, F.col("avail"))), F.lit(0)).alias(
            "p_sat"
        ),
    )
    wl = lvl.select(
        F.when(
            F.col("n_sat") < F.col("n_src"),
            (F.col("budget") - F.col("p_sat")).cast("double") / (F.col("n_src") - F.col("n_sat")),
        ).alias("level")
    )
    return sat.crossJoin(F.broadcast(wl)).select(
        "source",
        F.col("avail").cast("bigint").alias("avail_tokens"),
        F.col("saturated").cast("bigint").alias("saturated"),
        F.when(F.col("saturated") == 1, F.col("avail").cast("double"))
        .otherwise(F.col("level"))
        .alias("allocated_tokens"),
        F.col("level").alias("water_level"),
    )


# --- Output sharding: size-balanced shard assignment ----------------------

SHARD_K = 16  # output shards for the registered rendition


@register(
    "llm_shard_balance",
    sql=f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn0
      FROM t)
    SELECT CAST(CASE WHEN (rn0 // {SHARD_K}) % 2 = 0
                     THEN rn0 % {SHARD_K}
                     ELSE {SHARD_K} - 1 - (rn0 % {SHARD_K}) END AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM r GROUP BY 1
    """,
    doc=f"Size-balanced output sharding: serpentine (boustrophedon) assignment "
    f"of token-count-ranked docs onto {SHARD_K} shards — the write-layout step "
    "that makes N output files near-equal in token mass instead of doc count",
)
def llm_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced write layout — the last step before a 100 TB corpus is
    written as N files/partitions consumed round-robin by trainers.
    Hash sharding balances document COUNT; token mass per shard then
    varies with the length distribution, and stragglers follow. This
    operator assigns shards serpentine over the global token-count
    rank (longest-first; pass 0 deals shards 0..K-1, pass 1 deals
    K-1..0, ...), the classic two-pass balancing strip: every shard
    receives exactly one doc per K-sized pass, and alternating
    direction cancels the within-pass size gradient, so shard token
    sums differ by at most one pass's spread.

    Scale: the only global structure is the corpus-global rank, built
    with the audited distributed-rank pattern (``ranks.grouped_rank``
    with empty group cols: range partitions + local windows +
    broadcast offsets — never a single-partition window); the
    serpentine assignment is per-row arithmetic on the rank, and the
    audit rollup is a {SHARD_K}-key map-side-combinable groupBy. The
    returned frame is the audit view (shard, n_docs, shard_tokens);
    production joins the assignment back and writes
    ``.repartition(shard)`` — that per-doc view is registered as
    ``llm_shard_assign``."""
    return (
        _serpentine_assign(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
    )


def _serpentine_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, shard): serpentine shard assignment over the
    global token-count rank — the shared stage behind llm_shard_balance
    (the audit rollup) and llm_shard_assign (the production view)."""
    from nova_pulsar_spark.operators.ranks import grouped_rank

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    r = grouped_rank(
        t,
        [],
        [F.col("n_tokens").desc(), F.col("doc_id")],
        spark.sparkContext.defaultParallelism,
    ).withColumn("rn0", F.col("rn") - 1)
    passno = F.floor(F.col("rn0") / SHARD_K)
    pos = F.col("rn0") % SHARD_K
    shard = F.when(passno % 2 == 0, pos).otherwise(F.lit(SHARD_K - 1) - pos)
    return r.select("doc_id", "n_tokens", shard.cast("int").alias("shard"))


@register(
    "llm_shard_assign",
    sql=f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn0
      FROM t)
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN (rn0 // {SHARD_K}) % 2 = 0
                     THEN rn0 % {SHARD_K}
                     ELSE {SHARD_K} - 1 - (rn0 % {SHARD_K}) END AS INT) AS shard
    FROM r
    """,
    doc="Per-doc serpentine shard assignment (doc_id, n_tokens, shard) — "
    "the production join-back view of llm_shard_balance: write with "
    ".repartition(shard) for token-mass-balanced output files",
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production surface of the balanced write layout: every doc's
    shard, to be joined back onto the corpus and written
    ``.repartition(shard)``. Same scale shape as ``llm_shard_balance``
    (the shared ``_serpentine_assign`` stage does the distributed
    rank); no aggregation — output is one row per doc."""
    return _serpentine_assign(spark, sf_dir)


def _corpus_layout_sql() -> str:
    from nova_pulsar_spark.operators.dedup import _CURATE_FUNNEL_CTES, QUALITY_FLOOR

    return (
        _CURATE_FUNNEL_CTES
        + f""",
  surv AS (
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           q.quality_score
    FROM documents d
    JOIN exact_keep ek ON ek.doc_id = d.doc_id
    JOIN q ON q.doc_id = d.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_id FROM near_removed)
      AND q.quality_score >= {QUALITY_FLOOR}),
  r AS (
    SELECT doc_id, n_tokens, quality_score,
           ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn0
    FROM surv)
  SELECT CAST(CASE WHEN (rn0 // {SHARD_K}) % 2 = 0
                   THEN rn0 % {SHARD_K}
                   ELSE {SHARD_K} - 1 - (rn0 % {SHARD_K}) END AS INT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
         CAST(SUM(quality_score) AS BIGINT) AS quality_sum
  FROM r GROUP BY 1
    """
    )


@register(
    "llm_corpus_layout",
    sql=_corpus_layout_sql(),
    doc="Curate-then-lay-out capstone: the llm_corpus_curate survivors "
    "dealt serpentine onto token-mass-balanced shards — raw crawl to "
    "trainer-ready balanced output files as ONE declared plan (shard, "
    "n_docs, shard_tokens, quality_sum)",
)
def llm_corpus_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last mile of the training-data pipeline, composed from the
    engine's own stages: `llm_corpus_curate` decides WHICH docs ship
    (exact-dup keepers ∩ near-dup keep-best ∩ quality floor), and the
    serpentine strip decides WHERE — survivors ranked by token count
    and dealt boustrophedon onto SHARD_K shards, so the output files a
    trainer consumes round-robin carry near-equal token mass. Returned
    frame is the per-shard audit incl. `quality_sum` (the layout must
    balance mass WITHOUT skewing quality across shards — serpentine
    deals by length only, so quality mixes; the audit puts that in
    evidence).

    Scale: curation is one corpus scan plus tiny-side semi/anti joins
    (see `llm_corpus_curate`); the layout adds one join to re-attach
    token counts, the audited distributed rank over SURVIVORS (range
    partitions + local windows + broadcast offsets), per-row serpentine
    arithmetic, and a SHARD_K-key map-side-combinable rollup. Nothing
    in the chain is all-pairs or single-partition over data."""
    from nova_pulsar_spark.operators.dedup import llm_corpus_curate
    from nova_pulsar_spark.operators.ranks import grouped_rank

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    surv = (
        llm_corpus_curate(spark, sf_dir)
        .select("doc_id", "quality_score")
        .join(toks, "doc_id")
    )
    r = grouped_rank(
        surv,
        [],
        [F.col("n_tokens").desc(), F.col("doc_id")],
        spark.sparkContext.defaultParallelism,
    ).withColumn("rn0", F.col("rn") - 1)
    passno = F.floor(F.col("rn0") / SHARD_K)
    pos = F.col("rn0") % SHARD_K
    shard = F.when(passno % 2 == 0, pos).otherwise(F.lit(SHARD_K - 1) - pos)
    return (
        r.select(shard.cast("int").alias("shard"), "n_tokens", "quality_score")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.sum("quality_score").cast("bigint").alias("quality_sum"),
        )
    )
