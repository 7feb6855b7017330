"""Third-decade candidate-count audit (SCALING3), as a committed tool.

Clocks at 100x corpus size are dominated by local-mode scheduling, so
the third decade audits CANDIDATE COUNTS instead: for each blocking
stage of the dedup DAG — text MinHash-LSH (hot-bucket cap), embedding
sign-LSH (corpus-size prefix ladder + cap), banded SimHash — count
the candidate rows the stage emits at 1x / 10x / 100x corpus size. A
blocking scheme is healthy iff candidates grow at most linearly per
decade (bounded candidates PER DOC); the round-4 fixed-keyspace bugs
(sign-LSH at 68x, SemDeDup at 44x) are exactly what this audit
catches one decade earlier than wall clocks can.

Only documents and embeddings are scaled (the graph/TPC-H tables feed
other stages with their own audits); replicas are perturbed the same
way as tools/make_scaled_sf.py so the near-dup structure is realistic
(text replicas get distinct-shingle suffixes; embeddings form bounded
10-cliques — the re-crawled-corpus shape the caps exist for).

Usage:
    python tools/candidate_audit.py --out artifacts/<dir>/SCALING3.json [base_sf_dir]

Prints one JSON line and writes the same record to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from nova_pulsar_spark.session import get_spark  # noqa: E402


def _scale_docs_embeddings(src: str, out: str, n: int) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT doc_id + k * (SELECT MAX(doc_id) + 1 FROM '{src}/documents.parquet') AS doc_id,
                 CASE WHEN k = 0 THEN text
                      ELSE text || ' replica' || k || ' tag' || (doc_id % 97) END AS text,
                 lang, source,
                 CASE WHEN k = 0 THEN n_chars
                      ELSE n_chars + 12 + CASE WHEN k >= 10 THEN 1 ELSE 0 END END AS n_chars
          FROM '{src}/documents.parquet', range({n}) r(k)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT vec_id + k * (SELECT MAX(vec_id) + 1 FROM '{src}/embeddings.parquet') AS vec_id,
                 list_transform(embedding, x -> CAST(x + 0.05 * k AS FLOAT)) AS embedding,
                 label
          FROM '{src}/embeddings.parquet', range({n}) r(k)
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )


def _mh_shed(mh) -> dict:
    """Over-cap bucket census for a MinHash signature frame: how many
    buckets exceed MAX_BUCKET, their member mass, and the pair count
    the cap declines to enumerate (integer DIV, matching the
    registered llm_dedup_lsh_cap_loss ledger — float division loses
    exactness near 2^53 pairs)."""
    from pyspark.sql import functions as F

    from nova_pulsar_spark.operators.dedup import MAX_BUCKET, band_sigs

    row = (
        band_sigs(mh)
        .groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > MAX_BUCKET)
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum("n").alias("members"),
            F.sum(F.expr("n * (CAST(n AS BIGINT) - 1) DIV 2")).alias("pairs"),
            F.max("n").alias("biggest"),
        )
        .first()
    )
    return {
        "over_cap_buckets": int(row["buckets"] or 0),
        "over_cap_members": int(row["members"] or 0),
        "pairs_shed_by_cap": int(row["pairs"] or 0),
        "biggest_bucket": int(row["biggest"] or 0),
    }


def _exact_keep_first(d):
    """Exact dedup keep-lowest-doc_id, the registered llm_dedup_exact
    policy applied as an upstream filter: one survivor per md5(text)."""
    from pyspark.sql import functions as F

    keep = d.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return d.join(keep.select("doc_id"), "doc_id", "left_semi")


def _scale_docs_exact_replicas(src: str, out: str, n: int) -> None:
    """x-N documents where replicas are BYTE-IDENTICAL to the original
    — the re-crawl/templated-boilerplate shape (real corpora duplicate
    mostly verbatim), vs _scale_docs_embeddings' everywhere-perturbed
    replicas (the worst case for exact dedup: every copy unique)."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT doc_id + k * (SELECT MAX(doc_id) + 1 FROM '{src}/documents.parquet') AS doc_id,
                 text, lang, source, n_chars
          FROM '{src}/documents.parquet', range({n}) r(k)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )


def exact_first_audit(spark, perturbed_dir: str, base: str, n: int = 1000) -> dict:
    """VERDICT r7 #3 — demonstrate, don't assert, the x1000 cap story.

    Measures mh_pairs_shed_by_cap with exact dedup run FIRST, on both
    x1000 corpus shapes:

    - ``exact_replica_*``: replicas byte-identical (the
      templated-boilerplate class the r7 note named). If the claim
      holds, exact-dedup-first collapses the shed toward the base
      corpus's (zero at sf0.1).
    - ``perturbed_*``: the standard scaled generator, where every
      replica is unique text — the worst case. Exact dedup can only
      remove whatever exact-dup groups the BASE corpus carries; the
      residual shed is the near-dup clique mass for which the cap's
      bounded enumeration (priced by llm_dedup_lsh_cap_loss) is the
      designed handling, NOT exact dedup.
    """
    from nova_pulsar_spark.operators.dedup import minhash_signatures
    from nova_pulsar_spark.sources.tables import load_table

    out = {}

    wd = tempfile.mkdtemp(prefix="cand_exactrep_")
    try:
        _scale_docs_exact_replicas(base, wd, n)
        d = load_table(spark, wd, "documents")
        out["exact_replica_n_docs"] = d.count()
        t0 = time.time()
        out["exact_replica_shed_pre_exact"] = _mh_shed(minhash_signatures(d))[
            "pairs_shed_by_cap"
        ]
        out["exact_replica_pre_secs"] = round(time.time() - t0, 1)
        surv = _exact_keep_first(d)
        out["exact_replica_survivors"] = surv.count()
        t0 = time.time()
        out["exact_replica_shed_post_exact"] = _mh_shed(minhash_signatures(surv))[
            "pairs_shed_by_cap"
        ]
        out["exact_replica_post_secs"] = round(time.time() - t0, 1)
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    d = load_table(spark, perturbed_dir, "documents")
    surv = _exact_keep_first(d)
    out["perturbed_n_docs"] = d.count()
    out["perturbed_survivors"] = surv.count()
    t0 = time.time()
    out["perturbed_shed_post_exact"] = _mh_shed(minhash_signatures(surv))[
        "pairs_shed_by_cap"
    ]
    out["perturbed_post_secs"] = round(time.time() - t0, 1)
    return out


CASCADE_SAMPLE_MOD = 8192  # ~2k sampled shed pairs from the x1000 corpus's ~18M over-cap members

# POLICY (same discipline as state_soak.REKEY_RECALL_STRONG_FLOOR): on
# the TRUE near-dup portion of the cap-shed sample (same-clique pairs),
# the best tier above the cap must recover at least this fraction by
# its own emission criterion — otherwise the cap's shedding is a real
# recall hole, not priced-and-recoverable mass, and the committed
# SCALING3 artifact fails tests/test_artifacts.py.
CASCADE_RECOVERY_FLOOR = 0.95


def cascade_recovery_audit(
    spark, perturbed_dir: str, base: str, sample_mod: int = CASCADE_SAMPLE_MOD
) -> dict:
    """VERDICT r8 #1 — measure, don't assert, the LAST sentence of the
    x1000 cap story: that the pairs the MinHash hot-bucket cap sheds on
    the everywhere-perturbed corpus are near-dups the tiers above the
    cap still surface.

    Truth set: a deterministic hash-mod sample of pairs co-resident in
    an over-cap MinHash bucket, ANTI-joined against every under-cap
    bucket in every band — so each sampled pair is one the capped
    MinHash tier genuinely does NOT emit. Per pair, three tier
    criteria are evaluated with the production code paths:

    - ``setsim``: exact shingle Jaccard >= SETSIM_NUM/SETSIM_DEN.
      Prefix filtering is LOSSLESS at its threshold (oracle-pinned),
      so clearing the threshold == `llm_setsim_prefix` surfaces the
      pair. (Its un-capped self-join priced on THIS clique shape needs
      exact-dedup-first upstream — the production order SCALE.md
      documents — which is why the criterion, not a 5M-doc lossless
      join, is what local mode can measure.)
    - ``winnow``: >= WNW_MIN_SHARED shared winnowing fingerprints
      (`llm_dedup_winnow`'s emission predicate, before any hot-bucket
      cap its index would add at this shape).
    - ``simhash``: full-signature Hamming <= SIMHASH64_HAMMING_T
      (the verify radius) and >= 1 shared 15-bit band (the blocking
      reach) on the production 60-bit fingerprint.

    Plus the one tier whose CAPPED full run is feasible in local mode:
    `llm_dedup_simhash_banded` executed over the whole 5M-doc corpus,
    measuring the fraction of sampled shed docs that the as-run tier
    flags as near-dup of a true clique-mate (``simhash_asrun_*``) —
    per-DOCUMENT recovery with the hot-band cap engaged, exactly what
    a user of the registered query gets."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from nova_pulsar_spark.operators.dedup import (
        MAX_BUCKET,
        SETSIM_DEN,
        SETSIM_NUM,
        SIMHASH64_BAND_BITS,
        SIMHASH64_BANDS,
        SIMHASH64_HAMMING_T,
        _shingles_expr,
        band_sigs,
        minhash_signatures,
        simhash64_signatures,
    )
    from nova_pulsar_spark.operators.textstats import (
        WNW_MIN_SHARED,
        winnowing_fingerprints,
    )
    from nova_pulsar_spark.sources.tables import load_table

    out: dict = {"sample_mod": sample_mod}
    d = load_table(spark, perturbed_dir, "documents")
    base_count = (
        load_table(spark, base, "documents").agg(F.max("doc_id")).first()[0] + 1
    )

    t0 = time.time()
    bands = band_sigs(minhash_signatures(d)).localCheckpoint()
    census = (
        bands.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    members = bands.join(
        census.filter(F.col("n") > MAX_BUCKET).select("band", "sig"),
        ["band", "sig"],
        "left_semi",
    )
    shed_docs = members.select("doc_id").distinct().localCheckpoint()
    out["shed_docs_distinct"] = shed_docs.count()

    # one candidate pair per sampled over-cap member: (bucket-min, member)
    w = W.partitionBy("band", "sig")
    pairs = (
        members.withColumn("min_doc", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("min_doc"))
        .select(F.col("min_doc").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
        .filter(
            F.pmod(F.xxhash64(F.concat_ws("_", "doc_a", "doc_b")), F.lit(sample_mod))
            == 0
        )
        .localCheckpoint()
    )
    out["sampled_pairs_raw"] = pairs.count()

    # keep only GENUINELY shed pairs: drop any that co-occur in an
    # under-cap bucket of another band (those the capped tier emits)
    bs = bands.join(census, ["band", "sig"])
    pa = pairs.join(
        bs.select(F.col("doc_id").alias("doc_a"), "band", "sig", "n"), "doc_a"
    )
    emitted = (
        pa.filter(F.col("n") <= MAX_BUCKET)
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "sig"),
            ["doc_b", "band", "sig"],
            "left_semi",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    truth = pairs.join(emitted, ["doc_a", "doc_b"], "left_anti").localCheckpoint()
    n_truth = truth.count()
    out["sampled_pairs_shed"] = n_truth
    out["truth_sample_secs"] = round(time.time() - t0, 1)
    if n_truth == 0:
        return out

    # A shed pair is only a RECALL loss if it is a true near-dup; the
    # generator's clique structure (same base doc) is ground truth. The
    # x10 decade shows why the split matters: its over-cap buckets are
    # cross-clique band collisions (same_clique = 0), i.e. pairs the
    # cap sheds there were never near-dups at all.
    truth = truth.withColumn(
        "same_clique",
        (F.col("doc_a") % base_count) == (F.col("doc_b") % base_count),
    ).localCheckpoint()
    n_clique = truth.filter(F.col("same_clique")).count()
    out["frac_same_clique"] = round(n_clique / n_truth, 4)

    ids = (
        truth.select(F.col("doc_a").alias("doc_id"))
        .union(truth.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sub = d.join(ids, "doc_id", "left_semi").localCheckpoint()

    # setsim criterion: exact Jaccard on the pair's shingle sets
    t0 = time.time()
    toksets = (
        sub.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .select("doc_id", F.explode(_shingles_expr()).alias("sh"))
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("sh")).alias("toks"))
    )
    j = (
        truth.join(
            toksets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")),
            "doc_a",
        )
        .join(
            toksets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")),
            "doc_b",
        )
        .select(
            "same_clique",
            (F.size(F.array_intersect("ta", "tb"))).alias("ni"),
            (F.size("ta") + F.size("tb")).alias("stot"),
        )
    )
    hit = j.filter(
        F.col("ni") * SETSIM_DEN >= (F.col("stot") - F.col("ni")) * SETSIM_NUM
    )
    out["setsim_criterion_recovered_frac"] = round(hit.count() / n_truth, 4)
    if n_clique:
        out["setsim_criterion_recovered_frac_clique"] = round(
            hit.filter(F.col("same_clique")).count() / n_clique, 4
        )
    out["setsim_secs"] = round(time.time() - t0, 1)

    # the registered recovery route's own verify bar: the sampled truth
    # pairs ARE (member, bucket-min) pairs — exactly what
    # llm_dedup_lsh_cap_recover emits for over-cap buckets — so the
    # word-set Jaccard >= 0.8 fraction is that operator's measured
    # precision on this corpus
    t0 = time.time()
    from nova_pulsar_spark.operators.dedup import _words

    wsets = sub.select(
        "doc_id", F.array_distinct(_words(F.col("text"))).alias("words")
    ).localCheckpoint()
    vj = (
        truth.join(
            wsets.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa")),
            "doc_a",
        )
        .join(
            wsets.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb")),
            "doc_b",
        )
        .select(
            "same_clique",
            F.size(F.array_intersect("wa", "wb")).alias("ni"),
            (F.size("wa") + F.size("wb")).alias("stot"),
        )
    )
    vhit = vj.filter(
        F.col("ni").cast("double") / (F.col("stot") - F.col("ni")) >= 0.8
    )
    out["recover_verify_frac"] = round(vhit.count() / n_truth, 4)
    if n_clique:
        out["recover_verify_frac_clique"] = round(
            vhit.filter(F.col("same_clique")).count() / n_clique, 4
        )
    out["recover_verify_secs"] = round(time.time() - t0, 1)

    # winnowing criterion: shared selected fingerprints
    t0 = time.time()
    fps = winnowing_fingerprints(sub).select("doc_id", "fps").localCheckpoint()
    wj = truth.join(
        fps.select(F.col("doc_id").alias("doc_a"), F.col("fps").alias("fa")), "doc_a"
    ).join(fps.select(F.col("doc_id").alias("doc_b"), F.col("fps").alias("fb")), "doc_b")
    whit = wj.filter(F.size(F.array_intersect("fa", "fb")) >= WNW_MIN_SHARED)
    out["winnow_criterion_recovered_frac"] = round(whit.count() / n_truth, 4)
    if n_clique:
        out["winnow_criterion_recovered_frac_clique"] = round(
            whit.filter(F.col("same_clique")).count() / n_clique, 4
        )
    out["winnow_secs"] = round(time.time() - t0, 1)

    # simhash criterion: verify radius + band-collision reach
    t0 = time.time()
    sigs = simhash64_signatures(sub).localCheckpoint()
    sj = truth.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a"
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    band_hit = None
    for k in range(SIMHASH64_BANDS):
        mask = (1 << SIMHASH64_BAND_BITS) - 1
        eq = (
            F.shiftright(F.col("sig_a"), k * SIMHASH64_BAND_BITS).bitwiseAND(F.lit(mask))
            == F.shiftright(F.col("sig_b"), k * SIMHASH64_BAND_BITS).bitwiseAND(F.lit(mask))
        )
        band_hit = eq if band_hit is None else (band_hit | eq)
    sj = sj.select(
        "same_clique", ham.alias("ham"), band_hit.alias("band_hit")
    ).localCheckpoint()
    out["simhash_hamming_le_t_frac"] = round(
        sj.filter(F.col("ham") <= SIMHASH64_HAMMING_T).count() / n_truth, 4
    )
    out["simhash_band_match_frac"] = round(
        sj.filter(F.col("band_hit")).count() / n_truth, 4
    )
    if n_clique:
        out["simhash_hamming_le_t_frac_clique"] = round(
            sj.filter(F.col("same_clique") & (F.col("ham") <= SIMHASH64_HAMMING_T)).count()
            / n_clique,
            4,
        )
        out["simhash_band_match_frac_clique"] = round(
            sj.filter(F.col("same_clique") & F.col("band_hit")).count() / n_clique, 4
        )
    out["simhash_criterion_secs"] = round(time.time() - t0, 1)

    # the as-run capped tier over the FULL corpus: per-document recovery
    t0 = time.time()
    from nova_pulsar_spark.registry import all_queries

    nn = all_queries()["llm_dedup_simhash_banded"].fn(spark, perturbed_dir)
    flagged = (
        nn.filter(
            F.col("is_dup")
            & ((F.col("doc_id") % base_count) == (F.col("nn_doc") % base_count))
        )
        .select("doc_id")
        .localCheckpoint()
    )
    n_sampled_docs = ids.count()
    out["sampled_shed_docs"] = n_sampled_docs
    out["simhash_asrun_sampled_doc_recovered_frac"] = round(
        ids.join(flagged, "doc_id", "left_semi").count() / n_sampled_docs, 4
    )
    out["simhash_asrun_all_shed_docs_recovered_frac"] = round(
        shed_docs.join(flagged, "doc_id", "left_semi").count()
        / max(out["shed_docs_distinct"], 1),
        4,
    )
    out["simhash_asrun_secs"] = round(time.time() - t0, 1)
    return out


def audit_dir(spark, sf_dir: str) -> dict:
    """Candidate counts per blocking stage; caches and stores are
    bypassed (sf_dir=None paths) so every count is a fresh derivation
    of the stage on exactly this corpus."""
    from nova_pulsar_spark.operators.dedup import lsh_candidates, minhash_signatures
    from nova_pulsar_spark.operators.similarity import _sign_lsh_candidates
    from nova_pulsar_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    out = {"n_docs": d.count(), "n_vecs": e.count()}

    mh = minhash_signatures(d)
    t0 = time.time()
    out["mh_cand"] = lsh_candidates(mh).count()
    out["mh_secs"] = round(time.time() - t0, 1)

    # Cap-shed attribution (VERDICT r6 task 3): how much candidate mass
    # did the hot-bucket cap decline to enumerate? pairs_shed is the
    # sum of n*(n-1)/2 over buckets past MAX_BUCKET — when mh_cand
    # falls between decades while pairs_shed explodes, the collapse is
    # the cap shedding ever-larger replica cliques (the scaled text
    # generator's cliques grow with the decade, unlike the embeddings'
    # bounded 10-cliques), not the corpus running out of near-dups.
    for k, v in _mh_shed(mh).items():
        out[f"mh_{k}"] = v

    from nova_pulsar_spark.operators.similarity import _bits_for

    t0 = time.time()
    out["emb_cand"] = _sign_lsh_candidates(spark, e, None).count()
    out["emb_secs"] = round(time.time() - t0, 1)
    out["emb_ladder_bits"] = _bits_for(out["n_vecs"])

    # Anchor-budget proof (ADVICE r6): the recall ledger's exact-truth
    # sample must stay ~ANCHOR_BUDGET at every decade — a fixed
    # modulus here would show anchors growing 10x per row.
    from nova_pulsar_spark.operators.similarity import _anchor_mod

    out["recall_anchor_mod"] = _anchor_mod(out["n_vecs"])
    out["recall_anchors"] = -(-out["n_vecs"] // out["recall_anchor_mod"])

    from nova_pulsar_spark.registry import all_queries

    t0 = time.time()
    out["simhash_nn_rows"] = all_queries()["llm_dedup_simhash_banded"].fn(spark, sf_dir).count()
    out["simhash_secs"] = round(time.time() - t0, 1)
    out["mh_cand_per_doc"] = round(out["mh_cand"] / max(out["n_docs"], 1), 2)
    out["emb_cand_per_vec"] = round(out["emb_cand"] / max(out["n_vecs"], 1), 2)
    return out


def main() -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="path of the JSON record")
    args = ap.parse_args()
    base, out = args.base_sf_dir, args.out
    spark = get_spark("candidate-audit")
    spark.sparkContext.setLogLevel("ERROR")
    results = {"sf0.1": audit_dir(spark, base)}
    for label, n in (("x10", 10), ("x100", 100), ("x1000", 1000)):
        wd = tempfile.mkdtemp(prefix=f"cand_{label}_")
        try:
            _scale_docs_embeddings(base, wd, n)
            results[label] = audit_dir(spark, wd)
            if label == "x10":
                # VERDICT r9 #3: the x10 shed-class split was asserted
                # ("100% cross-clique band collisions") but never
                # measured. The x10 decade's over-cap mass is ~400
                # (member, min) pairs, so sample_mod=1 takes ALL of
                # them — frac_same_clique here is exact, not sampled.
                results["x10_cascade_recovery"] = cascade_recovery_audit(
                    spark, wd, base, sample_mod=1
                )
            if label == "x100":
                # VERDICT r10 #4: the shed-class split series measured
                # x10 (exact: frac_same_clique = 0.0, pure band
                # collisions) and x1000 (sampled: 0.9058, clique mass)
                # but skipped x100, where the cap sheds 92.3M pairs —
                # this run locates the collision->clique crossover.
                # x100's over-cap mass is ~1.77M members => ~1.75M
                # (member, min) pairs; sample_mod=1024 keeps the
                # sampled truth set ~1.7k pairs, the same order as
                # x1000's ~2k at 8192.
                results["x100_cascade_recovery"] = cascade_recovery_audit(
                    spark, wd, base, sample_mod=1024
                )
            if label == "x1000":
                results["x1000_exact_first"] = exact_first_audit(spark, wd, base, n)
                results["x1000_cascade_recovery"] = cascade_recovery_audit(
                    spark, wd, base
                )
        finally:
            shutil.rmtree(wd, ignore_errors=True)
    results["note"] = (
        "healthy = candidates per doc/vec grow sublinearly per decade (blocking "
        "keys are capped or corpus-laddered); a superlinear jump here is the "
        "fixed-keyspace class caught in round 4. The fourth decade (x1000, 2M "
        "vecs) is where the sign-LSH ladder's 24-bit paired-slice rung engages "
        "(similarity._BITS_LADDER_SQL): without it the 16-bit rung's keyspace "
        "is fixed and occupancy — hence candidates — grows linearly with the "
        "corpus again. mh_cand falling between decades while "
        "mh_pairs_shed_by_cap explodes is the hot-bucket cap (MAX_BUCKET=64) "
        "shedding the generator's unbounded replica cliques (clique size = "
        "the decade's replica count), i.e. cap shedding, not near-dup "
        "dilution. x1000_exact_first (r8, VERDICT r7 #3) measures the "
        "exact-dedup-upstream claim on both x1000 corpus shapes: with "
        "byte-identical replicas (the templated-boilerplate/re-crawl class) "
        "exact-dedup-first collapses the shed to the base corpus's, while on "
        "the everywhere-perturbed generator exact dedup removes only the "
        "base corpus's own exact-dup groups and the residual shed is "
        "near-dup clique mass for which the cap's bounded enumeration "
        "(priced by llm_dedup_lsh_cap_loss) is the designed handling. "
        "x1000_cascade_recovery (r9, VERDICT r8 #1) measures what the tiers "
        "above the cap recover of that shed mass: the sampled shed pairs are "
        "90.6% true near-dups, and on that class the LOSSLESS criteria "
        "recover essentially all of them (setsim-prefix Jaccard>=0.6: 1.0, "
        "winnowing shared-fingerprints: 0.99, SimHash verify radius: 0.996) "
        "— but the as-run CAPPED SimHash banded tier re-finds only ~7% of "
        "shed docs per-document, because its own fixed-keyspace band cap "
        "sheds the same cliques. The measured per-document route is "
        "llm_dedup_lsh_cap_recover: pair every over-cap member with its "
        "bucket representative — O(members), never O(members**2) — which on "
        "the same sampled truth set verifies at recover_verify_frac_clique "
        "with the verify tier's word-set Jaccard>=0.8 bar"
    )
    print(json.dumps(results))
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    return results


if __name__ == "__main__":
    main()
