"""The persisted ANN index lifecycle: build once → probe from the
store → rebuild only when the corpus fingerprint changes.

Covers operators/ann_index.py plus its consumers in similarity.py
(ivf_centroids, pq_codebook, _sign_bands)."""

import glob
import os

from pyspark.sql import functions as F

from nova_pulsar_spark.operators import ann_index
from nova_pulsar_spark.operators import similarity as S
from nova_pulsar_spark.operators.ann_index import (
    corpus_fingerprint,
    gc_stale,
    index_root,
    load_or_build,
)


def _write_emb(spark, path, seed, n=12):
    rows = [
        (
            i,
            [0.1 + ((i * 7 + d * 3 + seed) % 10) / 10.0 for d in range(S.DIM)],
            i % 3,
        )
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def _clear_session_caches():
    ann_index._MEMO.clear()


def test_index_builds_loads_and_rebuilds_on_stale_corpus(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_emb(spark, d, seed=0)

    fp1 = corpus_fingerprint(spark, d)
    cent1 = {r.label: list(r.cemb) for r in S.ivf_centroids(spark, d).collect()}
    store1 = os.path.join(index_root(), "ivf_centroids", f"corpus-{fp1}")
    assert os.path.exists(os.path.join(store1, "_meta.json"))
    data_files = sorted(glob.glob(os.path.join(store1, "data", "*.parquet")))
    assert data_files
    mtimes = [os.path.getmtime(f) for f in data_files]

    # fresh probe (session cache cleared) READS the store: identical
    # centroids, data files untouched
    _clear_session_caches()
    cent1b = {r.label: list(r.cemb) for r in S.ivf_centroids(spark, d).collect()}
    assert cent1b == cent1
    assert [os.path.getmtime(f) for f in data_files] == mtimes

    # corpus regeneration (different rows AND row count -> different
    # file length) => new fingerprint => the stale index is never read
    _write_emb(spark, d, seed=5, n=13)
    fp2 = corpus_fingerprint(spark, d)
    assert fp2 != fp1
    _clear_session_caches()
    cent2 = {r.label: list(r.cemb) for r in S.ivf_centroids(spark, d).collect()}
    assert cent2 != cent1
    store2 = os.path.join(index_root(), "ivf_centroids", f"corpus-{fp2}")
    assert os.path.exists(os.path.join(store2, "_meta.json"))

    # janitor: removes exactly the stale fingerprint dir, keeps the live
    # one, and the live index still loads afterwards
    removed = gc_stale(spark, d)
    assert any(f"corpus-{fp1}" in p for p in removed)
    assert not os.path.exists(store1)
    assert os.path.exists(os.path.join(store2, "_meta.json"))
    _clear_session_caches()
    assert {r.label: list(r.cemb) for r in S.ivf_centroids(spark, d).collect()} == cent2
    assert gc_stale(spark, d) == []  # idempotent


def test_pq_codebook_and_sign_bands_round_trip_store(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_emb(spark, d, seed=1)

    books = S.pq_codebook(spark, d)
    assert len(books) == S.PQ_M and all(len(b) == S.PQ_K for b in books)
    assert all(len(sub) == S.PQ_SUB for b in books for sub in b)
    # loaded-from-store call returns the identical codebook
    assert S.pq_codebook(spark, d) == books
    assert os.path.exists(os.path.join(index_root(), "pq_codebook"))

    e = S.load_table(spark, d, "embeddings")
    bands = S._sign_bands(spark, e, d)
    assert bands.count() == 12 * S.N_BANDS
    assert os.path.exists(os.path.join(index_root(), S._BANDS_KIND))
    # band sigs loaded from the store match a fresh in-memory build
    stored = {(r.vec_id, r.band): r.sig for r in bands.collect()}
    adhoc = {(r.vec_id, r.band): r.sig for r in S._sign_bands(spark, e, None).collect()}
    assert stored == adhoc


def test_half_built_index_is_invisible(spark, tmp_path, monkeypatch):
    """Data without _meta.json (a crashed build) must trigger a clean
    rebuild, not be trusted."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_emb(spark, d, seed=2)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, "x")], "k bigint, v string")

    out1 = load_or_build(spark, d, "probe_kind", build)
    assert calls["n"] == 1 and out1.count() == 1
    # meta intact -> load, no rebuild
    load_or_build(spark, d, "probe_kind", build).count()
    assert calls["n"] == 1
    # simulate crash: meta gone, data still there -> rebuild
    fp = corpus_fingerprint(spark, d)
    os.remove(os.path.join(index_root(), "probe_kind", f"corpus-{fp}", "_meta.json"))
    load_or_build(spark, d, "probe_kind", build).count()
    assert calls["n"] == 2


# --- Fourth-decade ladder rung: paired-slice widening ----------------------


def test_bits_ladder_rungs():
    """Python twin of _BITS_LADDER_SQL; the 24-bit rung engages at a
    million vectors and NEVER at any tested/driver SF (<= 2000)."""
    assert S._bits_for(500) == 8
    assert S._bits_for(4000) == 12
    assert S._bits_for(16000) == 16
    assert S._bits_for(999_999) == 16
    assert S._bits_for(1_000_000) == 24


def test_wide_rung_pairs_adjacent_slices(spark):
    """bits > BAND_BITS re-keys the STORED 16-bit slices by pairing
    adjacent bands: wide band w must equal substr(signs, w*32+1, bits)
    — i.e. the stored index still serves the rung with no signature
    recompute (the fourth-decade audit's re-narrowing path)."""
    e = spark.createDataFrame(
        [(i, [((i * 13 + d * 7) % 21 - 10) / 10.0 for d in range(S.DIM)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    wide = {
        (r["vec_id"], r["band"]): r["sig"]
        for r in S._prefix_bands(spark, e, None, bits_override=24).collect()
    }
    expected = {
        (r["vec_id"], r["band"]): r["sig"]
        for r in e.select("vec_id", S._signs_spark().alias("signs"))
        .selectExpr("vec_id", "explode(sequence(0, 3)) AS band", "signs")
        .selectExpr("vec_id", "band", "substring(signs, band * 32 + 1, 24) AS sig")
        .collect()
    }
    assert wide == expected
    assert len(wide) == 40 * (S.N_BANDS // 2)
    assert all(len(s) == 24 for s in wide.values())


def test_narrow_rung_unchanged_by_ladder_extension(spark):
    """At every tested corpus size the active rung is <= BAND_BITS, so
    the ladder extension must be invisible: _prefix_bands output equals
    the plain stored-sig prefix."""
    e = spark.createDataFrame(
        [(i, [((i * 5 + d) % 13 - 6) / 6.0 for d in range(S.DIM)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["vec_id"], r["band"]): r["sig"]
        for r in S._prefix_bands(spark, e, None).collect()  # n=30 -> 8 bits
    }
    expected = {
        (r["vec_id"], r["band"]): r["sig"][:8]
        for r in S._sign_bands(spark, e, None).collect()
    }
    assert got == expected


def test_anchor_mod_twin_matches_sql():
    """_anchor_mod (Python) vs _ANCHOR_MOD_SQL (DuckDB) — the anchor
    BUDGET discipline (ADVICE r6): the modulus is derived from the
    corpus count on BOTH engines, floored at RECALL_ANCHOR_MOD, so the
    anchor sample is ~ANCHOR_BUDGET rows at any decade instead of
    n/10. Also pins the budget's shape: anchors never exceed the
    budget by more than the ceil slack."""
    import duckdb

    for n in [1, 10, 500, 2000, 10_000, 123_457, 1_000_000, 2_000_000]:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n})")
        (sql_mod,) = con.execute(f"SELECT {S._ANCHOR_MOD_SQL}").fetchone()
        assert sql_mod == S._anchor_mod(n), f"n={n}"
        # realized anchor count (dense ids) stays within the budget
        anchors = -(-n // S._anchor_mod(n))
        assert anchors <= max(S.ANCHOR_BUDGET, n // S.RECALL_ANCHOR_MOD + 1)
        if n >= S.ANCHOR_BUDGET * S.RECALL_ANCHOR_MOD:
            assert anchors <= S.ANCHOR_BUDGET + 1, f"n={n} anchors={anchors}"
    # at driver SFs the derived mod IS the historical fixed modulus:
    # results below the budget decade are bit-identical to r6
    assert S._anchor_mod(500) == S.RECALL_ANCHOR_MOD
    assert S._anchor_mod(2000) == S.RECALL_ANCHOR_MOD


def test_wide_rung_bands_cte_matches_spark(spark, tmp_path):
    """Cross-engine pin for the 24-bit paired-slice rung (ADVICE r6):
    oracle sweeps run at corpus sizes where the 8-bit rung is active,
    so _bands_cte's wide-rung CASE arithmetic (paired slices, 4 bands,
    substr stride 2*BAND_BITS) had no engine-vs-engine coverage. Here
    the SAME parquet feeds both engines with the rung pinned to 24
    bits: DuckDB's bands CTE must emit byte-identical (vec_id, band,
    sig) keys to Spark's _prefix_bands(bits_override=24)."""
    import duckdb

    d = str(tmp_path / "corpus")
    _write_emb(spark, d, seed=3, n=40)
    e = spark.read.parquet(f"{d}/embeddings.parquet")
    got = {
        (r["vec_id"], r["band"]): r["sig"]
        for r in S._prefix_bands(spark, e, None, bits_override=24).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    rows = con.execute(
        f"""
        WITH sigs AS (SELECT vec_id, {S._SIGNS_SQL} AS signs FROM embeddings),
        nbits AS (SELECT 24 AS bits),
        {S._bands_cte()}
        SELECT vec_id, band, sig FROM bands
        """
    ).fetchall()
    oracle = {(v, b): s for v, b, s in rows}
    assert oracle == got
    assert len(oracle) == 40 * (S.N_BANDS // 2)
    assert all(len(s) == 24 for s in oracle.values())
