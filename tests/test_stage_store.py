"""Persisted shared-stage lifecycle: dedup_candidates and
copurchase_census round-trip through the fingerprint-keyed index
store (build once, every consumer reads the materialization, rebuild
only when the source table's fingerprint changes), and every memoized
stage answers repeat calls from the one session memo,
``ann_index._MEMO``, without a Spark job."""

import datetime
import glob
import os

import pytest

from nova_pulsar_spark.operators import ann_index
from nova_pulsar_spark.operators import dedup as D
from nova_pulsar_spark.operators import graphs as G
from nova_pulsar_spark.operators import ranks as R
from nova_pulsar_spark.operators import similarity as S
from nova_pulsar_spark.operators.ann_index import index_root
from nova_pulsar_spark.sources.tables import load_table
from tests.conftest import _jobs_in


def _write_docs(spark, path, seed, n=10):
    # pairs of identical texts -> identical minhash -> guaranteed LSH
    # candidate pairs; texts vary with `seed` so a rewritten corpus
    # yields different signatures AND a different file fingerprint
    rows = [
        (
            i,
            f"alpha beta gamma delta epsilon zeta eta theta doc{(i // 2) * 7 + seed}",
            "en",
            "web",
            60,
        )
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _write_lineitem(spark, path, seed, n_orders=6):
    # each order is a basket of 3 parts drawn from a small pool, so the
    # co-purchase graph has repeated (weighted) edges and triangles
    rows = []
    for o in range(n_orders):
        for j in range(3):
            rows.append((o, (o + j * 2 + seed) % 7 + 1))
    spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint").write.mode(
        "overwrite"
    ).parquet(f"{path}/lineitem.parquet")


def _write_emb(spark, path, seed, n=12):
    spark.createDataFrame(
        [(i, [((i * 3 + dd + seed) % 9 - 4) / 4.0 for dd in range(S.DIM)], i % 2)
         for i in range(n)],
        "vec_id bigint, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def _write_events(spark, path, seed, n=12):
    t0 = datetime.datetime(2026, 1, 1)
    spark.createDataFrame(
        [(i, t0 + datetime.timedelta(minutes=i), f"t{i % 3}",
          float((i + seed) % 5) if i % 4 else None)
         for i in range(n)],
        "event_id bigint, ts timestamp, event_type string, value double",
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _memo_keys(kind):
    # memo keys are (session, store, corpus, kind, fingerprint)
    return [k for k in ann_index._MEMO if k[3] == kind]


def _data_mtimes(kind):
    files = sorted(glob.glob(os.path.join(index_root(), kind, "*", "data", "*.parquet")))
    return {f: os.path.getmtime(f) for f in files}


def test_dedup_candidates_round_trips_store_and_rebuilds_on_stale(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_docs(spark, d, seed=0)

    ann_index._MEMO.clear()
    mh, cand, ws = D.dedup_candidates(spark, d)
    pairs1 = sorted((r.doc_a, r.doc_b) for r in cand.collect())
    assert pairs1, "identical-text pairs must produce LSH candidates"
    for kind in ("dedup_mh", "dedup_cand", "dedup_ws"):
        assert glob.glob(os.path.join(index_root(), kind, "*", "_meta.json"))
    mtimes = _data_mtimes("dedup_cand")
    assert mtimes

    # fresh consumer (session memo cleared) READS the store: identical
    # candidates, store data files untouched
    ann_index._MEMO.clear()
    _, cand2, _ = D.dedup_candidates(spark, d)
    assert sorted((r.doc_a, r.doc_b) for r in cand2.collect()) == pairs1
    assert _data_mtimes("dedup_cand") == mtimes

    # corpus rewrite (different texts and row count -> new fingerprint)
    # => stale candidates never read, stage rebuilt from the new corpus
    _write_docs(spark, d, seed=9, n=12)
    ann_index._MEMO.clear()
    _, cand3, ws3 = D.dedup_candidates(spark, d)
    pairs3 = sorted((r.doc_a, r.doc_b) for r in cand3.collect())
    assert pairs3 and max(b for _, b in pairs3) == 11
    assert len(glob.glob(os.path.join(index_root(), "dedup_cand", "*"))) == 2
    # ws is restricted to candidate members of the NEW corpus
    assert {r.doc_id for r in ws3.collect()} == {x for p in pairs3 for x in p}


def test_copurchase_census_round_trips_store_and_rebuilds_on_stale(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_lineitem(spark, d, seed=0)

    ann_index._MEMO.clear()
    c = G.copurchase_census(spark, d)
    edges1 = sorted((r.a, r.b, r.w) for r in c["edges_w"].collect())
    assert edges1
    assert glob.glob(os.path.join(index_root(), "graph_edges_w", "*", "_meta.json"))
    mtimes = _data_mtimes("graph_edges_w")

    # orientation invariant holds on the store-read graph: every edge
    # leaves its lower-(degree, id) endpoint
    deg = {r.v: r.d for r in c["deg"].collect()}
    for r in c["oriented"].collect():
        assert (deg[r.src], r.src) < (deg[r.dst], r.dst)

    ann_index._MEMO.clear()
    c2 = G.copurchase_census(spark, d)
    assert sorted((r.a, r.b, r.w) for r in c2["edges_w"].collect()) == edges1
    assert _data_mtimes("graph_edges_w") == mtimes

    _write_lineitem(spark, d, seed=3, n_orders=8)
    ann_index._MEMO.clear()
    c3 = G.copurchase_census(spark, d)
    edges3 = sorted((r.a, r.b, r.w) for r in c3["edges_w"].collect())
    assert edges3 != edges1
    assert len(glob.glob(os.path.join(index_root(), "graph_edges_w", "*"))) == 2


def test_gc_stale_judges_each_kind_by_its_own_table(spark, tmp_path, monkeypatch):
    """The janitor must key 'live' per kind's SOURCE table: dedup
    stages fingerprint documents, the graph fingerprints lineitem —
    a single-table keep fingerprint would delete live indexes of
    every other table."""
    from nova_pulsar_spark.operators.ann_index import gc_stale, index_root

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_docs(spark, d, seed=0)
    _write_lineitem(spark, d, seed=0)

    ann_index._MEMO.clear()
    D.dedup_candidates(spark, d)
    G.copurchase_census(spark, d)
    live_cand = glob.glob(os.path.join(index_root(), "dedup_cand", "*"))
    live_graph = glob.glob(os.path.join(index_root(), "graph_edges_w", "*"))
    assert len(live_cand) == 1 and len(live_graph) == 1

    # no corpus change: the janitor (default table=embeddings, which
    # this corpus does not even have) must remove NOTHING
    assert gc_stale(spark, d) == []
    assert os.path.exists(live_cand[0]) and os.path.exists(live_graph[0])

    # documents rewritten: exactly the stale dedup dirs go; the live
    # dedup rebuild and the untouched graph index survive
    _write_docs(spark, d, seed=3, n=12)
    ann_index._MEMO.clear()
    D.dedup_candidates(spark, d)
    removed = gc_stale(spark, d)
    assert any("dedup_cand" in p for p in removed)
    assert not any("graph_edges_w" in p for p in removed)
    assert not os.path.exists(live_cand[0])
    assert os.path.exists(live_graph[0])
    assert len(glob.glob(os.path.join(index_root(), "dedup_cand", "*"))) == 1


def test_session_caches_evict_stale_fingerprints(spark, tmp_path, monkeypatch):
    """ADVICE r5: fingerprint-keyed session caches must EVICT the
    previous fingerprint's entry on insert — an in-session corpus
    rewrite must neither serve stale frames NOR leave the old entry
    (and its pinned blocks) in the cache for the session's lifetime."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")

    # dedup stage cache: rewrite WITHOUT clearing the session memo
    _write_docs(spark, d, seed=0)
    ann_index._MEMO.clear()
    D.dedup_candidates(spark, d)
    assert len(_memo_keys("dedup_candidates")) == 1
    old_key = _memo_keys("dedup_candidates")[0]
    _write_docs(spark, d, seed=9, n=12)
    _, cand2, _ = D.dedup_candidates(spark, d)  # no manual clear
    # stale entry evicted, new fingerprint's entry present, results fresh
    assert len(_memo_keys("dedup_candidates")) == 1
    assert _memo_keys("dedup_candidates")[0] != old_key
    assert max(r.doc_b for r in cand2.collect()) == 11

    # embedding band cache: same discipline through _sign_bands
    ann_index._MEMO.clear()
    _write_emb(spark, d, seed=0, n=8)
    S._sign_bands(spark, load_table(spark, d, "embeddings"), d)
    assert len(_memo_keys(S._BANDS_KIND)) == 1
    bk = _memo_keys(S._BANDS_KIND)[0]
    _write_emb(spark, d, seed=5, n=10)
    got = S._sign_bands(spark, load_table(spark, d, "embeddings"), d)
    assert len(_memo_keys(S._BANDS_KIND)) == 1
    assert _memo_keys(S._BANDS_KIND)[0] != bk
    assert got.select("vec_id").distinct().count() == 10


def _memo_entry_points():
    # (table writer, call(spark, sf_dir, embeddings frame or None))
    return {
        "dedup_candidates": (_write_docs, lambda s, d, e: D.dedup_candidates(s, d)),
        "llm_dedup_clusters": (_write_docs, lambda s, d, e: D.llm_dedup_clusters(s, d)),
        "copurchase_census": (_write_lineitem, lambda s, d, e: G.copurchase_census(s, d)),
        "ranked_events_stage": (_write_events, lambda s, d, e: R.ranked_events_stage(s, d)),
        "ivf_centroids": (_write_emb, lambda s, d, e: S.ivf_centroids(s, d)),
        "pq_codebook": (_write_emb, lambda s, d, e: S.pq_codebook(s, d)),
        "_sign_bands": (_write_emb, lambda s, d, e: S._sign_bands(s, e, d)),
        "_sign_lsh_candidates": (_write_emb, lambda s, d, e: S._sign_lsh_candidates(s, e, d)),
        "_corpus_count": (_write_emb, lambda s, d, e: S._corpus_count(s, e, d)),
    }


@pytest.mark.parametrize("entry", sorted(_memo_entry_points()))
def test_memo_hit_submits_no_spark_job(spark, tmp_path, monkeypatch, entry):
    """Every memoized stage answers a repeat call from ``ann_index._MEMO``:
    the same value back, the memo untouched, and not one Spark job."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    write, call = _memo_entry_points()[entry]
    write(spark, d, seed=0)
    # the embeddings frame is read outside the counted region: Spark's
    # parquet schema inference is a job of its own
    e = load_table(spark, d, "embeddings") if write is _write_emb else None
    ann_index._MEMO.clear()

    first = call(spark, d, e)
    before = dict(ann_index._MEMO)
    assert before
    second, jobs = _jobs_in(spark, f"memo-hit-{entry}", lambda: call(spark, d, e))
    assert jobs == 0
    if isinstance(first, list):  # pq_codebook rebuilds its nested lists from the memoized rows
        assert second == first
    else:
        assert second is first
    assert ann_index._MEMO.keys() == before.keys()
    assert all(ann_index._MEMO[k] is v for k, v in before.items())


def test_memo_rewrite_replaces_only_that_tables_entries(spark, tmp_path, monkeypatch):
    """A documents rewrite replaces the documents-keyed entry of the same
    corpus; the lineitem-keyed census entry of that corpus survives."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = str(tmp_path / "corpus")
    _write_docs(spark, d, seed=0)
    _write_lineitem(spark, d, seed=0)
    ann_index._MEMO.clear()
    D.dedup_candidates(spark, d)
    census = G.copurchase_census(spark, d)
    (cand_key,) = _memo_keys("dedup_candidates")
    (census_key,) = _memo_keys("copurchase_census")

    _write_docs(spark, d, seed=9, n=12)
    D.dedup_candidates(spark, d)
    assert _memo_keys("dedup_candidates") != [cand_key]
    assert len(_memo_keys("dedup_candidates")) == 1
    assert _memo_keys("copurchase_census") == [census_key]
    assert ann_index._MEMO[census_key] is census
    assert G.copurchase_census(spark, d) is census
