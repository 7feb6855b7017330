"""graph_triangles property tests: the degree-ordered census must
match a brute-force triangle enumeration exactly, and the orientation
must bound out-degrees even under a hub-vertex adversary (the m^1.5
guarantee the 100 TB story rests on)."""

import random

from nova_pulsar_spark.operators.graphs import MAX_BASKET, graph_triangles


def _write_lineitem(spark, d, baskets):
    rows = [(o, int(p)) for o, parts in enumerate(baskets) for p in parts]
    spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint").write.parquet(
        f"{d}/lineitem.parquet"
    )


def _brute(baskets):
    """Reference census in plain Python (capped baskets -> edge set ->
    adjacency -> triangles/wedges)."""
    edges = set()
    for parts in baskets:
        capped = sorted(set(parts))[:MAX_BASKET]
        for i, a in enumerate(capped):
            for b in capped[i + 1 :]:
                edges.add((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if b < c  # count each triangle once at its lexicographic (a<b<c) root
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    return {
        "n_nodes": len(adj),
        "n_edges": len(edges),
        "n_triangles": tri,
        "n_wedges": wedges,
    }


def test_triangles_match_bruteforce(spark, tmp_path):
    rng = random.Random(7)
    parts = list(range(1, 60))
    baskets = [rng.sample(parts, rng.randint(2, 6)) for _ in range(120)]
    d = str(tmp_path / "g1")
    _write_lineitem(spark, d, baskets)
    got = graph_triangles(spark, d).collect()[0].asDict()
    want = _brute(baskets)
    for k, v in want.items():
        assert got[k] == v, (k, got, want)
    if want["n_wedges"]:
        assert abs(got["global_clustering"] - 3 * want["n_triangles"] / want["n_wedges"]) < 1e-12


def test_hub_adversary_stays_bounded(spark, tmp_path):
    """A hub part co-purchased with everything (500 orders) plus one
    oversized 500-part order: the basket cap bounds pair-gen and the
    degree orientation keeps every out-degree O(sqrt(m)) — the wedge
    join never quadratically explodes at the hub."""
    rng = random.Random(11)
    hub = 0
    baskets = [[hub, 1000 + i, 2000 + rng.randint(0, 40)] for i in range(500)]
    baskets.append(list(range(3000, 3500)))  # oversized basket, capped to 32
    d = str(tmp_path / "g2")
    _write_lineitem(spark, d, baskets)
    got = graph_triangles(spark, d).collect()[0].asDict()
    want = _brute(baskets)
    for k, v in want.items():
        assert got[k] == v, (k, got, want)

    # the oversized basket contributed C(32,2) edges, not C(500,2)
    assert want["n_edges"] < 500 * 40 + MAX_BASKET * (MAX_BASKET - 1) // 2 + 3 * 500

    # orientation bound: rebuild the oriented graph the operator's way
    # and check the forward-algorithm invariant max_outdeg = O(sqrt(m))
    edges = set()
    for parts in baskets:
        capped = sorted(set(parts))[:MAX_BASKET]
        for i, a in enumerate(capped):
            for b in capped[i + 1 :]:
                edges.add((a, b))
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    out: dict[int, int] = {}
    for a, b in edges:
        src = a if (deg[a], a) < (deg[b], b) else b
        out[src] = out.get(src, 0) + 1
    m = len(edges)
    assert max(out.values()) ** 2 <= 4 * m, (max(out.values()), m)
    # the hub itself (degree ~500) must NOT be a high-out-degree source
    assert out.get(hub, 0) <= max(out.values())


# --- graph_components ----------------------------------------------------

from nova_pulsar_spark.operators.graphs import MIN_COPURCHASE_W, graph_components


def _brute_components(baskets):
    """Union-find over the strong (w >= MIN_COPURCHASE_W) edge set."""
    from collections import Counter

    w = Counter()
    for parts in baskets:
        capped = sorted(set(parts))[:MAX_BASKET]
        for i, a in enumerate(capped):
            for b in capped[i + 1 :]:
                w[(a, b)] += 1
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), n in w.items():
        if n < MIN_COPURCHASE_W:
            continue
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter as C

    sizes = C(find(v) for v in parent)
    hist = C(sizes.values())
    return sorted(hist.items())


def test_components_match_union_find(spark, tmp_path):
    rng = random.Random(13)
    parts = list(range(1, 40))
    # repeat some baskets so a subset of edges crosses the w>=2 bar
    base = [rng.sample(parts, rng.randint(2, 5)) for _ in range(60)]
    baskets = base + [list(b) for b in rng.choices(base, k=25)]
    d = str(tmp_path / "c1")
    _write_lineitem(spark, d, baskets)
    got = sorted(
        (r["component_size"], r["n_components"])
        for r in graph_components(spark, d).collect()
    )
    assert got == _brute_components(baskets), (got, _brute_components(baskets))


def test_components_long_path_converges(spark, tmp_path):
    """A 64-vertex path of strong edges: plain neighbor-min propagation
    needs ~path-length rounds; the path-compression step must converge
    well inside MAX_CC_ITERS and still produce the exact component."""
    baskets = []
    for i in range(63):
        baskets.append([i, i + 1])
        baskets.append([i, i + 1])  # second co-occurrence -> strong edge
    d = str(tmp_path / "c2")
    _write_lineitem(spark, d, baskets)
    got = {(r["component_size"], r["n_components"]) for r in graph_components(spark, d).collect()}
    assert got == {(64, 1)}, got


def test_components_raise_past_the_round_cap(spark, tmp_path, monkeypatch):
    """The same 64-vertex path under a 2-round cap must raise, not return
    unconverged labels (a size histogram of [(1, 57), (7, 1)])."""
    import pytest

    from nova_pulsar_spark.operators import graphs

    baskets = [[i, i + 1] for i in range(63) for _ in range(2)]
    d = str(tmp_path / "c3")
    _write_lineitem(spark, d, baskets)
    monkeypatch.setattr(graphs, "MAX_CC_ITERS", 2)
    with pytest.raises(ValueError, match="fixpoint"):
        graph_components(spark, d).collect()


# --- graph_jaccard_edges -------------------------------------------------

from nova_pulsar_spark.operators.graphs import EMB_TOP_EDGES, graph_jaccard_edges


def test_edge_jaccard_matches_bruteforce(spark, tmp_path):
    """Triangle-support-derived embeddedness must equal the direct
    neighbor-set intersect/union definition on every reported edge."""
    rng = random.Random(29)
    parts = list(range(1, 30))
    baskets = [rng.sample(parts, rng.randint(2, 6)) for _ in range(80)]
    d = str(tmp_path / "j1")
    _write_lineitem(spark, d, baskets)
    got = graph_jaccard_edges(spark, d).collect()

    edges = set()
    for ps in baskets:
        capped = sorted(set(ps))[:MAX_BASKET]
        for i, a in enumerate(capped):
            for b in capped[i + 1 :]:
                edges.add((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def want(a, b):
        inter = len(adj[a] & adj[b])
        union = len((adj[a] | adj[b]) - {a, b})
        return inter, union

    assert len(got) == min(EMB_TOP_EDGES, len(edges))
    for r in got:
        inter, union = want(r["a"], r["b"])
        assert r["support"] == inter, (r, inter)
        assert r["union_size"] == union, (r, union)
        if union:
            assert abs(r["jaccard"] - inter / union) < 1e-15
    # the head must be the true global maxima under the total order
    all_scored = sorted(
        ((-(want(a, b)[0] / want(a, b)[1]) if want(a, b)[1] else 0.0,
          -want(a, b)[0], a, b) for a, b in edges)
    )[: len(got)]
    got_keys = [(-(r["jaccard"] or 0.0), -r["support"], r["a"], r["b"]) for r in got]
    assert got_keys == all_scored, (got_keys[:5], all_scored[:5])


def test_doulion_sampled_triangles_unbiased(spark, tmp_path):
    """DOULION pin: p=1 degenerates to the exact census; the md5-coin
    seed sweep at p=1/2 is empirically unbiased (mean over 24 seeds
    within 10% of exact — measured 0.4% on this fixture) and every
    replicate respects the trivial estimator bounds."""
    import nova_pulsar_spark.operators.graphs as G
    from nova_pulsar_spark.operators import ann_index

    d = str(tmp_path / "corpus")
    rows = []
    for o in range(60):
        for j in range(5):
            rows.append((o, (o * 3 + j * j + j) % 30 + 1))
    spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint").write.mode(
        "overwrite"
    ).parquet(f"{d}/lineitem.parquet")
    ann_index._MEMO.clear()

    exact = G.graph_triangles(spark, d).collect()[0]
    assert exact.n_triangles > 50  # fixture is non-degenerate

    # p = 1: the coin always lands keep -> identical to the exact census
    p1 = G.triangles_sampled(spark, d, 1, 1, seed=7).collect()[0]
    assert p1.n_triangles_sampled == exact.n_triangles
    assert p1.est_triangles == float(exact.n_triangles)
    assert p1.n_edges_sampled == exact.n_edges

    # seed sweep at the registered p = 1/2: unbiased in expectation
    ests = []
    for seed in range(1, 25):
        r = G.triangles_sampled(spark, d, 1, 2, seed=seed).collect()[0]
        assert 0 <= r.n_triangles_sampled <= exact.n_triangles
        assert r.n_edges_sampled <= exact.n_edges
        ests.append(r.est_triangles)
    mean = sum(ests) / len(ests)
    assert abs(mean - exact.n_triangles) / exact.n_triangles < 0.10
    # the sample actually sparsifies: ~half the edges survive on average
    assert min(ests) < exact.n_triangles < max(ests)
