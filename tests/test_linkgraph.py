"""Link-graph operator tests: hand-computable fixtures (ring, star,
cliques) plus a seeded power-law graph checked against local numpy /
pure-python oracles — PageRank allclose 1e-6, CC/LPA/triangles exact.
Also covers checkpoint/resume identity."""

from __future__ import annotations

import math
import random
import tempfile

import numpy as np
import pytest


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def ring(n):
    return [(i, (i + 1) % n) for i in range(n)]


def star(n):
    return [(0, i) for i in range(1, n + 1)]


def two_cliques(k):
    e = []
    for base in (0, 100):
        for i in range(k):
            for j in range(i + 1, k):
                e.append((base + i, base + j))
    return e


def powerlaw_graph(n=800, m=3200, seed=42):
    """Chung-Lu-ish: endpoint picks weighted ~ k^-0.8 rank weights."""
    rng = random.Random(seed)
    weights = [1.0 / ((i + 1) ** 0.8) for i in range(n)]
    total = sum(weights)
    cum = []
    acc = 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)

    def pick():
        r = rng.random()
        lo, hi = 0, n - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cum[mid] < r:
                lo = mid + 1
            else:
                hi = mid
        return lo

    edges = set()
    while len(edges) < m:
        a, b = pick(), pick()
        if a != b:
            edges.add((a, b))
    return sorted(edges)


# ---------------------------------------------------------------- oracles
def pagerank_oracle(pairs, alpha=0.85, tol=1e-12, max_iter=500):
    verts = sorted({v for e in pairs for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out_deg = np.zeros(n)
    for a, b in pairs:
        out_deg[idx[a]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.zeros(n)
        for a, b in pairs:
            contrib[idx[b]] += rank[idx[a]] / out_deg[idx[a]]
        dangling = rank[out_deg == 0].sum()
        new = (1 - alpha) / n + alpha * (contrib + dangling / n)
        if np.abs(new - rank).max() < tol:
            rank = new
            break
        rank = new
    return {v: rank[idx[v]] for v in verts}


def cc_oracle(pairs):
    verts = {v for e in pairs for v in e}
    parent = {v: v for v in verts}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # compress to min id per component
    comp = {}
    for v in verts:
        comp[v] = find(v)
    changed = True
    while changed:
        changed = False
        for v in verts:
            if comp[v] != comp[comp[v]]:
                comp[v] = comp[comp[v]]
                changed = True
    return comp


def triangles_oracle(pairs):
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # count each triangle once: corners ordered v < w < u
    total = 0
    for v in adj:
        for w in adj[v]:
            if w <= v:
                continue
            for u in adj[v] & adj[w]:
                if u > w:
                    total += 1
    return total


def lpa_oracle(pairs, max_steps=20):
    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {v: v for v in nbrs}
    for _ in range(max_steps):
        new = {}
        for v in nbrs:
            votes = {}
            for u in nbrs[v]:
                votes[labels[u]] = votes.get(labels[u], 0) + 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    return labels


# ------------------------------------------------------------------ tests
def test_pagerank_ring_uniform(spark):
    from smatchpp_spark.operators.pagerank import pagerank

    res = pagerank(_edges_df(spark, ring(40)), tol=1e-12)
    ranks = {r.vertex: r.rank for r in res.ranks.collect()}
    assert res.converged
    assert all(math.isclose(v, 1 / 40, rel_tol=1e-9) for v in ranks.values())


def test_pagerank_star_and_dangling(spark):
    from smatchpp_spark.operators.pagerank import pagerank

    pairs = star(20)  # leaves are dangling vertices
    res = pagerank(_edges_df(spark, pairs), tol=1e-12)
    got = {r.vertex: r.rank for r in res.ranks.collect()}
    exp = pagerank_oracle(pairs)
    assert res.converged
    for v, r in exp.items():
        assert math.isclose(got[v], r, abs_tol=1e-6), v
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_pagerank_powerlaw_vs_numpy(spark):
    from smatchpp_spark.operators.pagerank import pagerank

    pairs = powerlaw_graph()
    res = pagerank(_edges_df(spark, pairs), tol=1e-10, max_supersteps=200)
    got = {r.vertex: r.rank for r in res.ranks.collect()}
    exp = pagerank_oracle(pairs)
    assert res.converged
    diffs = [abs(got[v] - exp[v]) for v in exp]
    assert max(diffs) < 1e-6


def test_connected_components_exact(spark):
    from smatchpp_spark.operators.components import connected_components

    pairs = two_cliques(5) + ring(10) + [(500, 501)]
    # shift ring ids to avoid clique overlap
    pairs = two_cliques(5) + [(a + 300, b + 300) for a, b in ring(10)] + [(500, 501)]
    res = connected_components(_edges_df(spark, pairs))
    got = {r.vertex: r.component for r in res.components.collect()}
    assert res.converged
    assert got == cc_oracle(pairs)


def test_connected_components_powerlaw(spark):
    from smatchpp_spark.operators.components import connected_components

    pairs = powerlaw_graph(n=500, m=900, seed=7)
    res = connected_components(_edges_df(spark, pairs))
    got = {r.vertex: r.component for r in res.components.collect()}
    assert got == cc_oracle(pairs)


def test_label_propagation_vs_oracle(spark):
    from smatchpp_spark.operators.labelprop import label_propagation

    pairs = two_cliques(5)
    res = label_propagation(_edges_df(spark, pairs), max_supersteps=20)
    got = {r.vertex: r.label for r in res.labels.collect()}
    exp = lpa_oracle(pairs, max_steps=20)
    assert got == exp
    # two cliques -> two communities
    assert len(set(got.values())) == 2


def test_triangles_exact(spark):
    from smatchpp_spark.operators.triangles import triangle_count

    assert triangle_count(_edges_df(spark, two_cliques(5))).total == 20
    assert triangle_count(_edges_df(spark, ring(30))).total == 0
    assert triangle_count(_edges_df(spark, star(30))).total == 0
    # duplicate + reversed edges must not change the count
    noisy = two_cliques(4) + [(b, a) for a, b in two_cliques(4)] + two_cliques(4)
    assert triangle_count(_edges_df(spark, noisy)).total == 8


def test_triangles_powerlaw_vs_bruteforce(spark):
    from smatchpp_spark.operators.triangles import triangle_count

    pairs = powerlaw_graph(n=300, m=1500, seed=11)
    got = triangle_count(_edges_df(spark, pairs))
    assert got.total == triangles_oracle(pairs)
    # per-vertex counts sum to 3x total (each triangle has 3 corners)
    s = got.per_vertex.groupBy().sum("triangles").collect()[0][0]
    assert s == 3 * got.total


def test_pagerank_checkpoint_resume_identical(spark):
    from smatchpp_spark.operators.pagerank import pagerank

    pairs = powerlaw_graph(n=300, m=1200, seed=3)
    edges = _edges_df(spark, pairs)
    full = pagerank(edges, tol=1e-10, max_supersteps=100)
    assert full.converged

    with tempfile.TemporaryDirectory() as d:
        # phase 1: stop mid-iteration after 5 supersteps
        part = pagerank(edges, tol=1e-10, max_supersteps=5, checkpoint_dir=d)
        assert not part.converged
        # phase 2: resume from the committed checkpoint
        res = pagerank(
            edges, tol=1e-10, max_supersteps=100, checkpoint_dir=d, resume=True
        )
        assert res.converged
        # resumed run skips the first 5 supersteps
        assert res.metrics[0]["superstep"] == 6
        # collect while the checkpoint backing the state still exists
        got_res = {r.vertex: r.rank for r in res.ranks.collect()}

    got_full = {r.vertex: r.rank for r in full.ranks.collect()}
    assert max(abs(got_full[v] - got_res[v]) for v in got_full) < 1e-9


def test_metrics_and_lineage_recorded(spark):
    import json
    import os

    from smatchpp_spark.operators.components import connected_components

    with tempfile.TemporaryDirectory() as d:
        res = connected_components(
            _edges_df(spark, ring(12)), checkpoint_dir=d, input_lineage="ring12"
        )
        path = os.path.join(d, "connected_components", "metrics.jsonl")
        with open(path) as fh:
            records = [json.loads(line) for line in fh]
    assert len(records) == res.supersteps
    for rec in records:
        assert rec["op"] == "connected_components"
        assert rec["edges_processed"] > 0
        assert rec["partitions"] and all(
            p["input_lineage"] == "ring12" for p in rec["partitions"]
        )
    assert records[-1]["delta"] == 0.0


def test_two_phase_components_matches_oracle_and_hashmin(spark):
    from smatchpp_spark.operators.components import (
        connected_components,
        two_phase_components,
    )

    fixtures = [
        two_cliques(5) + [(a + 300, b + 300) for a, b in ring(10)] + [(500, 501)],
        powerlaw_graph(n=400, m=700, seed=13),
        [(i, i + 1) for i in range(200)],  # long path: diameter 200
    ]
    for pairs in fixtures:
        res = two_phase_components(_edges_df(spark, pairs))
        got = {r.vertex: r.component for r in res.components.collect()}
        assert res.converged
        assert got == cc_oracle(pairs)

    # the log-round property: a 200-edge path converges in far fewer
    # rounds than its diameter (hash-min needs ~100 supersteps)
    path = [(i, i + 1) for i in range(200)]
    tp = two_phase_components(_edges_df(spark, path))
    assert tp.supersteps <= 12, tp.supersteps
    hm = connected_components(_edges_df(spark, path), max_supersteps=200)
    assert {r.vertex: r.component for r in hm.components.collect()} == {
        r.vertex: r.component for r in tp.components.collect()
    }
    assert tp.supersteps < hm.supersteps


def test_personalized_pagerank_vs_numpy(spark):
    """Personalized PR (teleport uniform over a source set; restart and
    dangling mass follow the teleport vector): allclose vs a numpy power
    iteration, total mass 1, and zero rank on vertices unreachable from
    the sources."""
    from smatchpp_spark.operators.pagerank import pagerank

    rng = np.random.RandomState(3)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 30, size=(120, 2)) if a != b}
    )
    # an isolated 2-cycle unreachable from the sources
    E += [(100, 101), (101, 100)]
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in E], "src string, dst string"
    )
    S = ["0", "5", "7"]
    res = pagerank(edges, alpha=0.85, tol=-1.0, max_supersteps=12, sources=S)
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {str(v): i for i, v in enumerate(verts)}
    n = len(verts)
    t = np.zeros(n)
    for s in S:
        t[idx[s]] = 1 / len(S)
    outd = np.zeros(n)
    for a, b in E:
        outd[idx[str(a)]] += 1
    r = t.copy()
    for _ in range(12):
        dm = r[outd == 0].sum()
        new = (0.15 + 0.85 * dm) * t
        for a, b in E:
            new[idx[str(b)]] += 0.85 * r[idx[str(a)]] / outd[idx[str(a)]]
        r = new
    assert max(abs(got[str(v)] - r[idx[str(v)]]) for v in verts) < 1e-9
    assert sum(got.values()) == pytest.approx(1.0)
    assert got["100"] == 0.0 and got["101"] == 0.0

    # DataFrame source-set form matches the list form
    sdf = spark.createDataFrame([(s,) for s in S], "vertex string")
    res2 = pagerank(edges, alpha=0.85, tol=-1.0, max_supersteps=12, sources=sdf)
    got2 = {r["vertex"]: r["rank"] for r in res2.ranks.collect()}
    assert got == got2

    with pytest.raises(ValueError):
        pagerank(edges, max_supersteps=2, sources=["no-such-vertex"])


def _py_kcore(pairs, k):
    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in nbrs.items() if len(ns) < k]:
            for u in nbrs.pop(v):
                nbrs[u].discard(v)
            changed = True
    return set(nbrs)


def test_kcore_vs_python_oracle(spark):
    from smatchpp_spark.operators.kcore import k_core

    rng = random.Random("kcore")
    pairs = {(rng.randrange(40), rng.randrange(40)) for _ in range(140)}
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )
    for k in (2, 3, 4):
        res = k_core(edges, k)
        assert res.converged
        got = {r["vertex"] for r in res.vertices.collect()}
        want = {str(v) for v in _py_kcore(pairs, k)}
        assert got == want, (k, got ^ want)


def test_kcore_clique_plus_tail(spark):
    """A 5-clique with a pendant path: the 4-core is exactly the clique,
    the 5-core is empty, multi-edges don't inflate degrees."""
    from smatchpp_spark.operators.kcore import k_core

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    tail = [(4, 10), (10, 11), (11, 12)]
    dup = [(0, 1)] * 3  # multiplicity must not count
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in clique + tail + dup],
        "src string, dst string",
    )
    four = k_core(edges, 4)
    assert {r["vertex"] for r in four.vertices.collect()} == {str(i) for i in range(5)}
    assert four.converged
    assert k_core(edges, 5).vertices.count() == 0


def _py_bfs(pairs, sources, directed=True):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    verts = {v for e in pairs for v in e}
    dist = {s: 0 for s in sources if s in verts}
    frontier = set(dist)
    d = 0
    while frontier:
        d += 1
        nxt = set()
        for v in frontier:
            for u in adj.get(v, ()):
                if u not in dist:
                    dist[u] = d
                    nxt.add(u)
        frontier = nxt
    return dist


def test_bfs_distances_vs_python_oracle(spark):
    from smatchpp_spark.operators.bfs import bfs_distances

    rng = random.Random("bfs")
    pairs = sorted({(rng.randrange(50), rng.randrange(50)) for _ in range(150)})
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )
    S = [0, 3, "not-a-vertex"]
    for directed in (True, False):
        res = bfs_distances(
            edges, [str(s) for s in S], max_depth=30, directed=directed
        )
        assert res.converged
        got = {r["vertex"]: r["distance"] for r in res.distances.collect()}
        want = {
            str(v): d
            for v, d in _py_bfs(pairs, [0, 3], directed=directed).items()
        }
        assert got == want, directed

    # DataFrame seed form, truncated depth: only distances <= max_depth
    sdf = spark.createDataFrame([("0",)], "vertex string")
    res = bfs_distances(edges, sdf, max_depth=2)
    got = {r["vertex"]: r["distance"] for r in res.distances.collect()}
    full = {str(v): d for v, d in _py_bfs(pairs, [0]).items()}
    assert got == {v: d for v, d in full.items() if d <= 2}


def test_weighted_pagerank_vs_numpy(spark):
    """Weighted PR: rank spreads proportional to edge weight; uniform
    weights reproduce the unweighted result exactly."""
    from smatchpp_spark.operators.pagerank import pagerank

    rng = np.random.RandomState(9)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 25, size=(90, 2)) if a != b}
    )
    W = {e: float(rng.randint(1, 6)) for e in E}
    edges = spark.createDataFrame(
        [(str(a), str(b), W[(a, b)]) for a, b in E],
        "src string, dst string, wt double",
    )
    res = pagerank(edges, alpha=0.85, tol=-1.0, max_supersteps=10, weight_col="wt")
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {str(v): i for i, v in enumerate(verts)}
    n = len(verts)
    outw = np.zeros(n)
    for (a, b), w in W.items():
        outw[idx[str(a)]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        dm = r[outw == 0].sum()
        new = np.full(n, 0.15 / n + 0.85 * dm / n)
        for (a, b), w in W.items():
            new[idx[str(b)]] += 0.85 * r[idx[str(a)]] * w / outw[idx[str(a)]]
        r = new
    assert max(abs(got[str(v)] - r[idx[str(v)]]) for v in verts) < 1e-9
    assert sum(got.values()) == pytest.approx(1.0)

    from pyspark.sql import functions as SF

    uw = pagerank(edges.select("src", "dst"), alpha=0.85, tol=-1.0, max_supersteps=10)
    w1 = pagerank(
        edges.withColumn("wt", SF.lit(1.0)),
        alpha=0.85, tol=-1.0, max_supersteps=10, weight_col="wt",
    )
    gu = {r["vertex"]: r["rank"] for r in uw.ranks.collect()}
    gw = {r["vertex"]: r["rank"] for r in w1.ranks.collect()}
    assert max(abs(gu[v] - gw[v]) for v in gu) < 1e-12


def test_triangle_count_approx_deterministic_and_unbiased(spark):
    """DOULION sampling: p=1 reproduces the exact counts; at p<1 the
    surviving edge set is the hash-deterministic sample (replicated in
    pure python via md5) and the sampled counts equal exact counting on
    that sample."""
    import hashlib

    from smatchpp_spark.operators.triangles import (
        triangle_count,
        triangle_count_approx,
    )

    pairs = powerlaw_graph(n=120, m=700, seed=5)
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )

    full = triangle_count_approx(edges, sample_rate=1.0)
    exact = triangle_count(edges)
    got_full = {r["vertex"]: r["triangles"] for r in full.per_vertex.collect()}
    got_exact = {r["vertex"]: r["triangles"] for r in exact.per_vertex.collect()}
    assert got_full == got_exact
    assert full.total_estimate == pytest.approx(exact.total)

    p = 0.5
    approx = triangle_count_approx(edges, sample_rate=p)

    def survives(a, b):
        lo, hi = sorted((str(a), str(b)))
        h = int(hashlib.md5(f"{lo}|{hi}".encode()).hexdigest()[:15], 16)
        return h % 1_000_000 < int(round(p * 1_000_000))

    kept = [(a, b) for a, b in pairs if survives(a, b)]
    want_total = triangles_oracle(kept)
    got = {r["vertex"]: r["triangles"] for r in approx.per_vertex.collect()}
    assert sum(got.values()) == 3 * want_total
    assert approx.total_estimate == pytest.approx(want_total / p**3)
    # the estimate is in the right ballpark of the true count (loose:
    # the variance bound is what the paper provides, not a guarantee)
    assert 0 < approx.total_estimate < 10 * exact.total


def test_kcore_and_bfs_checkpoint_resume_identical(spark, tmp_path):
    """kcore/bfs now run through SuperstepRunner: a resumed run from a
    committed checkpoint reproduces the converged output exactly and the
    metrics sink exists (same contract as pagerank/components)."""
    import os

    from smatchpp_spark.operators.bfs import bfs_distances
    from smatchpp_spark.operators.kcore import k_core

    pairs = powerlaw_graph(n=80, m=400, seed=13)
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )
    ck = str(tmp_path / "kc")
    r1 = k_core(edges, 3, checkpoint_dir=ck)
    r2 = k_core(edges, 3, checkpoint_dir=ck, resume=True)
    s1 = {r["vertex"] for r in r1.vertices.collect()}
    s2 = {r["vertex"] for r in r2.vertices.collect()}
    assert r1.converged and s1 == s2
    assert s1 == {str(v) for v in _py_kcore(pairs, 3)}
    assert os.path.exists(f"{ck}/kcore_3/metrics.jsonl")

    cb = str(tmp_path / "bfs")
    b1 = bfs_distances(edges, ["0", "1"], checkpoint_dir=cb)
    b2 = bfs_distances(edges, ["0", "1"], checkpoint_dir=cb, resume=True)
    d1 = {r["vertex"]: r["distance"] for r in b1.distances.collect()}
    d2 = {r["vertex"]: r["distance"] for r in b2.distances.collect()}
    assert b1.converged and d1 == d2
    assert d1 == {str(v): d for v, d in _py_bfs(pairs, [0, 1]).items()}
    assert os.path.exists(f"{cb}/bfs/metrics.jsonl")


def test_row_count_delta_reuses_prior_count(spark, monkeypatch):
    """Each superstep's delta must run exactly ONE count job: the old
    state's count is last round's new count, carried in the memo."""
    from smatchpp_spark.operators.supersteps import row_count_delta

    calls = {"n": 0}
    s0 = spark.range(10).toDF("v")
    cls = type(s0)  # the concrete (classic/connect) DataFrame class
    real_count = cls.count

    def counting(self):
        calls["n"] += 1
        return real_count(self)

    monkeypatch.setattr(cls, "count", counting)

    s1 = spark.range(7).toDF("v")
    s2 = spark.range(4).toDF("v")
    d = row_count_delta(sign=1)
    assert d(s0, s1) == 3.0
    assert calls["n"] == 2  # first round counts both sides
    assert d(s1, s2) == 3.0
    assert calls["n"] == 3  # second round reuses s1's memoized count

    g = row_count_delta(sign=-1)
    assert g(s2, s0) == 6.0  # growth sign (BFS reached set)


def test_pagerank_variant_compositions_vs_numpy(spark):
    """Weighted + personalized matches a numpy power iteration combining
    both semantics."""
    from smatchpp_spark.operators.pagerank import pagerank

    rng = np.random.RandomState(17)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 28, size=(110, 2)) if a != b}
    )
    W = {e: float(rng.randint(1, 5)) for e in E}
    S = ["1", "4", "9"]

    wedges = spark.createDataFrame(
        [(str(a), str(b), W[(a, b)]) for a, b in E],
        "src string, dst string, wt double",
    )
    res = pagerank(
        wedges, alpha=0.85, tol=-1.0, max_supersteps=8,
        sources=S, weight_col="wt",
    )
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {str(v): i for i, v in enumerate(verts)}
    n = len(verts)
    t = np.zeros(n)
    for s in S:
        t[idx[s]] = 1 / len(S)
    outw = np.zeros(n)
    for (a, b), w in W.items():
        outw[idx[str(a)]] += w
    r = t.copy()
    for _ in range(8):
        dm = r[outw == 0].sum()
        new = (0.15 + 0.85 * dm) * t
        for (a, b), w in W.items():
            new[idx[str(b)]] += 0.85 * r[idx[str(a)]] * w / outw[idx[str(a)]]
        r = new
    assert max(abs(got[str(v)] - r[idx[str(v)]]) for v in verts) < 1e-9
    assert sum(got.values()) == pytest.approx(1.0)


def test_triangle_approx_stderr_matches_empirical_spread(spark):
    """total_estimate_stderr (closed-form DOULION variance, independent-
    triangle term) must agree with the empirical spread of the estimator
    over 10 independent hash-offset resamples to within a small factor —
    it may undershoot on clustered graphs (shared-edge covariance) but
    must be the right order of magnitude."""
    from smatchpp_spark.operators.triangles import (
        triangle_count,
        triangle_count_approx,
    )

    pairs = powerlaw_graph(n=250, m=2200, seed=13)
    edges = _edges_df(spark, pairs)
    true_total = triangle_count(edges).total
    assert true_total > 50  # fixture sanity: enough triangles to sample

    p = 0.5
    ests, errs = [], []
    for off in range(10):
        r = triangle_count_approx(
            edges, sample_rate=p, portable=False, sample_offset=off
        )
        ests.append(r.total_estimate)
        errs.append(r.total_estimate_stderr)
    emp = float(np.std(ests, ddof=1))
    pred = float(np.mean(errs))
    assert pred > 0
    # right order of magnitude: within 3x either way
    assert pred / 3 <= emp <= pred * 3, (emp, pred, ests)
    # unbiasedness sanity: mean of resamples near truth (within 4 stderr)
    assert abs(np.mean(ests) - true_total) <= 4 * max(emp, pred)
    # offset=0 keeps the historical deterministic sample
    a = triangle_count_approx(edges, sample_rate=p, portable=False)
    b = triangle_count_approx(edges, sample_rate=p, portable=False, sample_offset=0)
    assert a.total_estimate == b.total_estimate


def test_weighted_label_propagation_vs_python(spark):
    """Weighted LPA: votes = summed edge weight; unit weights reproduce
    the unweighted run; a heavy edge overrides a count majority."""
    from pyspark.sql import functions as SF

    from smatchpp_spark.operators.labelprop import label_propagation

    # vertex 9 has two light neighbors in clique A and one heavy edge
    # into clique B: weighted LPA should pull 9 toward B's label
    cliqueA = [(1, 2), (1, 3), (2, 3)]
    cliqueB = [(20, 21), (20, 22), (21, 22)]
    W = {e: 1.0 for e in cliqueA + cliqueB}
    W[(1, 9)] = 1.0
    W[(2, 9)] = 1.0
    W[(20, 9)] = 10.0
    edges = spark.createDataFrame(
        [(str(a), str(b), w) for (a, b), w in W.items()],
        "src string, dst string, wt double",
    )
    # one superstep is fully deterministic: 9 sees labels 1 (w 1),
    # 2 (w 1), 20 (w 10) -> the heavy edge wins over the count majority
    one = label_propagation(edges, max_supersteps=1, weight_col="wt")
    g1 = {r.vertex: r.label for r in one.labels.collect()}
    assert g1["9"] == "20"

    res = label_propagation(edges, max_supersteps=8, weight_col="wt")
    got = {r.vertex: r.label for r in res.labels.collect()}

    # python replay of the synchronous weighted rule (ties -> min label)
    und = {}
    for (a, b), w in W.items():
        und.setdefault(str(a), {})[str(b)] = und.get(str(a), {}).get(str(b), 0.0) + w
        und.setdefault(str(b), {})[str(a)] = und.get(str(b), {}).get(str(a), 0.0) + w
    labels = {v: v for v in und}
    for _ in range(8):
        new = {}
        for v, nbrs in und.items():
            votes = {}
            for u, w in nbrs.items():
                votes[labels[u]] = votes.get(labels[u], 0.0) + w
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    assert got == labels

    # unit weights == unweighted result
    uw = label_propagation(
        edges.select("src", "dst"), max_supersteps=5
    ).labels.collect()
    w1 = label_propagation(
        edges.withColumn("wt", SF.lit(1.0)), max_supersteps=5, weight_col="wt"
    ).labels.collect()
    assert sorted(map(tuple, uw)) == sorted(map(tuple, w1))


def test_hits_vs_numpy(spark):
    """HITS hub/authority scores allclose 1e-8 vs a numpy power
    iteration with identical per-half-step L2 normalization; bipartite
    sanity: pure sources have authority 0, pure sinks hub 0."""
    from smatchpp_spark.operators.hits import hits

    rng = np.random.RandomState(7)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 25, size=(110, 2)) if a != b}
    )
    edges = _edges_df(spark, E)
    steps = 12
    res = hits(edges, max_supersteps=steps, tol=-1.0)
    got = {r.vertex: (r.hub, r.authority) for r in res.scores.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in E:
        A[idx[a], idx[b]] += 1.0
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(steps):
        a = A.T @ h
        na = np.linalg.norm(a)
        a = a / (na if na > 0 else 1.0)
        h = A @ a
        nh = np.linalg.norm(h)
        h = h / (nh if nh > 0 else 1.0)
    for v in verts:
        gh, ga = got[v]
        assert abs(gh - h[idx[v]]) < 1e-8, v
        assert abs(ga - a[idx[v]]) < 1e-8, v

    # star: the hub vertex has authority 0; leaves have hub 0
    star = _edges_df(spark, [(0, i) for i in range(1, 6)])
    sres = hits(star, max_supersteps=5, tol=-1.0)
    sg = {r.vertex: (r.hub, r.authority) for r in sres.scores.collect()}
    assert sg[0][1] == 0.0 and sg[0][0] == pytest.approx(1.0)
    for i in range(1, 6):
        assert sg[i][0] == 0.0


def test_hits_checkpoint_resume_identical(spark, tmp_path):
    from smatchpp_spark.operators.hits import hits

    pairs = powerlaw_graph(n=120, m=500, seed=3)
    edges = _edges_df(spark, pairs)
    ckpt = str(tmp_path / "hits_ckpt")

    fresh = hits(edges, max_supersteps=6, tol=-1.0)
    want = {r.vertex: (r.hub, r.authority) for r in fresh.scores.collect()}
    hits(edges, max_supersteps=2, tol=-1.0, checkpoint_dir=ckpt)
    resumed = hits(
        edges, max_supersteps=6, tol=-1.0, checkpoint_dir=ckpt, resume=True
    )
    got = {r.vertex: (r.hub, r.authority) for r in resumed.scores.collect()}
    assert got.keys() == want.keys()
    # parquet re-read reorders the L2-norm scalar's float sum — scores
    # agree to the ulp level, same bar as the PageRank resume contract
    for v in want:
        assert abs(got[v][0] - want[v][0]) < 1e-12
        assert abs(got[v][1] - want[v][1]) < 1e-12


def test_eigenvector_centrality_vs_numpy(spark):
    """Eigenvector centrality allclose 1e-8 vs a numpy power iteration
    on the undirected simple adjacency; the clique core outranks the
    pendant tail."""
    from smatchpp_spark.operators.hits import eigenvector_centrality

    rng = np.random.RandomState(5)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 20, size=(80, 2)) if a != b}
    )
    edges = _edges_df(spark, E)
    steps = 15
    res = eigenvector_centrality(edges, max_supersteps=steps, tol=-1.0)
    got = {r.vertex: r.hub for r in res.scores.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in E:
        A[idx[a], idx[b]] = 1.0
        A[idx[b], idx[a]] = 1.0
    x = np.ones(n)
    for _ in range(steps):
        x = A @ x
        nx = np.linalg.norm(x)
        x = x / (nx if nx > 0 else 1.0)
    for v in verts:
        assert abs(got[v] - x[idx[v]]) < 1e-8, v

    # clique + tail: clique members dominate the pendant
    cl = [(1, 2), (1, 3), (2, 3), (3, 99)]
    r2 = eigenvector_centrality(_edges_df(spark, cl), max_supersteps=30)
    g2 = {r.vertex: r.hub for r in r2.scores.collect()}
    assert min(g2[1], g2[2], g2[3]) > g2[99]


def test_free_local_checkpoint_releases_blocks(spark):
    """free_local_checkpoint drops a localCheckpoint's storage blocks
    immediately (Dataset.unpersist() alone leaves them until driver GC),
    and superstep runs leave no superseded state blocks behind."""
    from pyspark.sql import functions as F

    from smatchpp_spark.operators.pagerank import pagerank
    from smatchpp_spark.operators.supersteps import free_local_checkpoint

    sc = spark.sparkContext

    def n_stored():
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_stored()
    ck = spark.range(10000).select("id", (F.col("id") * 3).alias("x")) \
        .localCheckpoint(eager=True)
    assert n_stored() == base + 1
    ck.unpersist()  # documented no-op for checkpoint blocks
    assert n_stored() == base + 1
    free_local_checkpoint(ck)
    assert n_stored() == base

    # an iterative run frees every superseded superstep state: afterwards
    # only the operator's persisted static inputs + the final state (and
    # whatever the session held before) remain
    before = n_stored()
    e = spark.createDataFrame(
        [(str(a), str((a + 1) % 30)) for a in range(30)]
        + [(str(a), str((a * 7) % 30)) for a in range(30)],
        "src string, dst string",
    )
    res = pagerank(e, tol=-1.0, max_supersteps=5)
    res.ranks.count()
    after = n_stored()
    # final state (1 block) may remain; superseded per-superstep states
    # (5 of them) must not
    assert after - before <= 2, (before, after)


# ---------------------------------------------------------------------------
# betweenness (Brandes, sampled sources)
# ---------------------------------------------------------------------------

def _brandes_exact(edges, sources=None, directed=False):
    """Textbook Brandes (BFS + dependency accumulation) for the
    differential: exact betweenness over ``sources`` (default: all)."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        if not directed:
            adj[v].add(u)
    nodes = sorted({x for e in edges for x in e})
    bc = dict.fromkeys(nodes, 0.0)
    for s in (sources or nodes):
        stack, preds = [], defaultdict(list)
        sigma = dict.fromkeys(nodes, 0)
        dist = dict.fromkeys(nodes, -1)
        sigma[s], dist[s] = 1, 0
        queue = deque([s])
        while queue:
            v = queue.popleft()
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = dict.fromkeys(nodes, 0.0)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += (sigma[v] / sigma[w]) * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    if not directed:
        for v in bc:
            bc[v] /= 2.0
    return {k: v for k, v in bc.items() if v > 0}


_BET_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"),
    ("d", "e"), ("e", "f"), ("a", "f"), ("c", "g"),
]


def test_betweenness_exact_all_sources(spark):
    """All vertices as sources + depth >= diameter == exact Brandes."""
    from smatchpp_spark.operators.betweenness import betweenness_approx

    nodes = sorted({x for e in _BET_EDGES for x in e})
    df = spark.createDataFrame(_BET_EDGES, "src string, dst string")
    res = betweenness_approx(df, nodes, max_depth=10, directed=False)
    got = {r.vertex: r.betweenness for r in res.scores.collect()}
    exact = _brandes_exact(_BET_EDGES)
    assert set(got) == set(exact)
    for k in exact:
        assert abs(got[k] - exact[k]) < 1e-12, (k, got[k], exact[k])
    assert res.converged


def test_betweenness_sampled_and_directed(spark):
    """Sampled-source sums and the directed variant both match the
    per-source exact accumulation."""
    from smatchpp_spark.operators.betweenness import betweenness_approx

    df = spark.createDataFrame(_BET_EDGES, "src string, dst string")
    srcs = ["a", "c", "e"]
    res = betweenness_approx(df, srcs, max_depth=10, directed=False)
    got = {r.vertex: r.betweenness for r in res.scores.collect()}
    exact = _brandes_exact(_BET_EDGES, sources=srcs)
    assert got.keys() == exact.keys()
    for k in exact:
        assert abs(got[k] - exact[k]) < 1e-12

    resd = betweenness_approx(df, ["a", "b"], max_depth=10, directed=True)
    gotd = {r.vertex: r.betweenness for r in resd.scores.collect()}
    exactd = _brandes_exact(_BET_EDGES, sources=["a", "b"], directed=True)
    assert gotd.keys() == exactd.keys()
    for k in exactd:
        assert abs(gotd[k] - exactd[k]) < 1e-12


def test_betweenness_truncation_and_empty(spark):
    """max_depth truncates dependencies to <=k-hop shortest paths
    (bounded-distance betweenness); empty graphs / absent seeds yield
    empty output without spinning."""
    from smatchpp_spark.operators.betweenness import betweenness_approx

    # path graph a-b-c-d-e: with depth 2 from source a, only paths of
    # length <= 2 contribute (b gets delta from {b,c} subtree)
    path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(path, "src string, dst string")
    res = betweenness_approx(df, ["a"], max_depth=2, directed=False)
    got = {r.vertex: r.betweenness for r in res.scores.collect()}
    # forward reach: a(0) b(1) c(2); backward: delta(b) = 1+0 = 1 (from
    # c), bc = 1/2 (undirected halving); c is a leaf of the truncated
    # DAG so it accumulates nothing
    assert got == {"b": 0.5}

    empty = df.limit(0)
    r2 = betweenness_approx(empty, ["a"], max_depth=5)
    assert r2.scores.count() == 0
    r3 = betweenness_approx(df, ["zzz"], max_depth=5)
    assert r3.scores.count() == 0


def test_landmark_distances_exact_on_path_graph(spark):
    from smatchpp_spark.operators.landmarks import (
        estimate_distances,
        landmark_distances,
        pick_landmarks,
    )

    # path a-b-c-d-e plus hub h attached to b, c, d, e (unique max degree)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
         ("h", "b"), ("h", "c"), ("h", "d"), ("h", "e")],
        "src string, dst string",
    )
    lm = pick_landmarks(edges, k=1, directed=False)
    assert [r["vertex"] for r in lm.collect()] == ["h"]  # degree 4 beats all

    res = landmark_distances(edges, lm, max_depth=5, directed=False)
    d = {(r["landmark"], r["vertex"]): r["distance"] for r in res.distances.collect()}
    assert res.converged
    assert d[("h", "h")] == 0
    assert all(d[("h", v)] == 1 for v in "bcde")
    assert d[("h", "a")] == 2

    pairs = spark.createDataFrame(
        [("a", "e"), ("a", "c"), ("b", "d")], "src string, dst string"
    )
    est = {
        (r["src"], r["dst"]): (r["est_distance"], r["n_landmarks"])
        for r in estimate_distances(res.distances, pairs).collect()
    }
    # a-e true distance 3 (a-b-h-e) and the bound through h equals it
    assert est[("a", "e")] == (3, 1)
    # a-c true distance 2, via h: 2+1=3 (upper bound, not exact)
    assert est[("a", "c")] == (3, 1)
    assert est[("b", "d")] == (2, 1)


def test_landmark_distances_multi_landmark_tightens_bound(spark):
    from smatchpp_spark.operators.landmarks import (
        estimate_distances,
        landmark_distances,
    )

    # two clusters bridged at m; landmarks at both cluster centers
    edges = spark.createDataFrame(
        [("a", "m"), ("m", "b"), ("a", "x"), ("b", "y")],
        "src string, dst string",
    )
    res = landmark_distances(edges, ["a", "b"], max_depth=4, directed=False)
    pairs = spark.createDataFrame([("x", "y")], "src string, dst string")
    est = estimate_distances(res.distances, pairs).collect()[0]
    # true x-y distance is 4 (x-a-m-b-y); both landmarks lie on the path
    assert est["est_distance"] == 4
    assert est["n_landmarks"] == 2


def test_landmark_packed_parity_with_keyed(spark):
    """The array-state variant (one row per vertex, k-slot distance
    array) must unpack to EXACTLY the keyed variant's (landmark, vertex,
    distance) table — same landmarks, same depths, same reached set."""
    from smatchpp_spark.operators.landmarks import (
        landmark_distances,
        landmark_distances_packed,
        pick_landmarks,
    )

    pairs = [(str(a), str(b)) for a, b in powerlaw_graph(n=90, m=260, seed=23)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    lm = pick_landmarks(edges, k=6, directed=False)

    keyed = landmark_distances(edges, lm, max_depth=6, directed=False)
    packed = landmark_distances_packed(edges, lm, max_depth=6, directed=False)
    as_set = lambda res: {
        (r["landmark"], r["vertex"], r["distance"])
        for r in res.distances.collect()
    }
    assert keyed.converged == packed.converged
    assert as_set(keyed) == as_set(packed)

    # directed variant + list-of-ids input parity too
    keyed_d = landmark_distances(edges, ["1", "2"], max_depth=4, directed=True)
    packed_d = landmark_distances_packed(
        edges, ["1", "2"], max_depth=4, directed=True
    )
    assert as_set(keyed_d) == as_set(packed_d)


def test_sssp_prefers_longer_lighter_path(spark):
    from smatchpp_spark.operators.sssp import sssp

    # a->b direct costs 10; a->x->y->b costs 1+1+1
    edges = spark.createDataFrame(
        [("a", "b", 10), ("a", "x", 1), ("x", "y", 1), ("y", "b", 1)],
        "src string, dst string, weight long",
    )
    res = sssp(edges, ["a"], max_supersteps=10, directed=True)
    d = {r["vertex"]: r["distance"] for r in res.distances.collect()}
    assert res.converged
    assert d == {"a": 0, "x": 1, "y": 2, "b": 3}

    # undirected expansion reaches 'a' from 'b' too
    res_u = sssp(edges, ["b"], max_supersteps=10, directed=False)
    du = {r["vertex"]: r["distance"] for r in res_u.distances.collect()}
    assert du["a"] == 3 and du["y"] == 1


def test_sssp_rejects_negative_weights(spark):
    """Frontier pruning is unsound under negative edges, so sssp must
    refuse them up front rather than converge to a wrong fixpoint."""
    import pytest

    from smatchpp_spark.operators.sssp import sssp

    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", -2)], "src string, dst string, weight long"
    )
    with pytest.raises(ValueError, match="non-negative"):
        sssp(edges, ["a"], max_supersteps=5)
    # documented opt-out still runs (caller takes responsibility)
    res = sssp(edges, ["a"], max_supersteps=5, check_nonnegative=False)
    assert {r["vertex"] for r in res.distances.collect()} == {"a", "b", "c"}


def test_sssp_unit_weights_match_bfs(spark):
    from pyspark.sql import functions as F

    from smatchpp_spark.operators.bfs import bfs_distances
    from smatchpp_spark.operators.sssp import sssp

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "d"), ("d", "f")],
        "src string, dst string",
    )
    w = edges.withColumn("weight", F.lit(1).cast("long"))
    got = {
        r["vertex"]: r["distance"]
        for r in sssp(w, ["a"], max_supersteps=10, directed=True)
        .distances.collect()
    }
    exp = {
        r["vertex"]: r["distance"]
        for r in bfs_distances(edges, ["a"], max_depth=10, directed=True)
        .distances.collect()
    }
    assert got == exp


def test_sssp_truncation_matches_k_edge_invariant(spark):
    from smatchpp_spark.operators.sssp import sssp

    # cheapest a->d path needs 3 edges; with max_supersteps=2 the state
    # must hold the best <=2-edge path (the oracle replay invariant)
    edges = spark.createDataFrame(
        [("a", "d", 100), ("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
         ("b", "d", 50)],
        "src string, dst string, weight long",
    )
    res = sssp(edges, ["a"], max_supersteps=2, directed=True)
    d = {r["vertex"]: r["distance"] for r in res.distances.collect()}
    assert not res.converged
    assert d["d"] == 51  # best 2-edge path a-b-d; 3-edge path not yet seen
    full = sssp(edges, ["a"], max_supersteps=5, directed=True)
    df = {r["vertex"]: r["distance"] for r in full.distances.collect()}
    assert df["d"] == 3 and full.converged


def _mis_replay(pairs, seed=7, rounds=30):
    """Pure-python Luby replay with the portable md5 priorities."""
    import hashlib

    def h(v, r):
        return int(
            hashlib.md5(f"{v}:mis:{seed}:{r}".encode()).hexdigest()[:15], 16
        )

    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    status = {v: 0 for v in nbrs}
    used = 0
    for r in range(1, rounds + 1):
        if all(s != 0 for s in status.values()):
            break
        used = r
        act = {v for v, s in status.items() if s == 0}
        pr = {v: h(v, r) for v in act}
        winners = {
            v
            for v in act
            if all(pr[v] < pr[u] for u in nbrs[v] & act)
        }
        for v in winners:
            status[v] = 1
        for v in winners:
            for u in nbrs[v]:
                if status[u] == 0:
                    status[u] = 2
    return status, used


def test_mis_matches_python_replay_and_properties(spark):
    from smatchpp_spark.operators.mis import maximal_independent_set

    pairs = powerlaw_graph(n=120, m=360, seed=3)
    spairs = [(str(a), str(b)) for a, b in pairs]
    edges = spark.createDataFrame(spairs, "src string, dst string")
    res = maximal_independent_set(edges, max_supersteps=30, seed=7)
    got = {r["vertex"]: r for r in res.members.collect()}
    assert res.converged
    exp, _ = _mis_replay(spairs, seed=7)
    assert {v: (1 if got[v]["in_mis"] else 2) for v in got} == exp

    nbrs = {}
    for a, b in spairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    mis = {v for v, r in got.items() if r["in_mis"]}
    # independence: no two members adjacent
    assert all(not (nbrs[v] & mis) for v in mis)
    # maximality: every non-member has a member neighbor
    assert all(nbrs[v] & mis for v in got if v not in mis)


def test_mis_self_loops_and_determinism(spark):
    from smatchpp_spark.operators.mis import maximal_independent_set

    edges = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "c")], "src string, dst string"
    )
    r1 = maximal_independent_set(edges, seed=7)
    r2 = maximal_independent_set(edges, seed=7)
    a = sorted((x["vertex"], x["in_mis"]) for x in r1.members.collect())
    b = sorted((x["vertex"], x["in_mis"]) for x in r2.members.collect())
    assert a == b
    mis = {v for v, m in a if m}
    assert mis in ({"a", "c"}, {"b"})  # one of the two valid MISes


def _jp_replay(pairs, seed=7):
    """Pure-python Jones-Plassmann replay with portable priorities."""
    import hashlib

    def h(v):
        return int(
            hashlib.md5(f"{v}:color:{seed}".encode()).hexdigest()[:15], 16
        )

    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    colors = {}
    unc = set(nbrs)
    rounds = 0
    while unc:
        rounds += 1
        ready = [
            v
            for v in unc
            if all((h(u), u) < (h(v), v) for u in nbrs[v] & unc if u != v)
        ]
        assert ready, "stuck"
        for v in ready:
            used = {colors[u] for u in nbrs[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        unc -= set(ready)
    return colors, rounds


def test_coloring_matches_replay_and_is_proper(spark):
    from smatchpp_spark.operators.coloring import greedy_coloring

    pairs = powerlaw_graph(n=60, m=140, seed=5)
    spairs = [(str(a), str(b)) for a, b in pairs]
    edges = spark.createDataFrame(spairs, "src string, dst string")
    res = greedy_coloring(edges, max_supersteps=40, seed=7)
    got = {r["vertex"]: r["color"] for r in res.colors.collect()}
    assert res.converged
    exp, _ = _jp_replay(spairs, seed=7)
    assert got == exp
    # proper: adjacent vertices differ
    for a, b in spairs:
        if a != b:
            assert got[a] != got[b], (a, b)
    assert res.n_colors == len(set(exp.values()))


def test_coloring_clique_and_ring(spark):
    from smatchpp_spark.operators.coloring import greedy_coloring

    clique = [(f"v{i}", f"v{j}") for i in range(5) for j in range(i + 1, 5)]
    res = greedy_coloring(spark.createDataFrame(clique, "src string, dst string"))
    assert res.converged and res.n_colors == 5  # K5 needs 5 colors

    res_r = greedy_coloring(
        spark.createDataFrame(
            [(f"r{i}", f"r{(i+1) % 6}") for i in range(6)],
            "src string, dst string",
        )
    )
    assert res_r.converged and res_r.n_colors in (2, 3)  # even ring, greedy


def _kruskal_replay(wedges):
    """Kruskal with the same (w, a, b) total order — with a consistent
    tie-break every MST algorithm returns the identical forest."""
    canon = {}
    for s, d, w in wedges:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        if (a, b) not in canon or w < canon[(a, b)]:
            canon[(a, b)] = w
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    forest = []
    for (a, b), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            forest.append((a, b, w))
    return sorted(forest)


def test_msf_matches_kruskal(spark):
    from smatchpp_spark.operators.msf import minimum_spanning_forest

    rng = random.Random(13)
    pairs = powerlaw_graph(n=80, m=200, seed=9)
    wedges = [
        (str(a), str(b), rng.randrange(1, 6)) for a, b in pairs
    ]  # small weight range forces plenty of ties
    df = spark.createDataFrame(wedges, "src string, dst string, weight long")
    res = minimum_spanning_forest(df)
    got = sorted(
        (r["a"], r["b"], r["weight"]) for r in res.forest.collect()
    )
    exp = _kruskal_replay(wedges)
    assert res.converged
    assert got == exp
    assert res.n_edges == len(exp)
    assert res.total_weight == sum(w for _, _, w in exp)


def test_msf_parallel_edges_self_loops_and_forest(spark):
    from smatchpp_spark.operators.msf import minimum_spanning_forest

    wedges = [
        ("a", "b", 5), ("b", "a", 2), ("a", "a", 1),  # parallel + loop
        ("b", "c", 1), ("x", "y", 7),                  # two components
    ]
    df = spark.createDataFrame(wedges, "src string, dst string, weight long")
    res = minimum_spanning_forest(df)
    got = sorted((r["a"], r["b"], r["weight"]) for r in res.forest.collect())
    assert got == [("a", "b", 2), ("b", "c", 1), ("x", "y", 7)]
    assert res.converged and res.n_edges == 3 and res.total_weight == 10.0


def test_msf_checkpoint_resume_identical(spark, tmp_path):
    """MSF now runs through SuperstepRunner: a run truncated after one
    productive round and resumed from its committed (labels + forest)
    state must produce the same forest as an uninterrupted run."""
    from smatchpp_spark.operators.msf import minimum_spanning_forest

    rng = random.Random(29)
    pairs = powerlaw_graph(n=60, m=150, seed=31)
    wedges = [(str(a), str(b), rng.randrange(1, 6)) for a, b in pairs]
    df = spark.createDataFrame(wedges, "src string, dst string, weight long")
    exp = _kruskal_replay(wedges)

    ck = str(tmp_path / "msf")
    r1 = minimum_spanning_forest(df, max_rounds=1, checkpoint_dir=ck)
    assert not r1.converged  # truncated mid-Borůvka on purpose
    r2 = minimum_spanning_forest(
        df, max_rounds=20, checkpoint_dir=ck, resume=True
    )
    got = sorted((r["a"], r["b"], r["weight"]) for r in r2.forest.collect())
    assert r2.converged
    assert got == exp


def _ktruss_replay(pairs, k):
    edges = {tuple(sorted((a, b))) for a, b in pairs if a != b}
    while True:
        sup = {}
        es = edges
        for a, b in es:
            for c in {x for x in _nbrs(es, a) if x in _nbrs(es, b)}:
                sup[(a, b)] = sup.get((a, b), 0) + 1
        kept = {e for e in es if sup.get(e, 0) >= k - 2}
        if kept == es:
            return {e: sup.get(e, 0) for e in es}
        edges = kept


def _nbrs(edges, v):
    return {b for a, b in edges if a == v} | {a for a, b in edges if b == v}


def test_ktruss_peels_to_fixpoint(spark):
    from smatchpp_spark.operators.ktruss import ktruss

    # K4 on a-d plus a pendant triangle e-f-a plus a dangling edge
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    pairs = k4 + [("a", "e"), ("a", "f"), ("e", "f"), ("f", "g")]
    df = spark.createDataFrame(pairs, "src string, dst string")

    r3 = ktruss(df, k=3)
    got3 = {(r["a"], r["b"]): r["support"] for r in r3.edges.collect()}
    assert r3.converged
    assert got3 == _ktruss_replay(pairs, 3)
    assert ("f", "g") not in got3  # dangling edge peeled
    assert ("e", "f") in got3  # pendant triangle survives k=3

    r4 = ktruss(df, k=4)
    got4 = {(r["a"], r["b"]): r["support"] for r in r4.edges.collect()}
    assert r4.converged
    assert got4 == _ktruss_replay(pairs, 4)
    assert set(got4) == {tuple(sorted(e)) for e in k4}  # only K4 survives
    assert all(s == 2 for s in got4.values())

    r9 = ktruss(df, k=9)
    assert r9.converged and r9.edges.count() == 0  # everything peels


def test_ktruss_powerlaw_vs_replay(spark):
    from smatchpp_spark.operators.ktruss import ktruss

    pairs = [(str(a), str(b)) for a, b in powerlaw_graph(n=80, m=400, seed=21)]
    df = spark.createDataFrame(pairs, "src string, dst string")
    res = ktruss(df, k=3, max_rounds=30)
    got = {(r["a"], r["b"]): r["support"] for r in res.edges.collect()}
    assert res.converged
    assert got == _ktruss_replay(pairs, 3)


def test_ktruss_hub_orientation_bounds_wedges(spark):
    """A low-id hub must NOT pivot O(d^2) wedges: degree orientation
    points every hub edge AT the hub, so wedge work is bounded by the
    leaves' out-degrees regardless of vertex-id assignment."""
    from pyspark.sql import functions as F

    from smatchpp_spark.operators.ktruss import _oriented, ktruss

    hub = "000"  # lexicographically smallest id on purpose
    n_leaves = 60
    leaves = [f"v{i:03d}" for i in range(1, n_leaves + 1)]
    star = [(hub, leaf) for leaf in leaves]
    # a few triangles through the hub so the truss is non-empty
    tris = [("v001", "v002"), ("v003", "v004"), ("v005", "v006")]
    pairs = star + tris
    df = spark.createDataFrame(pairs, "src string, dst string")

    e = df.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    wedge_rows = (
        _oriented(e)
        .groupBy("lo")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
        .collect()[0]["w"]
    )
    id_pivot_wedges = n_leaves * (n_leaves - 1) / 2  # what id-orientation costs
    # leaves have degree <= 2, so every out-wedge pivots on a leaf:
    # exactly one wedge per triangle
    assert wedge_rows == len(tris)
    assert wedge_rows < id_pivot_wedges / 100

    res = ktruss(df, k=3)
    got = {(r["a"], r["b"]): r["support"] for r in res.edges.collect()}
    assert res.converged
    assert got == _ktruss_replay(pairs, 3)


def test_double_sweep_diameter_bound(spark):
    from smatchpp_spark.operators.bfs import double_sweep_diameter

    # path graph: double sweep is EXACT (min vertex "a" is an endpoint)
    path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(path, "src string, dst string")
    row = double_sweep_diameter(df, max_depth=10).collect()[0]
    assert row["diameter_lower_bound"] == 4
    assert row["converged"] is True
    assert row["start_vertex"] == "a" and row["far_vertex"] == "e"

    # star: diameter 2, found from any leaf
    star_e = [("hub", f"l{i}") for i in range(5)]
    row2 = double_sweep_diameter(
        spark.createDataFrame(star_e, "src string, dst string"), max_depth=5
    ).collect()[0]
    assert row2["diameter_lower_bound"] == 2

    # truncation: max_depth caps the bound and clears converged
    row3 = double_sweep_diameter(df, max_depth=2).collect()[0]
    assert row3["diameter_lower_bound"] == 2
    assert row3["converged"] is False


def _coreness_replay(pairs):
    """True core numbers via sequential peeling (min-degree removal)."""
    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    core = {}
    alive = set(nbrs)
    k = 0
    while alive:
        v = min(alive, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        alive.discard(v)
        for u in nbrs[v]:
            if u in alive:
                deg[u] -= 1
    return core


def test_coreness_matches_peeling(spark):
    from smatchpp_spark.operators.kcore import coreness, k_core

    pairs = [(str(a), str(b)) for a, b in powerlaw_graph(n=150, m=600, seed=17)]
    df = spark.createDataFrame(pairs, "src string, dst string")
    res = coreness(df, max_supersteps=50)
    got = {r["vertex"]: r["coreness"] for r in res.coreness.collect()}
    assert res.converged
    assert got == _coreness_replay(pairs)
    # consistency with the fixed-k membership operator
    k = 3
    members = {r["vertex"] for r in k_core(df, k=k).vertices.collect()}
    assert members == {v for v, c in got.items() if c >= k}


def test_coreness_hub_histogram_plan(spark):
    """Hub-skew shape check for the histogram H-index: a 300-leaf hub
    plus an attached K4.  Correctness vs sequential peeling, and the
    physical plan must show a partial (map-side) aggregate feeding the
    window — the hub's fan-in is combined BEFORE any per-vertex task."""
    from smatchpp_spark.operators.kcore import coreness

    hub = "hub"
    star = [(hub, f"l{i:03d}") for i in range(300)]
    k4 = [("hub", "k1"), ("hub", "k2"), ("hub", "k3"),
          ("k1", "k2"), ("k1", "k3"), ("k2", "k3")]
    pairs = star + k4
    df = spark.createDataFrame(pairs, "src string, dst string")
    res = coreness(df, max_supersteps=50)
    got = {r["vertex"]: r["coreness"] for r in res.coreness.collect()}
    assert res.converged
    assert got == _coreness_replay(pairs)
    assert got["hub"] == 3 and got["l000"] == 1


def test_coreness_clique_plus_tail(spark):
    from smatchpp_spark.operators.kcore import coreness

    clique = [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    tail = [("c0", "t1"), ("t1", "t2")]
    res = coreness(
        spark.createDataFrame(clique + tail, "src string, dst string")
    )
    got = {r["vertex"]: r["coreness"] for r in res.coreness.collect()}
    assert all(got[f"c{i}"] == 4 for i in range(5))
    assert got["t1"] == 1 and got["t2"] == 1


def test_harmonic_centrality_vs_bfs_replay(spark):
    from smatchpp_spark.operators.landmarks import harmonic_centrality

    pairs = [(str(a), str(b)) for a, b in powerlaw_graph(n=70, m=180, seed=41)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    seeds = ["1", "2", "3", "4"]
    got = {
        r["vertex"]: (r["harmonic"], r["n_sources"])
        for r in harmonic_centrality(
            edges, seeds, max_depth=8, directed=False
        ).collect()
    }

    # python BFS per seed
    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for s in seeds:
        if s not in nbrs:
            continue
        dist = {s: 0}
        frontier = [s]
        d = 0
        while frontier and d < 8:
            d += 1
            nxt = []
            for v in frontier:
                for u in nbrs.get(v, ()):
                    if u not in dist:
                        dist[u] = d
                        nxt.append(u)
            frontier = nxt
        for v, dd in dist.items():
            if dd > 0:
                h, c = want.get(v, (0.0, 0))
                want[v] = (h + 1.0 / dd, c + 1)
    assert set(got) == set(want)
    for v, (h, c) in want.items():
        assert got[v][1] == c
        assert got[v][0] == pytest.approx(round(h, 9), abs=1e-8), v


def test_core_histogram_matches_replay(spark):
    from smatchpp_spark.operators.kcore import core_histogram

    pairs = [(str(a), str(b)) for a, b in powerlaw_graph(n=120, m=420, seed=19)]
    df = spark.createDataFrame(pairs, "src string, dst string")
    rows = core_histogram(df).collect()
    core = _coreness_replay(pairs)
    want = {}
    for c in core.values():
        want[c] = want.get(c, 0) + 1
    got = {r["coreness"]: r["n_vertices"] for r in rows}
    assert got == want
    degen = max(core.values())
    assert {r["coreness"] for r in rows if r["is_degeneracy"]} == {degen}


def test_salsa_vs_numpy(spark):
    """SALSA hub/authority allclose 1e-8 vs a numpy replay of the
    degree-normalized half-steps with L1 normalization."""
    from smatchpp_spark.operators.hits import salsa

    rng = np.random.RandomState(11)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 20, size=(90, 2)) if a != b}
    )
    edges = _edges_df(spark, E)
    steps = 10
    res = salsa(edges, max_supersteps=steps, tol=-1.0)
    got = {r.vertex: (r.hub, r.authority) for r in res.scores.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in E:
        A[idx[a], idx[b]] = 1.0
    out_d = A.sum(axis=1)
    in_d = A.sum(axis=0)
    Wf = np.divide(A, out_d[:, None], out=np.zeros_like(A), where=out_d[:, None] > 0)
    Wb = np.divide(A, in_d[None, :], out=np.zeros_like(A), where=in_d[None, :] > 0)
    h = np.full(n, 1.0 / n)
    a = np.full(n, 1.0 / n)
    for _ in range(steps):
        a = Wf.T @ h
        na = np.abs(a).sum()
        a = a / (na if na > 0 else 1.0)
        h = Wb @ a
        nh = np.abs(h).sum()
        h = h / (nh if nh > 0 else 1.0)
    for v in verts:
        gh, ga = got[v]
        assert abs(gh - h[idx[v]]) < 1e-8, v
        assert abs(ga - a[idx[v]]) < 1e-8, v
    # L1 distributions
    assert sum(x for x, _ in got.values()) == pytest.approx(1.0)
    assert sum(y for _, y in got.values()) == pytest.approx(1.0)


def test_salsa_authority_proportional_to_indegree(spark):
    """Lempel-Moran closed form: on a graph whose authority support
    component is connected, stationary authority mass is proportional
    to in-degree (the TKC-free property HITS lacks)."""
    from smatchpp_spark.operators.hits import salsa

    # bipartite, authority side {10, 11, 12} connected through shared hubs
    E = [(0, 10), (0, 11), (1, 10), (1, 12), (2, 11), (2, 12), (3, 10)]
    res = salsa(_edges_df(spark, E), max_supersteps=200, tol=1e-12)
    assert res.converged
    got = {r.vertex: r.authority for r in res.scores.collect()}
    in_deg = {}
    for _, b in E:
        in_deg[b] = in_deg.get(b, 0) + 1
    total = sum(in_deg.values())
    for v, d in in_deg.items():
        assert got[v] == pytest.approx(d / total, abs=1e-9), v


def test_salsa_dedupes_multi_edges(spark):
    """SALSA runs on the simple graph: duplicated edges must not change
    the scores (random surfer picks among distinct links)."""
    from smatchpp_spark.operators.hits import salsa

    E = [(0, 2), (1, 2), (1, 3)]
    res1 = salsa(_edges_df(spark, E), max_supersteps=8, tol=-1.0)
    res2 = salsa(_edges_df(spark, E + E + [(1, 2)]), max_supersteps=8, tol=-1.0)
    s1 = sorted((r.vertex, round(r.hub, 12), round(r.authority, 12))
                for r in res1.scores.collect())
    s2 = sorted((r.vertex, round(r.hub, 12), round(r.authority, 12))
                for r in res2.scores.collect())
    assert s1 == s2


def test_bipartite_check_cycles_and_coloring(spark):
    from smatchpp_spark.operators.components import bipartite_check

    # C4 (bipartite) + C5 (odd) + a path + an isolated edge
    E = [(0, 1), (1, 2), (2, 3), (3, 0),
         (10, 11), (11, 12), (12, 13), (13, 14), (14, 10),
         (20, 21), (21, 22),
         (30, 31)]
    res = bipartite_check(_edges_df(spark, E))
    assert res.converged
    rows = {r["vertex"]: r for r in res.sides.collect()}

    und = {}
    for a, b in E:
        und.setdefault(str(a), set()).add(str(b))
        und.setdefault(str(b), set()).add(str(a))

    # python 2-coloring oracle per component
    color, bip = {}, {}
    for s in sorted(und):
        if s in color:
            continue
        comp, ok = [s], True
        color[s] = 0
        queue = [s]
        while queue:
            v = queue.pop()
            for w in und[v]:
                if w not in color:
                    color[w] = 1 - color[v]
                    comp.append(w)
                    queue.append(w)
                elif color[w] == color[v]:
                    ok = False
        for v in comp:
            bip[v] = ok

    for v, nbrs in und.items():
        assert rows[v]["is_bipartite"] == bip[v], v
        if bip[v]:
            # proper coloring: neighbors on opposite sides
            for w in nbrs:
                assert rows[v]["side"] != rows[w]["side"], (v, w)
            assert rows[v]["side"] in (0, 1)
        else:
            assert rows[v]["side"] is None
    # component id constant within a component, distinct across
    assert rows["0"]["component"] == rows["2"]["component"]
    assert rows["10"]["component"] == rows["13"]["component"]
    assert rows["0"]["component"] != rows["10"]["component"]


def test_bipartite_check_rejects_delimiter(spark):
    from smatchpp_spark.operators.components import bipartite_check

    df = spark.createDataFrame([("a|x", "b")], "src string, dst string")
    import pytest as _pt
    with _pt.raises(ValueError, match="delimiter"):
        bipartite_check(df)


def test_katz_centrality_vs_numpy(spark):
    """Fixed-iteration Katz allclose 1e-10 vs the numpy affine
    iteration x' = alpha*A^T x + beta on the simple directed adjacency;
    converged run allclose the closed form beta*(I - alpha*A^T)^-1 1;
    a vertex with no in-edges sits exactly at the beta floor."""
    from smatchpp_spark.operators.hits import katz_centrality

    rng = np.random.RandomState(11)
    E = sorted(
        {(int(a), int(b)) for a, b in rng.randint(0, 18, size=(70, 2)) if a != b}
    )
    alpha, beta, steps = 0.05, 1.0, 12
    res = katz_centrality(
        _edges_df(spark, E), alpha=alpha, beta=beta,
        max_supersteps=steps, tol=-1.0,
    )
    got = {r.vertex: r.katz for r in res.scores.collect()}

    verts = sorted({v for e in E for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in E:
        A[idx[a], idx[b]] = 1.0
    x = np.full(n, beta)
    for _ in range(steps):
        x = alpha * (A.T @ x) + beta
    for v in verts:
        assert abs(got[v] - x[idx[v]]) < 1e-10, v

    # converged fixpoint vs closed form
    r2 = katz_centrality(
        _edges_df(spark, E), alpha=alpha, beta=beta,
        max_supersteps=200, tol=1e-13,
    )
    assert r2.converged
    closed = beta * np.linalg.solve(np.eye(n) - alpha * A.T, np.ones(n))
    g2 = {r.vertex: r.katz for r in r2.scores.collect()}
    for v in verts:
        assert abs(g2[v] - closed[idx[v]]) < 1e-8, v

    # source-only vertex: no incoming walks -> exactly beta
    chain = [(0, 1), (1, 2)]
    r3 = katz_centrality(
        _edges_df(spark, chain), alpha=0.1, beta=2.0,
        max_supersteps=20, tol=1e-14,
    )
    g3 = {r.vertex: r.katz for r in r3.scores.collect()}
    assert g3[0] == 2.0
    assert g3[1] == pytest.approx(2.0 + 0.1 * 2.0)
    assert g3[2] == pytest.approx(2.0 + 0.1 * g3[1])
