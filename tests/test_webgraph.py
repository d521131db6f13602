"""Web-graph relatedness and centrality operators: co-citation /
bibliographic coupling and sampled closeness — python-replay and
closed-form checks."""

from __future__ import annotations

import math

import pytest

from smatchpp_spark.operators.linkpred import cocitation_scores


def _df(spark, pairs):
    return spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )


# ---------------------------------------------------------------- cocitation


def _py_cocite(pairs, mode):
    e = {(str(a), str(b)) for a, b in pairs if a != b}
    out = {}
    piv = {}
    for a, b in e:
        z, n = (a, b) if mode == "cocitation" else (b, a)
        piv.setdefault(z, set()).add(n)
    for z, ns in piv.items():
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                out[(ns[i], ns[j])] = out.get((ns[i], ns[j]), 0) + 1
    return out


@pytest.mark.parametrize("mode", ["cocitation", "coupling"])
def test_cocitation_counts_match_replay(spark, mode):
    pairs = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (5, 3), (5, 4), (5, 1),
        (4, 2), (3, 3), (1, 2),  # self-loop + duplicate collapse
    ]
    got = {
        (r["u"], r["v"]): r["score"]
        for r in cocitation_scores(_df(spark, pairs), mode=mode).collect()
    }
    want = {k: float(v) for k, v in _py_cocite(pairs, mode).items()}
    assert got == want


def test_cocitation_cosine_normalization(spark):
    # z1->u, z1->v; z2->u, z2->v; z3->u : cocite(u,v)=2, d_in(u)=3, d_in(v)=2
    pairs = [("z1", "u"), ("z1", "v"), ("z2", "u"), ("z2", "v"), ("z3", "u")]
    rows = cocitation_scores(
        _df(spark, pairs), mode="cocitation", normalize="cosine"
    ).collect()
    got = {(r["u"], r["v"]): r["score"] for r in rows}
    assert got == {("u", "v"): round(2.0 / math.sqrt(3 * 2), 9)}
    rows_j = cocitation_scores(
        _df(spark, pairs), mode="cocitation", normalize="jaccard"
    ).collect()
    assert {(r["u"], r["v"]): r["score"] for r in rows_j} == {
        ("u", "v"): round(2.0 / (3 + 2 - 2), 9)
    }


def test_cocitation_pivot_cap_and_min_score(spark):
    # hub z cites 5 pages (10 wedges); capped pivot drops them all
    pairs = [("z", f"u{i}") for i in range(5)] + [("w", "u0"), ("w", "u1")]
    capped = cocitation_scores(
        _df(spark, pairs), mode="cocitation", max_pivot_degree=4
    ).collect()
    assert {(r["u"], r["v"]): r["score"] for r in capped} == {("u0", "u1"): 1.0}
    filt = cocitation_scores(
        _df(spark, pairs), mode="cocitation", min_score=2.0
    ).collect()
    assert {(r["u"], r["v"]): r["score"] for r in filt} == {("u0", "u1"): 2.0}


# ------------------------------------------------------------------ closeness


def test_closeness_path_graph_closed_form(spark):
    """path a-b-c-d, seeds {a, d}: closeness(b) = 2/(1+2), closeness of
    a = 1/3 (only d reaches it at distance 3)."""
    from smatchpp_spark.operators.landmarks import closeness_centrality

    r = closeness_centrality(
        _df(spark, [("a", "b"), ("b", "c"), ("c", "d")]),
        ["a", "d"], max_depth=5, directed=False,
    )
    got = {x["vertex"]: x for x in r.collect()}
    assert got["b"]["sum_dist"] == 3 and got["b"]["n_sources"] == 2
    assert got["b"]["closeness"] == round(2.0 / 3.0, 9)
    assert got["a"]["sum_dist"] == 3 and got["a"]["n_sources"] == 1
    assert got["c"]["closeness"] == round(2.0 / 3.0, 9)


def test_closeness_vs_python_replay(spark):
    import random

    from smatchpp_spark.operators.landmarks import closeness_centrality

    rng = random.Random(3)
    pairs = [(rng.randrange(20), rng.randrange(20)) for _ in range(50)]
    pairs = [(a, b) for a, b in pairs if a != b]
    seeds = ["1", "2", "3"]
    adj = {}
    for a, b in pairs:
        adj.setdefault(str(a), set()).add(str(b))
        adj.setdefault(str(b), set()).add(str(a))
    dist = {}
    for s in seeds:
        if s not in adj:
            continue
        d, fr = {s: 0}, [s]
        while fr:
            nxt = []
            for v in fr:
                for w in adj.get(v, ()):
                    if w not in d:
                        d[w] = d[v] + 1
                        nxt.append(w)
            fr = nxt
        for v, dd in d.items():
            if dd > 0:
                dist.setdefault(v, []).append(dd)
    want = {
        v: (sum(ds), len(ds), round(len(ds) / sum(ds), 9))
        for v, ds in dist.items()
    }
    r = closeness_centrality(
        _df(spark, pairs), seeds, max_depth=25, directed=False
    )
    got = {
        x["vertex"]: (x["sum_dist"], x["n_sources"], x["closeness"])
        for x in r.collect()
    }
    assert got == want
