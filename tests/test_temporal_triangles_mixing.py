"""Label mixing and assortativity vs brute force."""

from __future__ import annotations

import itertools
import math
import random

from smatchpp_spark.operators.graphstats import (
    label_assortativity,
    label_mixing_matrix,
)


# ---- label mixing / assortativity ------------------------------------------

def _graph(spark, pairs):
    return spark.createDataFrame(
        [(f"v{a}", f"v{b}") for a, b in pairs], "src string, dst string"
    )


def _labels(spark, lab):
    return spark.createDataFrame(
        [(f"v{v}", l) for v, l in lab.items()], "vertex string, label string"
    )


def _py_mixing(pairs, lab):
    edges = {
        (f"v{min(a,b)}", f"v{max(a,b)}") for a, b in pairs if a != b
    }
    mix = {}
    for a, b in edges:
        la, lb = lab[int(a[1:])], lab[int(b[1:])]
        key = (min(la, lb), max(la, lb))
        mix[key] = mix.get(key, 0) + 1
    return edges, mix


def _py_assort(edges, lab):
    stubs = [(lab[int(a[1:])], lab[int(b[1:])]) for a, b in edges] + [
        (lab[int(b[1:])], lab[int(a[1:])]) for a, b in edges
    ]
    m2 = len(stubs)
    labels = sorted({x for s in stubs for x in s})
    t = sum(1 for x, y in stubs if x == y)
    s = sum(sum(1 for x, _ in stubs if x == l) ** 2 for l in labels)
    den = m2 * m2 - s
    return 0.0 if den == 0 else (m2 * t - s) / den


def test_label_mixing_vs_python(spark):
    rng = random.Random(41)
    pairs = {(rng.randrange(12), rng.randrange(12)) for _ in range(40)}
    lab = {v: f"L{v % 3}" for v in range(12)}
    edges, want = _py_mixing(pairs, lab)
    got = {
        (r["label_a"], r["label_b"]): r["n_edges"]
        for r in label_mixing_matrix(
            _graph(spark, pairs), _labels(spark, lab)
        ).collect()
    }
    assert got == want


def test_label_assortativity_extremes(spark):
    # two disjoint same-label cliques -> r = 1
    pairs = list(itertools.combinations(range(4), 2)) + list(
        itertools.combinations(range(4, 8), 2)
    )
    lab = {v: "A" if v < 4 else "B" for v in range(8)}
    row = label_assortativity(_graph(spark, pairs), _labels(spark, lab)).collect()[0]
    assert row["n_edges"] == 12
    assert math.isclose(row["r"], 1.0)
    # perfect bipartite between labels -> r = -1
    bip = [(a, b) for a in range(4) for b in range(4, 8)]
    row = label_assortativity(_graph(spark, bip), _labels(spark, lab)).collect()[0]
    assert math.isclose(row["r"], -1.0)
    # all one label -> degenerate denominator -> 0.0
    mono = {v: "A" for v in range(8)}
    row = label_assortativity(_graph(spark, pairs), _labels(spark, mono)).collect()[0]
    assert row["r"] == 0.0


def test_label_assortativity_vs_python(spark):
    rng = random.Random(43)
    pairs = {(rng.randrange(10), rng.randrange(10)) for _ in range(35)}
    lab = {v: f"L{v % 4}" for v in range(10)}
    edges, _ = _py_mixing(pairs, lab)
    row = label_assortativity(_graph(spark, pairs), _labels(spark, lab)).collect()[0]
    assert math.isclose(row["r"], _py_assort(edges, lab), abs_tol=1e-12)
