"""Incremental PageRank (operators/incremental.py): equivalence with
full recompute, new-vertex handling, and checkpoint/resume identity."""

from __future__ import annotations

import random

from smatchpp_spark.operators.incremental import pagerank_incremental
from smatchpp_spark.operators.pagerank import pagerank


def _df(spark, pairs):
    return spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )


def _ranks(df):
    return {r.vertex: r.rank for r in df.collect()}


def test_matches_full_recompute(spark):
    rng = random.Random(11)
    old = {(rng.randrange(40), rng.randrange(40)) for _ in range(120)}
    old = [(a, b) for a, b in old if a != b]
    delta = [(1, 2), (2, 39), (39, 1), (5, 17)]
    new = list(dict.fromkeys(old + delta))

    old_r = pagerank(_df(spark, old), tol=1e-14, max_supersteps=200)
    assert old_r.converged
    inc = pagerank_incremental(
        _df(spark, new), old_r.ranks, tol=1e-13, max_supersteps=200
    )
    assert inc.converged
    full = pagerank(_df(spark, new), tol=1e-14, max_supersteps=200)
    a, b = _ranks(inc.ranks), _ranks(full.ranks)
    assert a.keys() == b.keys()
    assert max(abs(a[v] - b[v]) for v in a) < 1e-10
    # warm start must beat from-scratch on round count
    assert inc.supersteps < full.supersteps


def test_new_vertices_enter_at_zero(spark):
    old = [(1, 2), (2, 3), (3, 1)]
    new = old + [(3, 4), (4, 5), (5, 1)]
    old_r = pagerank(_df(spark, old), tol=1e-14, max_supersteps=100)
    inc = pagerank_incremental(
        _df(spark, new), old_r.ranks, tol=1e-13, max_supersteps=300
    )
    full = pagerank(_df(spark, new), tol=1e-14, max_supersteps=300)
    a, b = _ranks(inc.ranks), _ranks(full.ranks)
    assert a.keys() == b.keys() == {"1", "2", "3", "4", "5"}
    assert max(abs(a[v] - b[v]) for v in a) < 1e-10


def test_cold_start_equals_pagerank(spark):
    # uniqueness of the fixpoint: an all-zero warm start still lands on
    # the pagerank answer (just without the round savings)
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4)]
    zeros = spark.createDataFrame(
        [(str(v), 0.0) for v in (1, 2, 3, 4)], "vertex string, rank double"
    )
    inc = pagerank_incremental(
        _df(spark, pairs), zeros, tol=1e-13, max_supersteps=300
    )
    full = pagerank(_df(spark, pairs), tol=1e-14, max_supersteps=300)
    a, b = _ranks(inc.ranks), _ranks(full.ranks)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-10


def test_checkpoint_resume_identical(spark, tmp_path):
    pairs = [(i, (i * 7 + 3) % 30) for i in range(30)]
    pairs = [(a, b) for a, b in pairs if a != b]
    new = pairs + [(0, 15)]
    old_r = pagerank(_df(spark, pairs), tol=1e-14, max_supersteps=100)
    ck = str(tmp_path / "inc_ck")
    r1 = pagerank_incremental(
        _df(spark, new), old_r.ranks, tol=-1.0, max_supersteps=6,
        checkpoint_dir=ck,
    )
    r2 = pagerank_incremental(
        _df(spark, new), old_r.ranks, tol=-1.0, max_supersteps=6,
        checkpoint_dir=ck, resume=True,
    )
    a, b = _ranks(r1.ranks), _ranks(r2.ranks)
    assert a == b


def test_cc_incremental_matches_cold(spark):
    from smatchpp_spark.operators.components import connected_components
    from smatchpp_spark.operators.incremental import cc_incremental

    rng = random.Random(17)
    old = list({(rng.randrange(30), rng.randrange(30)) for _ in range(40)})
    old = [(a, b) for a, b in old if a != b]
    new = list(dict.fromkeys(old + [(0, 29), (3, 31), (31, 32)]))
    warm = connected_components(_df(spark, old)).components
    inc = cc_incremental(_df(spark, new), warm)
    assert inc.converged
    got = {r.vertex: r.component for r in inc.components.collect()}
    want = {
        r.vertex: r.component
        for r in connected_components(_df(spark, new)).components.collect()
    }
    assert got == want


def test_cc_incremental_saves_rounds_on_path(spark):
    from smatchpp_spark.operators.components import connected_components
    from smatchpp_spark.operators.incremental import cc_incremental

    path = [(i, i + 1) for i in range(40)]
    cold = connected_components(_df(spark, path))
    warm = cc_incremental(_df(spark, path + [(0, 40)]), cold.components)
    # labels were already the component minimum; the added chord changes
    # nothing — one no-op round, vs a diameter-bound cold run
    assert warm.supersteps <= 2 < cold.supersteps
    assert {r.component for r in warm.components.collect()} == {"0"}


def test_cc_incremental_removal_guard(spark):
    from smatchpp_spark.operators.components import connected_components
    from smatchpp_spark.operators.incremental import cc_incremental

    old = [(1, 2), (2, 3)]
    new = [(1, 2)]  # 2-3 removed
    warm = connected_components(_df(spark, old)).components
    import pytest as _pytest

    with _pytest.raises(ValueError, match="REMOVED"):
        cc_incremental(_df(spark, new), warm, edges_old=_df(spark, old))
