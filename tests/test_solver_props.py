"""Property: on small pairs the ``auto`` solver finds the exhaustive
optimum, and its ``(lower_bound, upper_bound)`` brackets it.  Pure Python:
``process_pair`` runs without a Spark session."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from smatchpp_spark.corpus import generate_penman
from smatchpp_spark.functions.graphkit import parse_penman
from smatchpp_spark.operators.align import AlignConfig, process_pair
from smatchpp_spark.operators.standardize import graph_standardizer

MAX_VARS = 6
_STANDARDIZE = graph_standardizer("generic")


def _graph(seed: int) -> list[tuple[str, str, str]]:
    text = generate_penman(random.Random(seed), max_nodes=MAX_VARS, max_depth=3)
    rows = [(p, s, r, d) for p, (s, r, d) in enumerate(parse_penman(text))]
    return [(s, r, d) for _, s, r, d in _STANDARDIZE(rows)]


@settings(max_examples=60, deadline=None, derandomize=True, database=None)
@given(st.integers(0, 2**31), st.integers(0, 2**31), st.integers(0, 2**16))
def test_auto_solver_matches_exhaustive_optimum(seed_a, seed_b, pair_seed):
    t1, t2 = _graph(seed_a), _graph(seed_b)
    auto = process_pair(t1, t2, AlignConfig(solver="auto"), pair_seed=pair_seed)
    exact = process_pair(
        t1, t2, AlignConfig(solver="exhaustive", exhaustive_max_v=MAX_VARS),
        pair_seed=pair_seed,
    )
    assert max(auto["n_vars_a"], auto["n_vars_b"]) <= MAX_VARS
    vector = ("matchsum_x", "matchsum_y", "xlen", "ylen")
    assert [auto[k] for k in vector] == [exact[k] for k in vector]
    optimum = exact["upper_bound"]
    assert exact["lower_bound"] == optimum
    assert auto["lower_bound"] <= optimum + 1e-9
    assert optimum <= auto["upper_bound"] + 1e-9
