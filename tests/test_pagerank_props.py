"""PageRank robustness properties: a checkpointed run stopped at step k
and resumed to step K equals an uninterrupted K-step run bit for bit
(cold and warm-started), and an empty graph yields an empty rank table
typed like the input's vertex ids."""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from smatchpp_spark.operators.incremental import pagerank_incremental
from smatchpp_spark.operators.pagerank import pagerank

N_VERTICES = 30

graphs = st.lists(
    st.tuples(
        st.integers(0, N_VERTICES - 1), st.integers(0, N_VERTICES - 1)
    ),
    min_size=1,
    max_size=60,
)
# warm starts cover graph vertices and ids outside the graph (dropped)
warm_ranks = st.dictionaries(
    st.integers(0, N_VERTICES + 5), st.floats(0.0, 1.0), max_size=N_VERTICES
)


def _ranks(res):
    return {r.vertex: r.rank for r in res.ranks.collect()}


@pytest.mark.parametrize("warm", [False, True], ids=["cold", "init"])
@settings(max_examples=4, deadline=None, database=None, derandomize=True)
@given(pairs=graphs, init=warm_ranks, k=st.integers(1, 4), extra=st.integers(1, 3))
def test_resume_is_bit_identical(spark, warm, pairs, init, k, extra):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    init_df = (
        spark.createDataFrame(list(init.items()), "vertex long, rank double")
        if warm else None
    )
    K = k + extra
    whole = pagerank(edges, tol=-1.0, max_supersteps=K, init=init_df)
    with tempfile.TemporaryDirectory() as ck:
        stopped = pagerank(
            edges, tol=-1.0, max_supersteps=k, checkpoint_dir=ck, init=init_df
        )
        assert stopped.supersteps == k
        resumed = pagerank(
            edges, tol=-1.0, max_supersteps=K, checkpoint_dir=ck,
            resume=True, init=init_df,
        )
        assert resumed.supersteps == whole.supersteps == K
        assert _ranks(resumed) == _ranks(whole)


@pytest.mark.parametrize("vid_type", ["string", "long"])
def test_empty_graph_ranks_keep_vertex_type(spark, vid_type):
    edges = spark.createDataFrame([], f"src {vid_type}, dst {vid_type}")
    cold = pagerank(edges)
    warm = pagerank_incremental(
        edges, spark.createDataFrame([], f"vertex {vid_type}, rank double")
    )
    for ranks in (cold.ranks, warm.ranks):
        assert ranks.schema.simpleString() == (
            f"struct<vertex:{'bigint' if vid_type == 'long' else vid_type},"
            "rank:double>"
        )
        assert ranks.count() == 0
    assert cold.converged and cold.supersteps == 0
    assert warm.converged and warm.delta_l1 == 0.0
