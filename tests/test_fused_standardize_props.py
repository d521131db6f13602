"""Property: the engine's fused parse + standardize stage
(``SmatchppSpark._keyed_edges``) emits exactly the rows of the public
DataFrame passes applied to the parsed edge table, for every standardizer,
with and without ``remove_duplicates``, and on the inputs the parser has
to salvage: empty content, graphs without ``:instance`` and truncated or
unbalanced Penman."""

from __future__ import annotations

import functools
import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.corpus import generate_penman
from smatchpp_spark.engine import EngineConfig, SmatchppSpark
from smatchpp_spark.operators.standardize import (
    amr_standardize,
    generic_standardize,
    remove_duplicates,
)
from smatchpp_spark.sources.penman import parse_edges

WRAPPERS = {
    "amr": amr_standardize,
    "generic": generic_standardize,
    "none": lambda edges: edges,
}
NO_INSTANCE = ["(a :arg0 b)", "x y z", '(:arg0 "q" :mod (b))', "(r :root (s :arg1 t))"]


@st.composite
def contents(draw) -> str:
    kind = draw(st.sampled_from(["graph", "graph", "empty", "no_instance", "truncated", "unbalanced"]))
    text = generate_penman(random.Random(draw(st.integers(0, 2**31))), max_nodes=6, max_depth=3)
    if kind == "empty":
        return ""
    if kind == "no_instance":
        return draw(st.sampled_from(NO_INSTANCE))
    if kind == "truncated":
        return text[: draw(st.integers(1, len(text)))]
    if kind == "unbalanced":
        return draw(st.sampled_from(["((", "", ")) "])) + text + draw(st.sampled_from([")", "", "(("]))
    return text


COLS = ("graph_id", "pos", "src", "rel", "dst")


def _sorted(rows) -> list:
    key = lambda r: tuple((v is None, "" if v is None else str(v)) for v in r)  # noqa: E731
    return sorted(rows, key=key)


@settings(max_examples=4, deadline=None, derandomize=True, database=None)
@given(st.lists(contents(), min_size=1, max_size=6))
def test_fused_path_equals_wrapper_path(spark, texts):
    corpus = spark.createDataFrame(
        list(enumerate(texts)), "pair_id long, content string"
    )
    parsed = parse_edges(corpus, "content", id_col="pair_id")
    # both sides of every (standardizer, dedup) case, tagged and collected
    # in one job: the cases are compared one by one below
    cases = [(name, dedup) for name in WRAPPERS for dedup in (False, True)]
    frames = []
    for i, case in enumerate(cases):
        name, dedup = case
        engine = SmatchppSpark(EngineConfig(standardizer=name, remove_duplicates=dedup))
        fused = engine._keyed_edges(corpus, "pair_id", "content")
        expect = WRAPPERS[name](parsed)
        if dedup:
            expect = remove_duplicates(expect)
        # the union below would widen mismatched types; keep them equal
        assert fused.select(*COLS).dtypes == expect.select(*COLS).dtypes, case
        for side, df in ((0, fused), (1, expect)):
            frames.append(df.select(F.lit(i).alias("_case"), F.lit(side).alias("_side"), *COLS))
    got: dict = {}
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        got.setdefault((r["_case"], r["_side"]), []).append(tuple(r[c] for c in COLS))
    for i, case in enumerate(cases):
        fused_rows = _sorted(got.get((i, 0), []))
        expect_rows = _sorted(got.get((i, 1), []))
        assert fused_rows == expect_rows, (*case, texts)
