"""Characterization fixtures for the scoring path.

The values in ``tests/fixtures/characterization.json`` were recorded from
commit dbc16d8 (the window-join standardizers) on the synthetic corpora of
``corpus.generate_corpus_rows`` seeds 1-3:

* the sha256 of the sorted ``(graph_id, pos, src, rel, dst)`` rows each
  standardization pass emits on the parsed corpus (``dereify`` on its
  rule-reified edges);
* per pair, the 4-vector and ``(lower_bound, upper_bound)`` of
  ``score_corpus``, plus micro and macro, with the ``amr`` and the
  ``generic`` standardizer.

Any rewrite of those passes must reproduce them exactly.  To re-record
(only when an output change is intended, and say so in CHANGES.md)::

    python tests/test_characterization.py --write
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys

import pytest

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "characterization.json")
SEEDS = (1, 2, 3)
N_GRAPHS = 80
SCORE_PAIRS = ((1, 2), (2, 3), (3, 1))
STANDARDIZERS = ("amr", "generic")


def _passes():
    from smatchpp_spark.operators import standardize as S

    return {
        "amr_standardize": S.amr_standardize,
        "generic_standardize": S.generic_standardize,
        "relabel_vars": S.relabel_vars,
        "concept_as_root": S.concept_as_root,
        # dereify has nothing to undo on a freshly parsed corpus; reified
        # edges give every rule a workbench
        "dereify": lambda edges: S.dereify(S.reify_rules_transform(edges)),
    }


COLS = ("graph_id", "pos", "src", "rel", "dst")


def _rows_sha(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode("utf-8")).hexdigest()


def _parsed(spark, seed: int):
    from smatchpp_spark.corpus import corpus_dataframe
    from smatchpp_spark.sources.penman import parse_edges

    return parse_edges(corpus_dataframe(spark, N_GRAPHS, seed)).localCheckpoint()


def _pair_corpus(spark, seed: int):
    from smatchpp_spark.corpus import generate_corpus_rows

    rows = generate_corpus_rows(N_GRAPHS, seed)
    return spark.createDataFrame(
        [(i, r[4]) for i, r in enumerate(rows)], "pair_id long, content string"
    )


def pass_hashes(spark, seed: int) -> dict[str, str]:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    edges = _parsed(spark, seed)
    # every pass's rows, tagged with its name, in one job
    frames = [
        fn(edges).select(F.lit(name).alias("_pass"), *COLS)
        for name, fn in _passes().items()
    ]
    lines: dict[str, list[str]] = {name: [] for name in _passes()}
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        lines[r["_pass"]].append(json.dumps([r[c] for c in COLS]))
    return {name: _rows_sha(rows) for name, rows in lines.items()}


def corpus_scores(spark, standardizer: str, seed_a: int, seed_b: int) -> dict:
    from smatchpp_spark.engine import EngineConfig, SmatchppSpark

    engine = SmatchppSpark(EngineConfig(standardizer=standardizer))
    res = engine.score_corpus(_pair_corpus(spark, seed_a), _pair_corpus(spark, seed_b))
    cols = ("matchsum_x", "matchsum_y", "xlen", "ylen", "lower_bound", "upper_bound")
    pairs = {
        r["pair_id"]: [r[c] for c in cols] for r in res["pairs"].collect()
    }
    return {
        "pairs": dict(sorted(pairs.items(), key=lambda kv: int(kv[0]))),
        "micro": list(res["micro"].first()),
        "macro": list(res["macro"].first()),
    }


def compute(spark) -> dict:
    return {
        "passes": {str(s): pass_hashes(spark, s) for s in SEEDS},
        "scores": {
            std: {f"{a}-{b}": corpus_scores(spark, std, a, b) for a, b in SCORE_PAIRS}
            for std in STANDARDIZERS
        },
    }


def _fixture() -> dict:
    with open(FIXTURE) as fh:
        return json.load(fh)


@pytest.mark.parametrize("seed", SEEDS)
def test_standardize_passes_match_fixture(spark, seed):
    assert pass_hashes(spark, seed) == _fixture()["passes"][str(seed)]


@pytest.mark.parametrize("standardizer", STANDARDIZERS)
def test_score_corpus_matches_fixture(spark, standardizer):
    expect = _fixture()["scores"][standardizer]
    for a, b in SCORE_PAIRS:
        got = corpus_scores(spark, standardizer, a, b)
        key = f"{a}-{b}"
        assert got["pairs"] == expect[key]["pairs"], key
        assert got["micro"] == expect[key]["micro"], key
        assert got["macro"] == expect[key]["macro"], key


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_characterization.py --write")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from smatchpp_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    data = compute(spark)
    spark.stop()
    with open(FIXTURE, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
