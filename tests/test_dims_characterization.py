"""Characterization fixture for the per-aspect scoring path.

``tests/fixtures/dims_characterization.json`` was recorded from commit
3916629 (aspect extraction and aspect scoring as DataFrame join chains)
on the pair corpora of ``test_characterization.SCORE_PAIRS``: the
``generate_corpus_rows`` seeds, keyed by position, each side with three
hand-written pairs appended (an empty side, a single-node graph, and a
reentrancy on both sides), standardized with ``amr``.  Per corpus pair:

* the sha256 of the sorted ``(side, graph_id, aspect, pos, src, rel,
  dst)`` rows of ``extract_all_aspects`` on both sides' edge tables, with
  and without ``semantic_edge_rules()``;
* per variant of ``score_dimensions`` (``all-onealign``, the same with
  the edge rules and with ``compress=True``, and ``all-multialign``), the
  4-vector of every ``(pair_id, score_dim)`` plus micro and macro per
  dimension.

Any rewrite of extraction or dimension scoring must reproduce them
exactly.  To re-record (only when an output change is intended, and say
so in CHANGES.md)::

    python tests/test_dims_characterization.py --write
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys

FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "dims_characterization.json"
)
N_GRAPHS = 80
SCORE_PAIRS = ((1, 2), (2, 3), (3, 1))
# appended to every corpus under pair ids N_GRAPHS, N_GRAPHS + 1, ...
EXTRA = {
    "a": (
        "",
        "(x / test)",
        "(w / want-01 :arg0 (b / boy) :arg1 (g / go-02 :arg0 b))",
    ),
    "b": (
        "(d / dog :mod (b / big))",
        "(x / test)",
        "(p / persuade-01 :arg0 (g / girl) :arg1 (b / boy)"
        " :arg2 (r / run-02 :arg0 b :cause g))",
    ),
}
ASPECT_COLS = ("graph_id", "aspect", "pos", "src", "rel", "dst")


def _variants():
    from smatchpp_spark.functions.amr_rules import semantic_edge_rules
    from smatchpp_spark.operators.align import AlignConfig

    return {
        "onealign": ("all-onealign", {}),
        "onealign_rules": ("all-onealign", {"edge_rules": semantic_edge_rules()}),
        "onealign_compress": ("all-onealign", {"align": AlignConfig(compress=True)}),
        "multialign": ("all-multialign", {}),
    }


def _pair_corpus(spark, seed: int, side: str):
    from smatchpp_spark.corpus import generate_corpus_rows

    contents = [r[4] for r in generate_corpus_rows(N_GRAPHS, seed)]
    contents += EXTRA[side]
    # one partition: the corpus is tiny, and every Python task costs more
    # than its rows
    return spark.createDataFrame(
        list(enumerate(contents)), "pair_id long, content string"
    ).coalesce(1)


def _tagged(df, tag: str):
    from pyspark.sql import functions as F

    return df.select(
        F.lit(tag).alias("_tag"), F.to_json(F.struct(*df.columns)).alias("_row")
    )


def compute(spark) -> dict:
    """Every recorded value of every corpus pair."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from smatchpp_spark.engine import EngineConfig, SmatchppSpark
    from smatchpp_spark.functions.amr_rules import semantic_edge_rules
    from smatchpp_spark.operators.subgraphs import extract_all_aspects

    amr = SmatchppSpark(EngineConfig(standardizer="amr"))
    corpora, sides = {}, []
    for a, b in SCORE_PAIRS:
        key = f"{a}-{b}"
        corpora[key] = (_pair_corpus(spark, a, "a"), _pair_corpus(spark, b, "b"))
        for side, corpus in zip("ab", corpora[key]):
            # one edge table for every side: the graph id carries key and side
            edges = amr._keyed_edges(corpus, "pair_id", "content")
            sides.append(
                edges.withColumn("graph_id", F.concat_ws("/", F.lit(key), F.lit(side), "graph_id"))
            )
    edges = functools.reduce(DataFrame.unionByName, sides)
    # two collects: the first materializes every variant's lazily
    # checkpointed pair stats, so the aggregates of the second read them
    # instead of scoring each pair again per frame
    first = [
        _tagged(extract_all_aspects(edges, edge_rules=rules).select(*ASPECT_COLS), tag)
        for tag, rules in (("aspects", None), ("aspects_rules", semantic_edge_rules()))
    ]
    second = []
    for key, (ca, cb) in corpora.items():
        for name, (dimension, opts) in _variants().items():
            engine = SmatchppSpark(EngineConfig(standardizer="amr", **opts))
            res = engine.score_dimensions(ca, cb, dimension=dimension)
            first.append(_tagged(res["pairs"], f"{key}/{name}/pairs"))
            for agg in ("micro", "macro"):
                second.append(_tagged(res[agg], f"{key}/{name}/{agg}"))

    rows: dict[str, list[dict]] = {}
    for frames in (first, second):
        for r in functools.reduce(DataFrame.unionByName, frames).collect():
            rows.setdefault(r["_tag"], []).append(json.loads(r["_row"]))

    out: dict = {key: {} for key in corpora}
    for tag in ("aspects", "aspects_rules"):
        lines: dict[str, list[str]] = {key: [] for key in corpora}
        for row in rows.get(tag, []):
            key, side, gid = row["graph_id"].split("/", 2)
            lines[key].append(
                json.dumps([side, gid, *(row[c] for c in ASPECT_COLS[1:])])
            )
        for key, found in lines.items():
            text = "\n".join(sorted(found))
            out[key][tag] = hashlib.sha256(text.encode("utf-8")).hexdigest()
    stat = ("matchsum_x", "matchsum_y", "xlen", "ylen")
    for key in corpora:
        for name in _variants():
            pairs = sorted(
                f"{row['pair_id']} {row['score_dim']} "
                + " ".join(repr(float(row[c])) for c in stat)
                for row in rows.get(f"{key}/{name}/pairs", [])
            )
            out[key][name] = {
                "pairs": pairs,
                **{
                    agg: {
                        row["score_dim"]: [row["f1"], row["p"], row["r"]]
                        for row in rows.get(f"{key}/{name}/{agg}", [])
                    }
                    for agg in ("micro", "macro")
                },
            }
    return out


def _fixture() -> dict:
    with open(FIXTURE) as fh:
        return json.load(fh)


def test_dimensions_match_fixture(spark):
    expect = _fixture()
    got = compute(spark)
    assert sorted(got) == sorted(expect)
    for key, values in got.items():
        for tag in ("aspects", "aspects_rules"):
            assert values[tag] == expect[key][tag], (key, tag)
        for name in _variants():
            for part in ("pairs", "micro", "macro"):
                assert values[name][part] == expect[key][name][part], (key, name, part)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_dims_characterization.py --write")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from smatchpp_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    data = compute(spark)
    spark.stop()
    with open(FIXTURE, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
