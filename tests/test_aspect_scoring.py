"""Differential: per-pair all-onealign aspect scoring vs the reference,
using the REFERENCE's own alignment so the comparison isolates
extraction + substitution + matchsum (alignment parity is covered in
test_align.py), and all-multialign vs the reference.  Both skip where
the reference is not importable."""

from __future__ import annotations

import json
import random

import pytest

from smatchpp_spark.corpus import generate_penman
from smatchpp_spark.functions.graphkit import parse_penman
from smatchpp_spark.operators.align import AlignConfig, align_pair, score_aspects


def _rows(content: str) -> list[tuple]:
    return [(pos, *t) for pos, t in enumerate(parse_penman(content))]


def _ref_extractor():
    from smatchpp import subgraph_extraction

    with open(
        "/root/reference/smatchpp/formalism/amr/resource/graph_aspects.json"
    ) as fh:
        aspects = json.load(fh)
    with open(
        "/root/reference/smatchpp/formalism/amr/resource/concept_groups.json"
    ) as fh:
        groups = json.load(fh)
    return subgraph_extraction.BasicSubgraphExtractor(
        add_instance=True, graph_aspects=aspects, concept_groups=groups
    )


def test_onealign_aspect_scores_match_reference():
    data_helpers = pytest.importorskip(
        "smatchpp.data_helpers", reason="reference not importable"
    )
    from smatchpp import align as ref_align
    from smatchpp import preprocess, score, solvers

    reader = data_helpers.PenmanReader()
    n_pairs = 12
    pairs = []
    for i in range(n_pairs):
        rng = random.Random(f"aspscore:{i}")
        pairs.append(
            (
                generate_penman(rng, max_nodes=8, max_depth=4),
                generate_penman(rng, max_nodes=8, max_depth=4),
            )
        )

    prep = preprocess.BasicGraphPairPreparer()
    aligner = ref_align.GraphAligner(
        score.IDTripleMatcher(), solvers.HillClimber(rand_inits=8)
    )
    scorer = score.TripleScorer()
    extractor = _ref_extractor()

    expected: dict[tuple[str, str], list[float]] = {}
    got: dict[tuple[str, str], list[float]] = {}
    for i, (s1, s2) in enumerate(pairs):
        g1 = reader.string2graph(s1)
        g2 = reader.string2graph(s2)
        random.seed(0)
        t1, t2, v1, v2 = prep.prepare_get_vars(list(g1), list(g2))
        am, vi, _ = aligner.align(t1, t2, v1, v2)
        var_map = {
            va[3:]: vb[3:]
            for va, vb in ref_align.GraphAligner._get_var_map(am, vi)
            if va is not None and vb is not None
        }
        sub1 = extractor.all_subgraphs_by_name(list(t1))
        sub2 = extractor.all_subgraphs_by_name(list(t2))
        for name in sub1:
            expected[(str(i), name)] = list(
                scorer.score(list(sub1[name]), list(sub2[name]), am, vi)
            )
        for name, mx, my, xlen, ylen in score_aspects(_rows(s1), _rows(s2), var_map):
            got[(str(i), name)] = [mx, my, float(xlen), float(ylen)]
    mismatches = []
    for key, exp in expected.items():
        mine = got.get(key, [0.0, 0.0, 0.0, 0.0])
        if mine != exp:
            mismatches.append((key, mine, exp))
    assert not mismatches, mismatches[:5]


def test_alignment_table_roundtrip():
    triples = parse_penman("(m / man :arg0 (c / cat))")
    var_map = align_pair(triples, triples, AlignConfig(solver="exhaustive"))[4]
    assert var_map == {"m": "m", "c": "c"}


def test_multialign_aspect_scores_match_reference(spark):
    """all-multialign: each aspect pair prepared + aligned independently
    (bindings.py:96-110); our re-keyed pairwise kernel must reproduce the
    reference per-dim 4-vectors (small aspect subgraphs -> exhaustive
    optimum == reference hill-climber optimum)."""
    data_helpers = pytest.importorskip(
        "smatchpp.data_helpers", reason="reference not importable"
    )
    from smatchpp import align as ref_align
    from smatchpp import preprocess, score, solvers

    from smatchpp_spark.engine import EngineConfig, SmatchppSpark

    reader = data_helpers.PenmanReader()
    n_pairs = 8
    pairs = []
    for i in range(n_pairs):
        rng = random.Random(f"multi:{i}")
        pairs.append(
            (
                generate_penman(rng, max_nodes=7, max_depth=3),
                generate_penman(rng, max_nodes=7, max_depth=3),
            )
        )

    prep = preprocess.BasicGraphPairPreparer()
    aligner = ref_align.GraphAligner(
        score.IDTripleMatcher(), solvers.HillClimber(rand_inits=8)
    )
    scorer = score.TripleScorer()
    extractor = _ref_extractor()

    expected: dict[tuple[str, str], list[float]] = {}
    for i, (s1, s2) in enumerate(pairs):
        g1 = reader.string2graph(s1)
        g2 = reader.string2graph(s2)
        sub1 = extractor.all_subgraphs_by_name(list(g1))
        sub2 = extractor.all_subgraphs_by_name(list(g2))
        for name in sub1:
            random.seed(0)
            t1, t2, v1, v2 = prep.prepare_get_vars(list(sub1[name]), list(sub2[name]))
            am, vi, _ = aligner.align(t1, t2, v1, v2)
            expected[(str(i), name)] = list(scorer.score(list(t1), list(t2), am, vi))

    ca = spark.createDataFrame(
        [(str(i), a) for i, (a, _) in enumerate(pairs)], "pair_id string, content string"
    )
    cb = spark.createDataFrame(
        [(str(i), b) for i, (_, b) in enumerate(pairs)], "pair_id string, content string"
    )
    eng = SmatchppSpark(
        EngineConfig(standardizer="none", align=AlignConfig(solver="exhaustive"))
    )
    res = eng.score_dimensions(ca, cb, dimension="all-multialign")
    got = {
        (r["pair_id"], r["score_dim"]): [
            r["matchsum_x"], r["matchsum_y"], float(r["xlen"]), float(r["ylen"])
        ]
        for r in res["pairs"].collect()
    }
    mismatches = []
    for key, exp in expected.items():
        mine = got.get(key, [0.0, 0.0, 0.0, 0.0])
        if mine != exp:
            mismatches.append((key, mine, exp))
    assert not mismatches, mismatches[:5]
