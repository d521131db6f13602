"""Differential tests: aspect subgraph extraction vs the reference
BasicSubgraphExtractor on seeded synthetic graphs (each skips where the
reference is not importable), plus reference-free checks."""

from __future__ import annotations

import json
import random
from collections import Counter

import pytest

from smatchpp_spark.corpus import generate_penman
from smatchpp_spark.functions.amr_rules import CONCEPT_GROUPS, GRAPH_ASPECTS
from smatchpp_spark.operators.subgraphs import extract_all_aspects
from smatchpp_spark.sources.penman import parse_edges


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


def test_rule_tables_match_reference_resources():
    pytest.importorskip("smatchpp.data_helpers", reason="reference not importable")
    with open(
        "/root/reference/smatchpp/formalism/amr/resource/graph_aspects.json"
    ) as fh:
        assert json.load(fh) == GRAPH_ASPECTS
    with open(
        "/root/reference/smatchpp/formalism/amr/resource/concept_groups.json"
    ) as fh:
        assert json.load(fh) == CONCEPT_GROUPS


def test_aspect_extraction_matches_reference(spark):
    data_helpers = pytest.importorskip(
        "smatchpp.data_helpers", reason="reference not importable"
    )
    graphs = []
    for i in range(25):
        rng = random.Random(f"aspects:{i}")
        graphs.append(generate_penman(rng, max_nodes=9, max_depth=4))

    corpus = spark.createDataFrame(
        [(str(i), g) for i, g in enumerate(graphs)], "gid string, content string"
    )
    edges = parse_edges(corpus, id_col="gid")
    got: dict[tuple[str, str], Counter] = {}
    for r in extract_all_aspects(edges).collect():
        got.setdefault((r["graph_id"], r["aspect"]), Counter())[
            (r["src"], r["rel"], r["dst"])
        ] += 1

    extractor = _ref_extractor()
    reader = data_helpers.PenmanReader()
    mismatches = []
    for i, g in enumerate(graphs):
        triples = reader.string2graph(g)
        expected = extractor.all_subgraphs_by_name(list(triples))
        for aspect, sg in expected.items():
            exp = Counter(set(sg))  # reference dedups via list(set())
            mine = got.get((str(i), aspect), Counter())
            if mine != exp:
                mismatches.append((i, aspect, sorted(mine), sorted(exp)))
    assert not mismatches, mismatches[:2]


def test_empty_aspects_are_empty(spark):
    corpus = spark.createDataFrame(
        [("0", "(x / test)")], "gid string, content string"
    )
    edges = parse_edges(corpus, id_col="gid")
    rows = extract_all_aspects(edges).collect()
    by_aspect = {}
    for r in rows:
        by_aspect.setdefault(r["aspect"], []).append(r)
    # a bare single-node graph has no relation seeds anywhere
    assert "AGENT" not in by_aspect or not by_aspect["AGENT"]
