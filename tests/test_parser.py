"""Parser tests: golden fixtures, differential vs the reference, and the
Spark mapInPandas path end-to-end."""

from __future__ import annotations

import logging

import pytest

from smatchpp_spark.corpus import corpus_dataframe, generate_corpus_rows
from smatchpp_spark.functions.graphkit import (
    parse_penman,
    parse_tsv,
    triples_to_penman,
    triples_to_tsv,
)

logging.disable(logging.WARNING)  # reference warns loudly on salvage graphs


def test_golden_g1_parse():
    triples = parse_penman("(t / train :mod (f / fast))")
    assert triples == [
        ("t", ":instance", "train"),
        ("ROOT_OF_GRAPH", ":root", "t"),
        ("f", ":instance", "fast"),
        ("t", ":mod", "f"),
    ]


def test_quoted_and_broken_graphs():
    assert parse_penman('(t / test :name "New (York)")') == [
        ("t", ":instance", "test"),
        ("ROOT_OF_GRAPH", ":root", "t"),
        ("t", ":name", '"New (York)"'),
    ]
    # salvage: missing closing bracket parses like the closed version
    assert parse_penman("(a / b :x (y / z)") == parse_penman("(a / b :x (y / z))")


def test_differential_parse_vs_reference():
    ref = pytest.importorskip("smatchpp.data_helpers")
    reader = ref.PenmanReader()
    for _, _, _, _, content in generate_corpus_rows(300, seed=7):
        assert reader._string2graph(content) == parse_penman(content), content


def test_tsv_roundtrip():
    triples = [("a", ":instance", "alpha"), ("a", ":mod", "b")]
    assert parse_tsv(triples_to_tsv(triples)) == triples


def test_tsv_skips_lines_with_fewer_than_three_fields():
    block = "a\talpha\t:instance\na\tb\t:mod"
    triples = [("a", ":instance", "alpha"), ("a", ":mod", "b")]
    assert parse_tsv(block + "\n") == parse_tsv(block) == triples
    assert parse_tsv(block.replace("\n", "\n\n")) == triples
    assert parse_tsv(block.replace("\n", "\nb\tc\n")) == triples


def test_penman_writer_roundtrip_parses_back():
    # writer output must re-parse to the same triple multiset (order-free)
    import re

    safe = re.compile(r"^[A-Za-z0-9_.+-]+$")
    checked = 0
    for _, _, _, _, content in generate_corpus_rows(120, seed=13):
        triples = parse_penman(content)
        v2c = {s: t for s, r, t in triples if r == ":instance"}
        roots = [t for t in triples if t[1] == ":root"]
        if not roots or roots[0][2] not in v2c:
            continue  # salvage graphs without a clean root
        if not all(safe.match(s) and safe.match(t) for s, _, t in triples):
            continue  # quoted/odd node names round-trip only modulo quoting
        consts = {t for s, r, t in triples if r != ":instance" and t not in v2c}
        if (set(v2c) & set(v2c.values())) or (set(v2c) & consts):
            continue  # var==concept collisions are ambiguous pre-relabel_vars
            # (the reference fixes these in relabel_vars, graph_transforms.py:52-59)
        try:
            text = triples_to_penman(triples)
        except (KeyError, StopIteration):
            continue
        reparsed = sorted(set(parse_penman(text)))
        if reparsed != sorted(set(triples)):
            # the reference writer is lossy on some re-entrant/cyclic graphs;
            # we only require behavioral parity with it there
            ref = pytest.importorskip("smatchpp.data_helpers")
            assert text == ref.PenmanWriter()._graph2string(list(triples)), content
            continue
        checked += 1
    assert checked > 20


def test_differential_writer_vs_reference():
    ref = pytest.importorskip("smatchpp.data_helpers")
    writer = ref.PenmanWriter()
    for _, _, _, _, content in generate_corpus_rows(60, seed=21):
        triples = parse_penman(content)
        try:
            expected = writer._graph2string(list(triples))
        except Exception:
            continue
        assert triples_to_penman(triples) == expected


def test_spark_parse_edges(spark):
    from smatchpp_spark.sources.penman import parse_edges, write_penman

    corpus = corpus_dataframe(spark, 50, seed=42)
    edges = parse_edges(corpus)
    rows = edges.collect()
    assert len(rows) > 50
    assert set(edges.columns) == {"graph_id", "pos", "src", "rel", "dst"}
    # every graph has exactly one :root triple
    from pyspark.sql import functions as F

    root_counts = (
        edges.filter(F.col("rel") == ":root").groupBy("graph_id").count().collect()
    )
    assert all(r["count"] == 1 for r in root_counts)
    # round-trip through the writer re-parses to the same triples for clean graphs
    penman = write_penman(edges).filter(F.col("penman").isNotNull())
    assert penman.count() > 0


def test_graph_id_is_sha256_content_invariant(spark):
    """input-hint per-row invariant: graph_id == sha256(utf8(content)),
    bit-identical to any other engine's sha256, and duplicate content
    collapses to one graph key."""
    import hashlib

    from smatchpp_spark.sources.penman import with_graph_id

    rows = [
        ("r1", "src/a.amr", "c1", "amr", "(a / ant :mod (b / big))"),
        ("r2", "src/b.amr", "c2", "amr", "(a / ant :mod (b / big))"),  # dup
        ("r3", "src/c.amr", "c3", "amr", "(x / über :value \"naïve\")"),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    df = with_graph_id(spark.createDataFrame(rows, schema))
    got = {r["path"]: r["graph_id"] for r in df.collect()}
    for _, path, _, _, content in rows:
        assert got[path] == hashlib.sha256(content.encode("utf-8")).hexdigest()
    assert got["src/a.amr"] == got["src/b.amr"]


def test_goodmami_reader_guard_or_parity(spark):
    """The engine accepts ``input_format="goodmami"``; with the
    third-party penman library absent the parse raises the reference's
    install hint (data_helpers.py:255-275); when present, output parity
    with our parser is asserted on clean graphs."""
    import pytest as _pytest

    from smatchpp_spark.engine import EngineConfig, SmatchppSpark

    engine = SmatchppSpark(EngineConfig(input_format="goodmami", standardizer="none"))
    reader = engine.edges
    corpus = spark.createDataFrame(
        [("(a / ant :mod (s / small))",)], "content string"
    )
    try:
        import penman  # noqa: F401
    except ModuleNotFoundError:
        with _pytest.raises(NotImplementedError, match="goodmami"):
            reader(corpus)
        return
    from smatchpp_spark.sources.penman import parse_edges

    got = {
        (r.src, r.rel, r.dst)
        for r in reader(corpus).collect()
    }
    expected = {
        (r.src, r.rel, r.dst)
        for r in parse_edges(corpus).collect()
    }
    # goodmami uses ':instance' role spelling like ours; same triple set
    assert got == expected


def test_goodmami_wrapper_transform_with_stub_module(spark, monkeypatch):
    """The goodmami wrapper's transform logic, exercised offline with a
    stub `penman` injected into sys.modules (the real lib is optional
    and absent here): root-triple prepend, triple passthrough order,
    guard bypass, and the output schema contract."""
    import sys
    import types

    from smatchpp_spark.sources.penman import (
        _goodmami_graph_triples,
        goodmami_parse_edges,
    )

    class _G:
        def __init__(self, triples):
            self.triples = triples

    stub = types.ModuleType("penman")
    decoded = {
        "(a / ant :mod (s / small))": _G(
            [("a", ":instance", "ant"), ("s", ":instance", "small"),
             ("a", ":mod", "s")]
        ),
        "(e / empty)": _G([("e", ":instance", "empty")]),
        "()": _G([]),
    }
    stub.decode = lambda text: decoded[text]

    # pure transform: ROOT_OF_GRAPH prepend points at the first triple's
    # source (goodmami puts the top variable first), empty stays empty
    t = _goodmami_graph_triples(stub, "(a / ant :mod (s / small))", True)
    assert t[0] == ("ROOT_OF_GRAPH", ":root", "a")
    assert t[1:] == decoded["(a / ant :mod (s / small))"].triples
    assert _goodmami_graph_triples(stub, "()", True) == []
    no_root = _goodmami_graph_triples(stub, "(e / empty)", False)
    assert no_root == [("e", ":instance", "empty")]

    # with the stub in sys.modules the import guard passes and the plan
    # carries the parse_edges output contract (schema; lazy — the stub
    # never has to reach Spark's worker subprocesses)
    monkeypatch.setitem(sys.modules, "penman", stub)
    corpus = spark.createDataFrame(
        [("(a / ant :mod (s / small))",)], "content string"
    )
    df = goodmami_parse_edges(corpus)
    assert [f.name for f in df.schema.fields] == [
        "graph_id", "pos", "src", "rel", "dst"
    ]


# Golden parse set for the goodmami reader contract: each Penman string
# paired with the (source, role, target) triple list the REAL
# third-party `penman` library produces for `decode(s).triples`, as
# recorded in its published README/documentation examples (reference
# wrapper contract: data_helpers.py:255-275).  The vendored fixture
# module tests/fixtures/penman.py must reproduce these exactly.
GOODMAMI_GOLDENS = [
    (
        "(b / bark-01 :ARG0 (d / dog))",
        [("b", ":instance", "bark-01"), ("b", ":ARG0", "d"),
         ("d", ":instance", "dog")],
    ),
    (
        # inverted roles are normalized in g.triples, at the position
        # the role appeared, before the child node's own triples
        "(d / dog :ARG0-of (b / bark-01))",
        [("d", ":instance", "dog"), ("b", ":ARG0", "d"),
         ("b", ":instance", "bark-01")],
    ),
    (
        "(s / sleep-01 :polarity -)",
        [("s", ":instance", "sleep-01"), ("s", ":polarity", "-")],
    ),
    (
        # string constants keep their quotes; numbers are plain strings
        '(n / name :op1 "Fido" :quant 25)',
        [("n", ":instance", "name"), ("n", ":op1", '"Fido"'),
         ("n", ":quant", "25")],
    ),
    (
        # reentrancy: the second mention of b is a plain variable target
        "(w / want-01 :ARG0 (b / boy) :ARG1 (g / go-02 :ARG0 b))",
        [("w", ":instance", "want-01"), ("w", ":ARG0", "b"),
         ("b", ":instance", "boy"), ("w", ":ARG1", "g"),
         ("g", ":instance", "go-02"), ("g", ":ARG0", "b")],
    ),
]


def test_goodmami_golden_fixture_module():
    """The vendored offline penman stand-in (tests/fixtures/penman.py)
    reproduces the recorded decode contract of the real library —
    triple order, :instance emission, -of normalization, quote
    preservation — so wrapper tests against it are differential, not
    self-referential."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", "penman.py")
    spec = importlib.util.spec_from_file_location("_fixture_penman", path)
    fake = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fake)

    for text, golden in GOODMAMI_GOLDENS:
        g = fake.decode(text)
        assert list(g.triples) == golden, text
        assert g.top == golden[0][0]


def test_goodmami_parse_edges_golden_end_to_end(spark):
    """goodmami_parse_edges driven END TO END (Arrow kernel executed,
    not just planned) against the golden parse set, with the vendored
    fixture shipped to Spark's Python workers via addPyFile.

    Session-level side effect (documented): addPyFile leaves the
    fixture importable as `penman` for the rest of the Spark session,
    which is why this test lives at the END of this file — the absence-
    guard test above must run first."""
    import os
    import sys

    from smatchpp_spark.sources.penman import goodmami_parse_edges

    path = os.path.join(os.path.dirname(__file__), "fixtures", "penman.py")
    spark.sparkContext.addPyFile(path)
    import importlib.util

    spec = importlib.util.spec_from_file_location("penman", path)
    fake = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fake)
    sys.modules.setdefault("penman", fake)  # driver-side guard import

    corpus = spark.createDataFrame(
        [(i, text) for i, (text, _) in enumerate(GOODMAMI_GOLDENS)],
        "gid long, content string",
    )
    rows = goodmami_parse_edges(corpus, id_col="gid").collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(int(r["graph_id"]), []).append(
            (r["pos"], r["src"], r["rel"], r["dst"])
        )
    for i, (text, golden) in enumerate(GOODMAMI_GOLDENS):
        got = [(s, r, t) for _, s, r, t in sorted(by_gid[i])]
        expected = [("ROOT_OF_GRAPH", ":root", golden[0][0])] + golden
        assert got == expected, text
