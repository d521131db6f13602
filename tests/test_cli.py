"""CLI / corpus-reader parity: the distributed blank-line Penman reader vs
the reference ``read_graphstrings_from_file`` (data_helpers.py:7-16), and
end-to-end drives of jobs/score_corpus.py covering -score_dimension,
-input_format and -output_format (reference __main__.py:4-214)."""

from __future__ import annotations

import json
import random
import sys

import pytest

from smatchpp_spark.corpus import generate_penman
from smatchpp_spark.sources.penman import read_penman_corpus


def _write_corpus(tmp_path, graphs, name):
    blocks = []
    for i, g in enumerate(graphs):
        meta = f"# ::id {i}\n# ::snt sentence {i}\n"
        blocks.append(meta + g)
    path = tmp_path / name
    path.write_text("\n\n".join(blocks) + "\n\n")
    return str(path)


def test_read_penman_corpus_matches_reference(spark, tmp_path):
    data_helpers = pytest.importorskip(
        "smatchpp.data_helpers", reason="reference not importable"
    )
    graphs = []
    for i in range(40):
        rng = random.Random(f"cli:{i}")
        graphs.append(generate_penman(rng, max_nodes=7, max_depth=3))
    path = _write_corpus(tmp_path, graphs, "corpus.amr")

    expected = data_helpers.read_graphstrings_from_file(path)
    got = {
        int(r["pair_id"]): r["content"]
        for r in read_penman_corpus(spark, path).collect()
    }
    # the reference keeps a final "\n" remnant only if non-empty; our reader
    # drops empty blocks — both yield exactly the graph list here
    assert len(got) == len(expected)
    for i, exp in enumerate(expected):
        assert got[i] == exp, i


def _run_cli(monkeypatch, capsys, argv):
    from pyspark.sql import SparkSession

    from jobs import score_corpus

    # keep the shared test session alive across CLI drives
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", ["score_corpus.py", *argv])
    score_corpus.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


@pytest.mark.usefixtures("spark")
def test_cli_end_to_end_dimensions(spark, tmp_path, monkeypatch, capsys):
    graphs = []
    for i in range(10):
        rng = random.Random(f"cli-dims:{i}")
        graphs.append(generate_penman(rng, max_nodes=6, max_depth=3))
    path = _write_corpus(tmp_path, graphs, "dims.amr")

    out = _run_cli(
        monkeypatch,
        capsys,
        [
            "-a", path, "-b", path, "--penman_files",
            "--graph_type", "amr",
            "--score_dimension", "all-onealign",
            "--output_format", "json",
            "--edge_relabel",
        ],
    )
    assert "micro" in out and "macro" in out
    micro = {r["score_dim"]: r for r in out["micro"]}
    assert "main" in micro
    # a corpus scored against itself is a perfect match on every dimension
    assert all(r["f1"] == 100.0 for r in out["micro"])
    assert len(micro) > 1  # fine-grained dims actually present


def test_cli_tsv_input_and_text_output(spark, tmp_path, monkeypatch, capsys):
    import pyspark.sql.functions as F  # noqa: F401

    rows = [
        (0, "a\tb\t:instance\na\tc\t:arg0\nc\td\t:instance"),
        # a block written with a final newline
        (1, "x\ty\t:instance\nx\tz\t:arg1\n"),
    ]
    df = spark.createDataFrame(rows, "pair_id long, content string")
    pq = str(tmp_path / "tsv_corpus")
    df.write.parquet(pq)

    from pyspark.sql import SparkSession

    from jobs import score_corpus

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "score_corpus.py", "-a", pq, "-b", pq,
            "--input_format", "tsv",
            "--score_type", "micromacro",
            "--output_format", "text",
        ],
    )
    score_corpus.main()
    out = capsys.readouterr().out
    assert "micro scores" in out and "f1: 100.0" in out


def test_read_penman_corpus_multi_split_order(spark, tmp_path):
    """The distributed reader must preserve file order for pair ids even
    when the file splits into multiple input partitions."""
    data_helpers = pytest.importorskip(
        "smatchpp.data_helpers", reason="reference not importable"
    )
    graphs = []
    for i in range(300):
        rng = random.Random(f"split:{i}")
        graphs.append(generate_penman(rng, max_nodes=8, max_depth=3))
    path = _write_corpus(tmp_path, graphs, "big.amr")
    size = len(open(path).read().encode())
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # force ~8 scan splits (openCost dominates small files otherwise)
        split = str(max(size // 8, 1024))
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        raw = spark.read.option("lineSep", "\n\n").text(path)
        assert raw.rdd.getNumPartitions() > 1, "test must exercise multiple splits"
        got = {
            int(r["pair_id"]): r["content"]
            for r in read_penman_corpus(spark, path).collect()
        }
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    expected = data_helpers.read_graphstrings_from_file(path)
    assert len(got) == len(expected)
    for i, exp in enumerate(expected):
        assert got[i] == exp, i


def test_cli_optimality_epilogue(spark, tmp_path, monkeypatch, capsys):
    """The job prints the reference's solver-status epilogue
    (__main__.py:203-213) to stderr: summed (lb, ub) and the count of
    pairs without an ensured-optimal solution (0 here — small graphs,
    certified B&B)."""
    graphs = []
    for i in range(6):
        rng = random.Random(f"cli-epi:{i}")
        graphs.append(generate_penman(rng, max_nodes=6, max_depth=3))
    path = _write_corpus(tmp_path, graphs, "epi.amr")

    from pyspark.sql import SparkSession

    from jobs import score_corpus

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(
        sys, "argv",
        ["score_corpus.py", "-a", path, "-b", path, "--penman_files"],
    )
    score_corpus.main()
    captured = capsys.readouterr()
    assert "Optimal status, lower & upper bound:" in captured.err
    assert "Pairs that do not have ensured optimal solution: 0" in captured.err
    # bounds are finite and equal (every pair certified): "[x, x]"
    import re

    m = re.search(r"lower & upper bound: \[([0-9.]+), ([0-9.]+)\]", captured.err)
    assert m and float(m.group(1)) == float(m.group(2))
    assert float(m.group(2)) < 1e6


def test_read_penman_corpus_keeps_interior_empty_blocks(spark, tmp_path):
    """Reference parity on malformed corpora (VERDICT r3 missing #5):
    interior empty blocks (3+ consecutive newlines) are KEPT and consume
    a pair_id — positional pairing stays aligned with the reference —
    while a trailing empty block is trimmed like the reference's."""
    data_helpers = pytest.importorskip(
        "smatchpp.data_helpers", reason="reference not importable"
    )
    text = "(a / ant)\n\n\n\n(b / bee)\n\n(c / cat)\n\n"
    path = tmp_path / "gappy.amr"
    path.write_text(text)

    expected = data_helpers.read_graphstrings_from_file(str(path))
    got = {
        int(r["pair_id"]): r["content"]
        for r in read_penman_corpus(spark, str(path)).collect()
    }
    assert len(got) == len(expected)
    for i, exp in enumerate(expected):
        assert got[i] == exp, (i, expected, got)
    # the interior empty survived in both
    assert "" in got.values()
