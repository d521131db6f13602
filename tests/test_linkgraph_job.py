"""e2e drives of jobs/linkgraph.py (the north-rule spark-submit surface)
and the --py-files packaging tool."""

from __future__ import annotations

import ast
import inspect
import json
import re
import subprocess
import sys


def _run_job(monkeypatch, capsys, argv):
    from pyspark.sql import SparkSession

    from jobs import linkgraph

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", ["linkgraph.py", *argv])
    linkgraph.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def _write_edges(spark, tmp_path, pairs, name="edges"):
    path = str(tmp_path / name)
    spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    ).write.mode("overwrite").parquet(path)
    return path


def _is_args_op(node) -> bool:
    return (
        isinstance(node, ast.Attribute) and node.attr == "op"
        and isinstance(node.value, ast.Name) and node.value.id == "args"
    )


def test_linkgraph_menu_is_consistent():
    """The ``--op`` menu of jobs/linkgraph.py agrees with itself: every
    choice has a dispatch branch in ``main`` (``degrees`` is the final
    ``else``), every dispatched literal is a choice, and the module
    docstring's ``--op a|b|...`` list names exactly the choices. argparse
    rejects an op without a choice, and a choice without a branch falls
    through to ``degrees`` silently. No Spark session starts."""
    from jobs import linkgraph

    tree = ast.parse(inspect.getsource(linkgraph))
    op_arg = next(
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call) and node.args
        and isinstance(node.args[0], ast.Constant) and node.args[0].value == "--op"
    )
    choices = next(
        ast.literal_eval(kw.value) for kw in op_arg.keywords if kw.arg == "choices"
    )

    main = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    (branch,) = [
        n for n in main.body
        if isinstance(n, ast.If) and isinstance(n.test, ast.Compare)
        and _is_args_op(n.test.left)
    ]
    dispatched = []
    while True:
        test = branch.test
        assert isinstance(test, ast.Compare) and _is_args_op(test.left)
        (op,), (rhs,) = test.ops, test.comparators
        if isinstance(op, ast.Eq):
            dispatched.append(ast.literal_eval(rhs))
        else:
            assert isinstance(op, ast.In)
            dispatched.extend(ast.literal_eval(rhs))
        if len(branch.orelse) == 1 and isinstance(branch.orelse[0], ast.If):
            branch = branch.orelse[0]
        else:
            assert branch.orelse, "the degrees fallback else is missing"
            break

    assert len(dispatched) == len(set(dispatched))
    assert sorted(set(choices) - set(dispatched)) == ["degrees"]
    assert sorted(set(dispatched) - set(choices)) == []

    m = re.search(r"--op (.*?)\s+--edges", linkgraph.__doc__, re.S)
    documented = [name.strip(" \\\n") for name in m.group(1).split("|")]
    assert sorted(documented) == sorted(choices)


def test_linkgraph_job_pagerank_checkpoint_resume(spark, tmp_path, monkeypatch, capsys):
    pairs = [(i, (i * 3 + 1) % 40) for i in range(40)] + [(0, 1), (1, 2)]
    epath = _write_edges(spark, tmp_path, pairs)
    ckpt = str(tmp_path / "ckpt")
    out1 = str(tmp_path / "pr1")
    s1 = _run_job(
        monkeypatch, capsys,
        ["--op", "pagerank", "--edges", epath, "--checkpoint-dir", ckpt,
         "--max-supersteps", "8", "--tol", "-1", "-o", out1],
    )
    assert s1["op"] == "pagerank" and s1["rows"] > 0
    # resume from the committed checkpoint: converged output identical
    out2 = str(tmp_path / "pr2")
    s2 = _run_job(
        monkeypatch, capsys,
        ["--op", "pagerank", "--edges", epath, "--checkpoint-dir", ckpt,
         "--resume", "--max-supersteps", "8", "--tol", "-1", "-o", out2],
    )
    a = {r.vertex: r.rank for r in spark.read.parquet(out1).collect()}
    b = {r.vertex: r.rank for r in spark.read.parquet(out2).collect()}
    assert a.keys() == b.keys()
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12
    # metrics sink exists (Iceberg-substitute layout)
    import os

    assert os.path.exists(f"{ckpt}/pagerank/metrics.jsonl")


def test_linkgraph_job_components_and_triangles(spark, tmp_path, monkeypatch, capsys):
    tri = [(1, 2), (2, 3), (1, 3), (3, 4)]
    epath = _write_edges(spark, tmp_path, tri)
    cout = str(tmp_path / "cc")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "components", "--edges", epath, "-o", cout],
    )
    assert s["converged"] and s["rows"] == 4
    comps = {r.vertex for r in spark.read.parquet(cout).collect()}
    assert comps == {"1", "2", "3", "4"}

    tout = str(tmp_path / "tri")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "triangles", "--edges", epath, "-o", tout],
    )
    assert s["total_triangles"] == 1


def test_pyfiles_zip_importable(tmp_path):
    """The --py-files artifact must be importable via zipimport, exactly
    how spark executors consume it."""
    from tools.make_pyfiles_zip import build

    zpath = str(tmp_path / "smatchpp_spark.zip")
    n = build(zpath)
    assert n > 20
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import smatchpp_spark, smatchpp_spark.operators.pagerank, "
        "smatchpp_spark.pipeline.dedup; "
        "assert 'smatchpp_spark.zip' in smatchpp_spark.__file__; "
        "print('zip-import-ok')" % zpath
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert out.returncode == 0, out.stderr
    assert "zip-import-ok" in out.stdout


def test_linkgraph_job_bucketed_table_input(spark, tmp_path, monkeypatch, capsys):
    """--edges-table reads the bucketed catalog table (degrees on a
    bucketed-by-src table: the groupBy runs exchange-free, same rows)."""
    from smatchpp_spark.sources.bucketed import write_bucketed

    pairs = [(i % 10, (i * 3 + 1) % 25) for i in range(100)]
    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )
    write_bucketed(df, "t_job_edges", ["src"], n_buckets=4,
                   path=str(tmp_path / "bkt"))
    try:
        out = str(tmp_path / "deg")
        s = _run_job(
            monkeypatch, capsys,
            ["--op", "degrees", "--edges", "t_job_edges", "--edges-table",
             "-o", out],
        )
        assert s["rows"] == len({v for p in pairs for v in p})
    finally:
        spark.sql("DROP TABLE IF EXISTS t_job_edges")


def test_linkgraph_job_new_ops(spark, tmp_path, monkeypatch, capsys):
    """The r4 op additions drive end-to-end through the job surface:
    scc, hyperball (NF curve in the summary), clustering, linkpred."""
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (2, 5)]
    epath = _write_edges(spark, tmp_path, pairs)

    s = _run_job(
        monkeypatch, capsys,
        ["--op", "scc", "--edges", epath, "-o", str(tmp_path / "scc")],
    )
    assert s["converged"] and s["rows"] == 5
    comp = {r.vertex: r.scc for r in spark.read.parquet(str(tmp_path / "scc")).collect()}
    assert comp["1"] == comp["2"] == comp["3"] == "1"
    assert comp["4"] == comp["5"] == "4"

    s = _run_job(
        monkeypatch, capsys,
        ["--op", "hyperball", "--edges", epath, "-o", str(tmp_path / "hb")],
    )
    assert s["converged"] and s["rows"] == 5
    assert s["effective_diameter"] is not None
    assert [r for r, _ in s["nf_curve"]] == list(range(len(s["nf_curve"])))

    s = _run_job(
        monkeypatch, capsys,
        ["--op", "clustering", "--edges", epath, "-o", str(tmp_path / "cl")],
    )
    assert s["rows"] == 5

    s = _run_job(
        monkeypatch, capsys,
        ["--op", "linkpred", "--edges", epath, "--method", "common_neighbors",
         "--top-k", "3", "-o", str(tmp_path / "lp")],
    )
    assert 0 < s["rows"] <= 3

    s = _run_job(
        monkeypatch, capsys,
        ["--op", "walks", "--edges", epath, "--walk-length", "3",
         "--walks-per-vertex", "2", "-o", str(tmp_path / "wk")],
    )
    assert s["rows"] == 10  # 5 vertices x 2 walks


def test_linkgraph_job_walks_hub_salting_and_node2vec(
    spark, tmp_path, monkeypatch, capsys
):
    """--hub-threshold/--n-salts reach the salted neighbor-index build
    through the job surface (VERDICT r5: the salted path must not need
    library kwargs), and the node2vec op drives biased_random_walks.
    Every walk step must still follow a real edge."""
    pairs = [("h", f"n{i:03d}") for i in range(60)]
    pairs += [("a", "b"), ("b", "c"), ("c", "a")]
    path = str(tmp_path / "hub_edges")
    spark.createDataFrame(
        list(pairs), "src string, dst string"
    ).write.mode("overwrite").parquet(path)
    eset = set(pairs)

    out = str(tmp_path / "salted_wk")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "walks", "--edges", path, "--walk-length", "3",
         "--walks-per-vertex", "1", "--hub-threshold", "10",
         "--n-salts", "4", "-o", out],
    )
    assert s["rows"] == 64  # one walk per distinct src/dst vertex
    for w in spark.read.parquet(out).collect():
        for x, y in zip(w.path, w.path[1:]):
            assert (x, y) in eset, (w.walk_id, x, y)

    out2 = str(tmp_path / "n2v")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "node2vec", "--edges", path, "--walk-length", "3",
         "--walks-per-vertex", "1", "--p", "0.5", "--q", "2.0",
         "-o", out2],
    )
    assert s["rows"] == 64
    for w in spark.read.parquet(out2).collect():
        for x, y in zip(w.path, w.path[1:]):
            assert (x, y) in eset, (w.walk_id, x, y)


def test_linkgraph_job_betweenness(spark, tmp_path, monkeypatch, capsys):
    """--op betweenness drives the sampled-source Brandes operator
    through the job surface and matches the library result."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"),
             ("d", "e"), ("e", "f"), ("a", "f"), ("c", "g")]
    epath = _write_edges(spark, tmp_path, pairs)
    out = str(tmp_path / "btw")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "betweenness", "--edges", epath, "--sources", "a,c,e",
         "--max-supersteps", "10", "--undirected", "-o", out],
    )
    assert s["converged"] is True
    got = {r.vertex: r.betweenness
           for r in spark.read.parquet(out).collect()}
    from smatchpp_spark.operators.betweenness import betweenness_approx

    lib = betweenness_approx(
        spark.createDataFrame(pairs, "src string, dst string"),
        ["a", "c", "e"], max_depth=10, directed=False)
    want = {r.vertex: r.betweenness for r in lib.scores.collect()}
    assert got == want and len(got) > 0


def test_linkgraph_job_sssp_and_landmarks(spark, tmp_path, monkeypatch, capsys):
    """--op sssp forwards the weight column; --op landmarks defaults to
    the top-degree pick; both match the library results."""
    wpairs = [("a", "b", 10), ("a", "x", 1), ("x", "y", 1), ("y", "b", 1)]
    wpath = str(tmp_path / "wedges")
    spark.createDataFrame(
        wpairs, "src string, dst string, weight long"
    ).write.mode("overwrite").parquet(wpath)
    out = str(tmp_path / "sssp")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "sssp", "--edges", wpath, "--sources", "a",
         "--max-supersteps", "10", "-o", out],
    )
    assert s["converged"] is True
    got = {r.vertex: r.distance for r in spark.read.parquet(out).collect()}
    assert got == {"a": 0, "x": 1, "y": 2, "b": 3}

    pairs = [(a, b) for a, b, _ in wpairs] + [("h", "a"), ("h", "b"), ("h", "y")]
    epath = _write_edges(spark, tmp_path, pairs, name="ledges")
    out2 = str(tmp_path / "lmd")
    s2 = _run_job(
        monkeypatch, capsys,
        ["--op", "landmarks", "--edges", epath, "--n-landmarks", "1",
         "--max-supersteps", "5", "--undirected", "-o", out2],
    )
    assert s2["converged"] is True
    rows = spark.read.parquet(out2).collect()
    lms = {r.landmark for r in rows}
    from smatchpp_spark.operators.landmarks import pick_landmarks

    want_lm = pick_landmarks(
        spark.createDataFrame(pairs, "src string, dst string"),
        k=1, directed=False,
    ).collect()[0]["vertex"]
    assert lms == {want_lm}
    assert len(rows) > 0


def test_linkgraph_job_msf(spark, tmp_path, monkeypatch, capsys):
    """--op msf drives Boruvka through the job surface."""
    wpairs = [("a", "b", 5), ("b", "a", 2), ("b", "c", 1), ("x", "y", 7)]
    wpath = str(tmp_path / "msf_edges")
    spark.createDataFrame(
        wpairs, "src string, dst string, weight long"
    ).write.mode("overwrite").parquet(wpath)
    out = str(tmp_path / "msf")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "msf", "--edges", wpath, "-o", out],
    )
    assert s["converged"] is True
    assert s["n_edges"] == 3 and s["total_weight"] == 10.0
    got = sorted(
        (r.a, r.b, r.weight) for r in spark.read.parquet(out).collect()
    )
    assert got == [("a", "b", 2), ("b", "c", 1), ("x", "y", 7)]


def test_linkgraph_job_ktruss(spark, tmp_path, monkeypatch, capsys):
    """--op ktruss peels through the job surface."""
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d"), ("d", "e")]
    epath = _write_edges(spark, tmp_path, k4, name="truss_edges")
    out = str(tmp_path / "truss")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "ktruss", "--edges", epath, "--k", "4", "-o", out],
    )
    assert s["converged"] is True
    got = sorted((r.a, r.b) for r in spark.read.parquet(out).collect())
    assert got == [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                   ("b", "d"), ("c", "d")]


def test_linkgraph_job_pagerank_incremental(spark, tmp_path, monkeypatch, capsys):
    old_pairs = [(i, (i * 3 + 1) % 20) for i in range(20)]
    old_pairs = [(a, b) for a, b in old_pairs if a != b]
    new_pairs = old_pairs + [(0, 10), (10, 3)]
    e_old = _write_edges(spark, tmp_path, old_pairs, name="e_old")
    e_new = _write_edges(spark, tmp_path, new_pairs, name="e_new")

    warm = str(tmp_path / "warm")
    _run_job(
        monkeypatch, capsys,
        ["--op", "pagerank", "--edges", e_old, "--max-supersteps", "100",
         "--tol", "1e-13", "-o", warm],
    )
    inc_out = str(tmp_path / "inc")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "pagerank_incremental", "--edges", e_new,
         "--warm-ranks", warm, "--max-supersteps", "200",
         "--tol", "1e-12", "-o", inc_out],
    )
    assert s["converged"]
    full_out = str(tmp_path / "full")
    _run_job(
        monkeypatch, capsys,
        ["--op", "pagerank", "--edges", e_new, "--max-supersteps", "200",
         "--tol", "1e-13", "-o", full_out],
    )
    a = {r.vertex: r.rank for r in spark.read.parquet(inc_out).collect()}
    b = {r.vertex: r.rank for r in spark.read.parquet(full_out).collect()}
    assert a.keys() == b.keys()
    assert max(abs(a[v] - b[v]) for v in a) < 1e-9


def test_linkgraph_job_pathalgebra(spark, tmp_path, monkeypatch, capsys):
    # diamond s->a->t (bottleneck 3) vs s->b->t (bottleneck 4)
    path = str(tmp_path / "wedges2")
    spark.createDataFrame(
        [("s", "a", 3), ("a", "t", 9), ("s", "b", 7), ("b", "t", 4)],
        "src string, dst string, weight long",
    ).write.mode("overwrite").parquet(path)
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "widest_path", "--edges", path, "--sources", "s",
         "--max-supersteps", "10", "-o", str(tmp_path / "wp")],
    )
    assert s["converged"]
    caps = {r.vertex: r.capacity
            for r in spark.read.parquet(str(tmp_path / "wp")).collect()}
    assert caps["t"] == 4 and caps["a"] == 3 and caps["b"] == 7

    ppath = str(tmp_path / "pedges")
    spark.createDataFrame(
        [("s", "a", 0.9), ("a", "t", 0.9), ("s", "t", 0.5)],
        "src string, dst string, weight double",
    ).write.mode("overwrite").parquet(ppath)
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "reliable_path", "--edges", ppath, "--sources", "s",
         "--max-supersteps", "10", "-o", str(tmp_path / "rp")],
    )
    rel = {r.vertex: r.reliability
           for r in spark.read.parquet(str(tmp_path / "rp")).collect()}
    assert rel["t"] == 0.9 * 0.9  # two-hop beats the direct 0.5 edge


def test_linkgraph_job_graph_diff(spark, tmp_path, monkeypatch, capsys):
    e_old = _write_edges(spark, tmp_path, [(1, 2), (2, 3)], name="gd_old")
    e_new = _write_edges(spark, tmp_path, [(1, 2), (3, 4)], name="gd_new")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "graph_diff", "--edges", e_new, "--edges-old", e_old,
         "-o", str(tmp_path / "gd")],
    )
    assert (s["n_added"], s["n_removed"], s["n_kept"]) == (1, 1, 1)
    v = {r.vertex: r.churn
         for r in spark.read.parquet(str(tmp_path / "gd")).collect()}
    assert v["4"] == 1 and v["1"] == 0


def test_linkgraph_job_cc_incremental(spark, tmp_path, monkeypatch, capsys):
    old_pairs = [(1, 2), (3, 4)]
    new_pairs = old_pairs + [(2, 3)]
    e_old = _write_edges(spark, tmp_path, old_pairs, name="cci_old")
    e_new = _write_edges(spark, tmp_path, new_pairs, name="cci_new")
    warm = str(tmp_path / "cci_warm")
    _run_job(
        monkeypatch, capsys,
        ["--op", "components", "--edges", e_old, "-o", warm],
    )
    out = str(tmp_path / "cci")
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "cc_incremental", "--edges", e_new, "--warm-ranks", warm,
         "--edges-old", e_old, "-o", out],
    )
    assert s["converged"]
    comp = {r.vertex: r.component
            for r in spark.read.parquet(out).collect()}
    assert set(comp.values()) == {"1"}  # the bridge merges everything


def test_linkgraph_job_round7_late_ops(spark, tmp_path, monkeypatch, capsys):
    pairs = [(i, (i * 3 + 1) % 40) for i in range(40)] + [(0, 1), (1, 2)]
    epath = _write_edges(spark, tmp_path, pairs)

    o_pr = str(tmp_path / "prj")
    _run_job(
        monkeypatch, capsys,
        ["--op", "pagerank", "--edges", epath,
         "--max-supersteps", "6", "--tol", "-1", "-o", o_pr],
    )
    a = {r.vertex: r.rank for r in spark.read.parquet(o_pr).collect()}

    # encode smoke through the CLI
    o_enc = str(tmp_path / "enc")
    s = _run_job(monkeypatch, capsys,
                 ["--op", "encode", "--edges", epath, "-o", o_enc])
    vids = sorted(r.vid for r in spark.read.parquet(o_enc).collect())
    assert vids == list(range(len(a)))


def test_linkgraph_job_percolation_sparsify(spark, tmp_path, monkeypatch, capsys):
    tri2 = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    epath = _write_edges(spark, tmp_path, tri2)
    s = _run_job(
        monkeypatch, capsys,
        ["--op", "sparsify", "--edges", epath, "--exponent", "0.5",
         "-o", str(tmp_path / "sp")],
    )
    kept = {(r.a, r.b) for r in spark.read.parquet(str(tmp_path / "sp")).collect()}
    assert ("3", "4") not in kept  # the zero-support bridge drops

    s = _run_job(
        monkeypatch, capsys,
        ["--op", "embeddedness", "--edges", epath,
         "-o", str(tmp_path / "emb")],
    )
    assert s["rows"] == len(tri2)
