"""DuckDB oracle gate for the core link-graph operators: each named
``__spark_entry__.queries()`` entry runs on the session Spark fixture and
must equal its ``oracle_sql()`` replay row for row (columns sorted by
name, floats rounded to 9 dp — the same comparison as
tools/check_contract.py, whose ``normalize`` is reused here).

Runs on the parquet tables under the ``sf_dir`` fixture
(``SPARK_GRAFT_TEST_SF_DIR``); skips when they are absent."""

from __future__ import annotations

import importlib.util
import os

import pytest

duckdb = pytest.importorskip("duckdb")

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
_spec = importlib.util.spec_from_file_location(
    "check_contract", os.path.join(_TOOLS, "check_contract.py")
)
check_contract = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_contract)

QUERIES = [
    "pagerank_fixed",
    "pagerank_incremental",
    "connected_components",
    "cc_incremental",
    "label_propagation",
    "triangle_counts",
    "graph_snapshot_diff",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    if not all(
        os.path.exists(f"{sf_dir}/{t}.parquet") for t in check_contract.TABLES
    ):
        pytest.skip(f"contract tables not found under {sf_dir}")
    con = duckdb.connect()
    for t in check_contract.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__

    return __spark_entry__.queries(), __spark_entry__.oracle_sql()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_duckdb_oracle(spark, sf_dir, duck, contract, name):
    queries, oracles = contract
    sdf = queries[name](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = duck.execute(oracles[name])
    dcols, drows = [c[0] for c in res.description], res.fetchall()

    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert srows, f"{name}: empty result proves nothing"
    got = check_contract.normalize(srows, scols)
    want = check_contract.normalize(drows, dcols)
    diffs = [(a, b) for a, b in zip(got, want) if a != b]
    assert not diffs, f"{name}: {len(diffs)} of {len(got)} rows differ; first {diffs[0]}"
