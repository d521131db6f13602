"""Contract gate for the scoring path and the core link-graph operators:
each named ``__spark_entry__.queries()`` entry runs on the session Spark
fixture and must equal its ``oracle_sql()`` replay in DuckDB row for row
(columns sorted by name, floats rounded to 9 dp — the same comparison as
tools/check_contract.py, whose ``normalize`` is reused here). The two
full parse → standardize → align → score queries have no SQL oracle;
their rows must hash to the archived ``tools/golden_hashes.json`` entry
for the scale factor, as in tools/check_contract.py.

The oracle cases run on the parquet tables under the ``sf_dir`` fixture
(``SPARK_GRAFT_TEST_SF_DIR``) and skip when they are absent; the golden
cases generate their own corpora and skip when no hash is archived for
the ``sf_dir`` scale."""

from __future__ import annotations

import importlib.util
import json
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
    "relabel_vars",
    "concept_as_root",
    "dereify_triples",
    "reify_attributes",
    "reify_edges",
    "micro_macro_scores",
    "pairwise_scores",
    "pagerank_fixed",
    "pagerank_incremental",
    "connected_components",
    "cc_incremental",
    "label_propagation",
    "triangle_counts",
    "graph_snapshot_diff",
]

GOLDEN_QUERIES = ["amr_standardize_sizes", "smatch_micro_macro"]


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


@pytest.mark.parametrize("name", GOLDEN_QUERIES)
def test_query_matches_golden_hash(spark, sf_dir, contract, name):
    queries, oracles = contract
    assert name not in oracles
    sf_key = os.path.basename(sf_dir.rstrip("/"))
    with open(check_contract.GOLDEN_PATH) as fh:
        gold = json.load(fh).get(name, {}).get(sf_key)
    if gold is None:
        pytest.skip(f"no golden hash for {name} at {sf_key}")
    sdf = queries[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    assert srows, f"{name}: empty result proves nothing"
    assert check_contract._rows_hash(srows, sdf.columns) == gold


def test_contract_keys_are_consistent(contract):
    """The three key sets of the contract agree: every ``oracle_sql()``
    entry names a query, only the golden-hash queries lack an oracle, and
    every ``_DRIVER_WINDOW_FRONT`` name is a query. tools/check_contract.py
    counts a query without an oracle as a rows-only pass, and ``queries()``
    drops unknown front names silently, so neither notices a half-deleted
    entry. No Spark session starts."""
    import __spark_entry__

    queries, oracles = contract
    assert sorted(set(oracles) - set(queries)) == []
    assert sorted(set(queries) - set(oracles)) == sorted(GOLDEN_QUERIES)
    assert sorted(set(__spark_entry__._DRIVER_WINDOW_FRONT) - set(queries)) == []
