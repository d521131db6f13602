"""Degree tables — the cornerstone of triangle counting, skew handling and
the reentrancy operator.

Reference semantics: ``util.n_incoming``/``n_outgoing``
(smatchpp/util.py:107-138) count *every* edge into/out of a node; the
reentrancy subgraph (smatchpp/subgraph_extraction.py:60-74) keeps
non-instance triples whose target is a variable with in-degree > 1.

Scale notes: ``degrees`` computes in- and out-degree in ONE shuffle (a
union of the two endpoint projections followed by a single partial+final
aggregation).  At web scale the aggregation is map-side combined by
Catalyst, so hub vertices cost one row per partition, not one per edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.operators.standardize import per_graph
from smatchpp_spark.operators.subgraphs import reentrancy_rows


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    return edges.groupBy(F.col(src).alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def in_degrees(edges: DataFrame, dst: str = "dst") -> DataFrame:
    return edges.groupBy(F.col(dst).alias("vertex")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(vertex, in_deg, out_deg) in a single shuffle via endpoint union."""
    ends = edges.select(
        F.col(src).alias("vertex"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionByName(
        edges.select(F.col(dst).alias("vertex"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    )
    return ends.groupBy("vertex").agg(
        F.sum("i").alias("in_deg"), F.sum("o").alias("out_deg")
    )


def graph_degrees(edges: DataFrame) -> DataFrame:
    """Per-graph node degrees for the smatchpp edge table
    (graph_id, src, rel, dst): every edge counts, instance edges included
    (util.py:107-138 counts all triples)."""
    ends = edges.select(
        "graph_id", F.col("src").alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionByName(
        edges.select(
            "graph_id", F.col("dst").alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i")
        )
    )
    return ends.groupBy("graph_id", "node").agg(
        F.sum("i").alias("in_deg"), F.sum("o").alias("out_deg")
    )


def reentrancies(edges: DataFrame) -> DataFrame:
    """Non-instance triples whose target is a variable with in-degree > 1
    (``subgraphs.reentrancy_rows``): one shuffle on graph_id."""
    return per_graph(edges, reentrancy_rows)
