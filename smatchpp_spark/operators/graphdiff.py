"""Graph snapshot diff — the audit operator for evolving link graphs.

The companion to incremental computation (operators/incremental.py,
jobs/daily_update.py): given two snapshots of an edge table (yesterday's
crawl, today's crawl), classify every distinct edge as added / removed
/ kept and aggregate per-vertex degree churn.  This is what decides
whether a delta is small enough for a warm-started recompute, and
what a crawl-health dashboard aggregates.

Scale shape at 100 TB: one distinct per side + one full-outer join on
the edge key + two map-side-combined degree aggregations — no
iteration, no driver state.  All outputs are exact integers, so the
DuckDB oracle compares exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class GraphDiffResult:
    edges: DataFrame  # (src, dst, status ∈ {added, removed, kept})
    vertices: DataFrame  # per-vertex degree deltas + churn
    n_added: int
    n_removed: int
    n_kept: int


def graph_diff(edges_old: DataFrame, edges_new: DataFrame) -> GraphDiffResult:
    """Diff two directed edge snapshots on their DISTINCT (src, dst)
    pairs (multiplicity is a storage artifact, not graph structure).
    ``vertices`` has one row per vertex present in either snapshot:
    (vertex, out_old, out_new, in_old, in_new, churn) with churn =
    |Δout| + |Δin| — 0 means the vertex's incident structure is
    unchanged."""
    old = edges_old.select("src", "dst").distinct()
    new = edges_new.select("src", "dst").distinct()
    status = (
        old.withColumn("o", F.lit(1))
        .join(new.withColumn("n", F.lit(1)), ["src", "dst"], "full_outer")
        .select(
            "src",
            "dst",
            F.when(F.col("o").isNull(), F.lit("added"))
            .when(F.col("n").isNull(), F.lit("removed"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
        .localCheckpoint(eager=True)
    )
    counts = {
        r["status"]: r["c"]
        for r in status.groupBy("status")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }

    def _degs(e: DataFrame, tag: str) -> DataFrame:
        return (
            e.select(F.col("src").alias("vertex"), F.lit(1).alias("o"),
                     F.lit(0).alias("i"))
            .unionByName(
                e.select(F.col("dst").alias("vertex"), F.lit(0).alias("o"),
                         F.lit(1).alias("i"))
            )
            .groupBy("vertex")
            .agg(
                F.sum("o").alias(f"out_{tag}"), F.sum("i").alias(f"in_{tag}")
            )
        )

    vertices = (
        _degs(old, "old")
        .join(_degs(new, "new"), "vertex", "full_outer")
        .select(
            "vertex",
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("out_old", "out_new", "in_old", "in_new")
            ],
        )
        .withColumn(
            "churn",
            F.abs(F.col("out_new") - F.col("out_old"))
            + F.abs(F.col("in_new") - F.col("in_old")),
        )
    )
    return GraphDiffResult(
        edges=status,
        vertices=vertices,
        n_added=int(counts.get("added", 0)),
        n_removed=int(counts.get("removed", 0)),
        n_kept=int(counts.get("kept", 0)),
    )
