"""Streaming PageRank over an edge stream — micro-batch graph deltas
folded into ranks via the incremental operator (operators/incremental.py).

The composition Structured Streaming is actually good at for global
graph state: per micro-batch, ``foreachBatch`` (exactly-once per
``batch_id`` under the SS checkpoint) appends the batch's edges to a
batch-id-keyed accumulator and recomputes ranks on the graph-so-far
with ``pagerank_incremental``, warm-started from the previous batch's
ranks — so each micro-batch pays power-iteration rounds proportional to
how much the new edges actually perturb the ranking (rounds ∝
log(‖δ₀‖₁/tol)), not a from-scratch run.

Crash semantics: BOTH sinks are keyed by ``batch_id`` and overwritten
on replay (edges under ``edges/batch=<id>``, ranks under
``ranks/batch=<id>`` with a ``_SUCCESS`` marker from Spark's committed
parquet write), so a retried batch is idempotent — the accumulated edge
set never double-counts and ``latest_ranks`` only reads committed
batches.  This is the Iceberg-sink layout of the batch operators
(operators/supersteps.py) applied to a stream.

Scale shape: the accumulated edge table is the same static side the
batch operator builds; at 10^12 edges the per-batch rebuild of the
contribution table is the dominated cost and would move to an
incremental (appended-partition) build — documented here, not hidden:
the warm start cuts the rounds, but every round and the contrib build
still pass over the whole accumulated edge set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _edges_root(work_dir: str) -> str:
    return os.path.join(work_dir, "edges")


def _ranks_root(work_dir: str) -> str:
    return os.path.join(work_dir, "ranks")


def latest_ranks(spark: SparkSession, work_dir: str) -> DataFrame | None:
    """The committed (vertex, rank) table of the newest processed
    micro-batch, or None before the first batch commits."""
    root = _ranks_root(work_dir)
    if not os.path.isdir(root):
        return None
    batches = [
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("batch=")
        and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    ]
    if not batches:
        return None
    return spark.read.parquet(os.path.join(root, f"batch={max(batches)}"))


def stream_pagerank_incremental(
    edge_stream: DataFrame,
    work_dir: str,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_supersteps: int = 100,
):
    """``foreachBatch`` sink function for a streaming (src, dst) frame:
    pass to ``edge_stream.writeStream.foreachBatch(...)``.  Returns the
    configured writer for convenience:

        q = stream_pagerank_incremental(stream, dir).start()

    Ranks after batch k = pagerank of ALL edges of batches 0..k (the
    batch operator's exact semantics at convergence), warm-started from
    batch k−1's ranks."""
    from smatchpp_spark.operators.incremental import pagerank_incremental

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.select("src", "dst").write.mode("overwrite").parquet(
            os.path.join(_edges_root(work_dir), f"batch={batch_id}")
        )
        edges = spark.read.parquet(
            os.path.join(_edges_root(work_dir), "batch=*")
        )
        warm = latest_ranks(spark, work_dir)
        if warm is None:
            warm = spark.createDataFrame([], "vertex string, rank double")
        res = pagerank_incremental(
            edges,
            warm,
            alpha=alpha,
            tol=tol,
            max_supersteps=max_supersteps,
        )
        res.ranks.write.mode("overwrite").parquet(
            os.path.join(_ranks_root(work_dir), f"batch={batch_id}")
        )

    return (
        edge_stream.writeStream.foreachBatch(_process)
        .option(
            "checkpointLocation", os.path.join(work_dir, "ss_checkpoint")
        )
        .outputMode("update")
    )
