"""Multi-source BFS distances over the edge table.

Hop distance from a seed set — the crawl-depth / influence-radius
primitive of web-graph work; the per-graph k-hop context of aspect
extraction is the same frontier rule inside one graph
(``subgraphs.aspect_subgraphs``).  Beyond the reference's operator set,
same contract style.

Frontier algorithm: only the wave discovered in round r expands in round
r+1; discovered vertices never re-expand.  Per round that costs one join
(frontier ⋈ edges) plus one anti-join (drop already-reached) — the
frontier is the small side at every depth on power-law graphs, so the
big edge table is the only stable shuffle input and can be bucketed
(sources/bucketed.py) to drop even that.  Rounds are staged with
localCheckpoint so lineage stays flat at high depth.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.operators.supersteps import (
    SuperstepRunner,
    observed_row_count_delta,
)


@dataclass
class BFSResult:
    distances: DataFrame  # (vertex, distance long) — reached vertices only
    rounds: int
    converged: bool  # frontier exhausted before max_depth


def bfs_distances(
    edges: DataFrame,
    sources: "list | DataFrame",
    max_depth: int = 20,
    directed: bool = True,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> BFSResult:
    """Hop distances from ``sources`` (list of ids or a DataFrame whose
    first column is the vertex id).  Seeds not present in the graph are
    ignored; unreached vertices are absent from the output (callers that
    want ∞ rows left-join against the vertex table).

    Runs through SuperstepRunner: the reached table (vertex, distance)
    IS the superstep state — the round-r frontier is derivable as the
    ``distance == r-1`` slice, so checkpoint/resume needs no second
    table; metrics + per-partition lineage follow the same contract as
    the other iterative operators."""
    spark = edges.sparkSession
    step_edges = edges.select("src", "dst")
    if not directed:
        step_edges = step_edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    step_edges = step_edges.persist()

    vertices = (
        step_edges.select(F.col("src").alias("vertex"))
        .unionByName(step_edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    if isinstance(sources, DataFrame):
        seed = sources.select(
            F.col(sources.columns[0]).alias("vertex")
        ).distinct()
        frontier = vertices.join(seed, "vertex", "left_semi")
    else:
        frontier = vertices.filter(F.col("vertex").isin(list(sources)))
    init = frontier.withColumn("distance", F.lit(0).cast("long"))

    def step(state: DataFrame, r: int) -> DataFrame:
        wave = state.filter(F.col("distance") == r - 1).select("vertex")
        nxt = (
            wave.join(step_edges, wave["vertex"] == step_edges["src"])
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(state, "vertex", "left_anti")
        )
        return attach(
            state,
            state.unionByName(
                nxt.withColumn("distance", F.lit(r).cast("long"))
            ),
        )

    # reached rows only grow; the count of the new state is observed
    # inside the materialization job, so each depth runs ZERO extra jobs
    # (previously one memoized count job per depth)
    attach = observed_row_count_delta(sign=-1)
    delta = None

    runner = SuperstepRunner(
        spark,
        op="bfs",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=max_depth,
        tol=0.0,
    )
    res = runner.run(init, step, delta, resume=resume)
    step_edges.unpersist()
    return BFSResult(
        distances=res.state, rounds=res.supersteps, converged=res.converged
    )


def double_sweep_diameter(
    edges: DataFrame,
    start: str | int | None = None,
    max_depth: int = 30,
    directed: bool = False,
) -> DataFrame:
    """Double-sweep diameter LOWER bound (Magnien-Latapy-Habib 2009,
    public): BFS from a start vertex, then BFS from the farthest vertex
    found — the second eccentricity lower-bounds the true diameter
    (exact on trees; empirically tight on web-like graphs).  The upper
    companion is HyperBall's effective diameter (hyperball.py).

    ``start`` defaults to the minimum vertex id (deterministic).
    Tie-break at both sweeps: (distance desc, vertex asc).  Returns ONE
    row: (start_vertex, far_vertex, diameter_lower_bound, converged) —
    converged false means a sweep hit ``max_depth`` and the bound may
    be short.  Cost: exactly two multi-source-BFS runs + two 1-row
    argmax aggregations; nothing new shuffles beyond bfs_distances.
    """
    spark = edges.sparkSession
    if start is None:
        vertices = (
            edges.select(F.col("src").alias("v"))
            .unionByName(edges.select(F.col("dst").alias("v")))
        )
        start = vertices.agg(F.min("v")).collect()[0][0]
    r1 = bfs_distances(edges, [start], max_depth=max_depth, directed=directed)
    far = (
        r1.distances.orderBy(F.col("distance").desc(), F.col("vertex").asc())
        .limit(1)
        .collect()[0]["vertex"]
    )
    r2 = bfs_distances(edges, [far], max_depth=max_depth, directed=directed)
    ecc = (
        r2.distances.orderBy(F.col("distance").desc(), F.col("vertex").asc())
        .limit(1)
        .collect()[0]["distance"]
    )
    return spark.createDataFrame(
        [(str(start), str(far), int(ecc), bool(r1.converged and r2.converged))],
        "start_vertex string, far_vertex string, "
        "diameter_lower_bound long, converged boolean",
    )
