"""Incremental recompute on graph deltas — PageRank and connected
components updated from a previous snapshot's answers instead of from
scratch.

PageRank: ``pagerank_incremental`` is ``pagerank(edges, init=old_ranks)``
— plain power iteration warm-started from the old graph's fixpoint
(operators/pagerank.py, the engine's one PageRank).  Ranks of vertices
absent from the new graph are dropped; new vertices start at 0.0.  The
fixpoint is unique, so the warm start changes the round count —
``log(‖δ₀‖₁/tol)/log(1/α)`` instead of ``log(1/tol)/log(1/α)`` from
scratch — never the answer.

Convergence: ``‖δ_k‖₁ ≤ tol`` with ``δ_k`` the round-k rank change (a
cold ``pagerank`` stops on ``max |δ_k| ≤ tol`` instead) — the
truncation error of the summed tail is bounded by
``‖δ_k‖₁·α/(1−α)``, reported as ``delta_l1``.  A fixed
``max_supersteps`` with ``tol=-1`` runs the deterministic truncated form
the DuckDB oracle replays.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.operators.pagerank import pagerank
from smatchpp_spark.operators.supersteps import SuperstepRunner


@dataclass
class IncrementalPageRankResult:
    ranks: DataFrame  # (vertex, rank) on the NEW graph
    delta_l1: float  # ‖δ‖₁ of the last round (tail bound × α/(1−α))
    supersteps: int
    converged: bool
    metrics: list


def pagerank_incremental(
    edges: DataFrame,
    old_ranks: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    num_partitions: int | None = None,
    input_lineage: str = "",
) -> IncrementalPageRankResult:
    """PageRank of the (new) graph ``edges`` starting from ``old_ranks``
    (columns: vertex, rank — extra columns ignored).  Semantics match
    ``pagerank(edges, alpha=alpha)`` exactly at convergence."""
    res = pagerank(
        edges,
        alpha=alpha,
        tol=tol,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        num_partitions=num_partitions,
        input_lineage=input_lineage,
        init=old_ranks,
    )
    return IncrementalPageRankResult(
        ranks=res.ranks,
        delta_l1=float(res.metrics[-1]["delta"]) if res.metrics else 0.0,
        supersteps=res.supersteps,
        converged=res.converged,
        metrics=res.metrics,
    )


@dataclass
class IncrementalCCResult:
    components: DataFrame  # (vertex, component) on the NEW graph
    supersteps: int
    converged: bool
    metrics: list


def cc_incremental(
    edges: DataFrame,
    old_labels: DataFrame,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    num_partitions: int | None = None,
    edges_old: DataFrame | None = None,
) -> IncrementalCCResult:
    """Hash-min connected components of the (new) graph ``edges``
    warm-started from ``old_labels`` (vertex, component) — sound for
    EDGE ADDITIONS ONLY.

    Why the warm start is exact under additions: every old label is
    itself a vertex of its component, and new edges only MERGE
    components, so the min over a merged component of the warm labels
    equals the min vertex id — the same fixpoint a cold run reaches.
    Convergence cost drops from the graph diameter to the diameter of
    the MERGE pattern (labels are already correct inside each old
    component).

    Removals can SPLIT components and leave a stale too-small label
    with no witness path — silently wrong.  Pass ``edges_old`` to have
    that precondition CHECKED (one distinct anti-join count, the
    graph_diff classification); omitting it asserts additions-only on
    the caller's authority (documented, like sssp's
    ``check_nonnegative=False``)."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if edges_old is not None:
        removed = (
            edges_old.select("src", "dst")
            .distinct()
            .join(edges.select("src", "dst").distinct(),
                  ["src", "dst"], "left_anti")
            .count()
        )
        if removed:
            raise ValueError(
                f"cc_incremental: {removed} edges were REMOVED between "
                "snapshots; removals can split components, so the warm "
                "start is unsound — run connected_components from scratch."
            )
    undirected = (
        edges.select(F.col("src").alias("vertex"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select(
                F.col("dst").alias("vertex"), F.col("src").alias("nbr")
            )
        )
        .repartition(num_partitions, "nbr")
        .dropDuplicates(["vertex", "nbr"])
        .sortWithinPartitions("nbr")
        .persist()
    )
    n_msgs = undirected.count()
    warm = old_labels.select(
        "vertex", F.col("component").alias("old_component")
    )
    init = (
        undirected.select("vertex")
        .distinct()
        .join(warm, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("old_component", "vertex").alias("component"),
        )
    )

    def step(state: DataFrame, k: int):
        # tagged-union prev + observed changed-count, same shape as
        # components.connected_components: the aggregation emits both
        # the new component and the previous one, so convergence is a
        # free Observation on the materialization job instead of an
        # old⋈new join + count job per superstep
        from pyspark.sql import Observation

        msgs = (
            state.select(F.col("vertex").alias("nbr"), "component")
            .hint("merge")
            .join(undirected, "nbr")
            .select("vertex", "component", F.lit(False).alias("_own"))
        )
        tagged = msgs.unionByName(
            state.select("vertex", "component", F.lit(True).alias("_own"))
        )
        new_state = tagged.groupBy("vertex").agg(
            F.min("component").alias("component"),
            F.min(F.when(F.col("_own"), F.col("component"))).alias("_prev"),
        )
        obs = Observation()
        new_state = new_state.observe(
            obs,
            F.sum(
                (F.col("component") != F.col("_prev")).cast("long")
            ).alias("delta"),
        )
        return new_state, obs, (lambda m: float(m["delta"] or 0))

    runner = SuperstepRunner(
        spark,
        op="cc_incremental",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=max_supersteps,
        tol=0.0,
    )
    res = runner.run(
        init,
        step,
        None,
        edges_processed_per_step=n_msgs,
        resume=resume,
    )
    undirected.unpersist()
    return IncrementalCCResult(
        components=res.state.select("vertex", "component"),
        supersteps=res.supersteps,
        converged=res.converged,
        metrics=res.metrics,
    )
