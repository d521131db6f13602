"""Landmark-based shortest-path distance estimation.

The classic web-graph distance oracle (Potamias et al. 2009, public):
pick a small set of high-degree *landmark* vertices, run one BFS per
landmark, and answer point-to-point distance queries with the triangle
upper bound ``d(u,v) <= min_l d(u,l) + d(l,v)`` — exact when some
shortest path passes through a landmark, an upper bound otherwise.
Beyond the reference's operator set, same contract style as bfs.py.

Scale shape at 100 TB: the per-landmark BFS runs as ONE superstep state
keyed ``(landmark, vertex)`` — k landmarks ride the same frontier
expansion (one frontier ⋈ edges join + one anti-join per depth), so the
edge table is scanned once per round regardless of k, and the state is
``k·V`` rows with k a small constant (4-32).  Query answering is two
equi-joins of the query pairs against the distance table on the vertex
key plus a co-landmark groupBy — no all-pairs computation anywhere.
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
class LandmarkResult:
    distances: DataFrame  # (landmark, vertex, distance long) — reached only
    rounds: int
    converged: bool


def _undirect(edges: DataFrame, directed: bool) -> DataFrame:
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return e


def pick_landmarks(edges: DataFrame, k: int = 4, directed: bool = False) -> DataFrame:
    """Top-``k`` vertices by degree (the standard landmark heuristic —
    high-degree vertices lie on many shortest paths).  Degree is counted
    on the DISTINCT (un)directed edge set; ties break on vertex id
    ascending, so the pick is deterministic and oracle-replayable.
    Output: ``(vertex)``, at most k rows — always driver-broadcastable.
    """
    ue = _undirect(edges, directed).distinct()
    return (
        ue.groupBy(F.col("src").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("vertex").asc())
        .limit(k)
        .select("vertex")
    )


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame | list,
    max_depth: int = 6,
    directed: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> LandmarkResult:
    """Hop distance from every landmark to every reachable vertex, all
    landmarks in one superstep state (module doc).  ``landmarks`` is a
    DataFrame whose first column is the vertex id, or a list of ids;
    landmarks absent from the graph are dropped.  Unreached
    ``(landmark, vertex)`` combinations are absent from the output.
    """
    spark = edges.sparkSession
    step_edges = _undirect(edges, directed).persist()
    vertices = (
        step_edges.select(F.col("src").alias("vertex"))
        .unionByName(step_edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    if isinstance(landmarks, DataFrame):
        lm = landmarks.select(
            F.col(landmarks.columns[0]).alias("vertex")
        ).distinct()
    else:
        lm = vertices.filter(F.col("vertex").isin(list(landmarks)))
    init = (
        vertices.join(lm, "vertex", "left_semi")
        .select(
            F.col("vertex").alias("landmark"),
            F.col("vertex"),
            F.lit(0).cast("long").alias("distance"),
        )
    )

    def step(state: DataFrame, r: int) -> DataFrame:
        wave = state.filter(F.col("distance") == r - 1).select(
            "landmark", "vertex"
        )
        nxt = (
            wave.join(step_edges, wave["vertex"] == step_edges["src"])
            .select("landmark", F.col("dst").alias("vertex"))
            .distinct()
            .join(state, ["landmark", "vertex"], "left_anti")
        )
        return attach(
            state,
            state.unionByName(
                nxt.withColumn("distance", F.lit(r).cast("long"))
            ),
        )

    # reached rows only grow; the new state's count is observed inside
    # the materialization job (zero extra jobs per depth)
    attach = observed_row_count_delta(sign=-1)

    runner = SuperstepRunner(
        spark,
        op="landmark_bfs",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=max_depth,
        tol=0.0,
    )
    res = runner.run(init, step, None, resume=resume)
    step_edges.unpersist()
    return LandmarkResult(
        distances=res.state, rounds=res.supersteps, converged=res.converged
    )


def landmark_distances_packed(
    edges: DataFrame,
    landmarks: DataFrame | list,
    max_depth: int = 6,
    directed: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> LandmarkResult:
    """``landmark_distances`` with the per-vertex ARRAY state: one state
    row per vertex carrying a k-slot distance array (slot i = distance
    to landmark i), instead of one row per (landmark, vertex).

    Use this once k grows: the superstep join width drops from k·V rows
    to V rows — the edge table is joined against a V-row frontier whose
    landmark dimension rides as a payload array, and the per-element
    ``min`` aggregation is k independent map-side-combinable aggregates
    in one shuffle (k is a small literal, 4-64, so the expressions stay
    whole-stage-codegen'd).  Landmark ids are driver-collected (≤ k
    rows by contract) and shipped as plan literals to fix the slot
    order deterministically.

    Correctness note: the per-slot relaxation ``min over in-neighbors
    (d+1)`` sets each slot EXACTLY ONCE at its true BFS depth (induction
    from the landmark seeds: every non-null slot value is exact, so
    candidates are ≥ the true distance and the shortest-path
    predecessor's exact value arrives at depth d), so ``changed`` =
    "any slot newly set" and rounds past the fixpoint are no-ops —
    the same oracle-replay contract as the keyed variant.  Output is
    unpacked to the identical (landmark, vertex, distance) table, so
    ``estimate_distances`` and the driver oracle are shared.
    """
    spark = edges.sparkSession
    step_edges = _undirect(edges, directed).persist()
    vertices = (
        step_edges.select(F.col("src").alias("vertex"))
        .unionByName(step_edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    if isinstance(landmarks, DataFrame):
        lm_df = landmarks.select(
            F.col(landmarks.columns[0]).alias("vertex")
        ).distinct()
    else:
        lm_df = vertices.filter(F.col("vertex").isin(list(landmarks)))
    lms = sorted(
        r["vertex"]
        for r in vertices.join(lm_df, "vertex", "left_semi").collect()
    )
    k = len(lms)
    if k == 0:
        empty = spark.createDataFrame(
            [], "landmark string, vertex string, distance long"
        )
        step_edges.unpersist()
        return LandmarkResult(distances=empty, rounds=0, converged=True)
    null_slot = F.lit(None).cast("long")

    init = lm_df.join(vertices, "vertex", "left_semi").select(
        "vertex",
        F.array(
            *[
                F.when(F.col("vertex") == F.lit(l), F.lit(0).cast("long")).otherwise(
                    null_slot
                )
                for l in lms
            ]
        ).alias("dists"),
        F.lit(True).alias("changed"),
    )

    def step(state: DataFrame, _r: int) -> DataFrame:
        wave = state.filter(F.col("changed")).select("vertex", "dists")
        msgs = wave.join(
            step_edges, wave["vertex"] == step_edges["src"]
        ).select(F.col("dst").alias("vertex"), "dists")
        # k independent per-slot mins in ONE shuffle, all map-side
        # combinable; +1 after the agg (null + 1 stays null)
        cand = msgs.groupBy("vertex").agg(
            F.array(
                *[
                    (F.min(F.element_at(F.col("dists"), i + 1)) + 1).alias(f"_{i}")
                    for i in range(k)
                ]
            ).alias("cd")
        )
        nulls = F.array(*[null_slot for _ in range(k)])
        merged = state.drop("changed").join(cand, "vertex", "full_outer")
        old = F.coalesce(F.col("dists"), nulls)
        new = F.zip_with(old, F.coalesce(F.col("cd"), nulls), lambda a, b: F.least(a, b))
        return merged.select(
            "vertex",
            new.alias("dists"),
            F.exists(
                F.zip_with(
                    old,
                    new,
                    lambda a, b: a.isNull() & b.isNotNull(),
                ),
                lambda x: x,
            ).alias("changed"),
        )

    runner = SuperstepRunner(
        spark,
        op="landmark_bfs_packed",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=max_depth,
        tol=0.0,
    )
    res = runner.run(
        init,
        step,
        lambda old, new: float(new.filter(F.col("changed")).count()),
        resume=resume,
    )
    step_edges.unpersist()
    lm_arr = F.array(*[F.lit(l) for l in lms])
    unpacked = (
        res.state.select("vertex", F.posexplode("dists").alias("pos", "distance"))
        .filter(F.col("distance").isNotNull())
        .select(
            F.element_at(lm_arr, F.col("pos") + 1).alias("landmark"),
            "vertex",
            "distance",
        )
    )
    return LandmarkResult(
        distances=unpacked, rounds=res.supersteps, converged=res.converged
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame | list,
    max_depth: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Sampled harmonic centrality (Boldi–Vigna's axiomatically-favored
    closeness variant, public): ``H(v) = Σ_s 1/d(s, v)`` over the seed
    set, unreachable pairs contributing 0 — exact on the sample, an
    unbiased up-scaling of the full sum when the seeds are sampled
    uniformly.  Output ``(vertex, harmonic double, n_sources int)`` for
    every vertex reached by ≥ 1 seed; seeds reach themselves at
    distance 0, which contributes nothing (1/d only for d ≥ 1).

    Plan: all seeds ride ONE multi-source BFS state (the landmark
    superstep — the edge table is scanned once per depth regardless of
    seed count), then a single map-side-combined groupBy folds the
    (seed, vertex, distance) rows into the harmonic sum.
    """
    res = landmark_distances(
        edges, sources, max_depth=max_depth, directed=directed
    )
    pos = res.distances.filter(F.col("distance") > 0)
    return pos.groupBy("vertex").agg(
        F.round(F.sum(F.lit(1.0) / F.col("distance")), 9).alias("harmonic"),
        F.count(F.lit(1)).cast("int").alias("n_sources"),
    )


def estimate_distances(distances: DataFrame, pairs: DataFrame) -> DataFrame:
    """Triangle-bound distance estimates for ``pairs`` (src, dst).

    ``est_distance = min_l d(src,l) + d(l,dst)`` over landmarks both
    endpoints reach; ``n_landmarks`` counts them.  Pairs with no common
    landmark are absent (disconnected as far as the oracle can tell).
    Two vertex-keyed equi-joins + one groupBy on the pair key — at scale
    both joins shuffle on the vertex id only and the landmark dimension
    stays a payload column.
    """
    du = distances.select(
        F.col("vertex").alias("src"),
        "landmark",
        F.col("distance").alias("d_src"),
    )
    dv = distances.select(
        F.col("vertex").alias("dst"),
        "landmark",
        F.col("distance").alias("d_dst"),
    )
    return (
        pairs.select("src", "dst")
        .join(du, "src")
        .join(dv, ["dst", "landmark"])
        .groupBy("src", "dst")
        .agg(
            F.min(F.col("d_src") + F.col("d_dst")).alias("est_distance"),
            F.count(F.lit(1)).cast("int").alias("n_landmarks"),
        )
    )
