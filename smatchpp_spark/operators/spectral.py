"""Spectral bisection: Fiedler coordinates by deflated power iteration.

The second eigenvector of the normalized Laplacian ``L = I − D^(−1/2) A
D^(−1/2)`` (the Fiedler vector) gives the classic spectral bisection:
``sign(fiedler)`` splits the graph along its sparsest low-conductance
direction (Fiedler 1973; Shi–Malik normalized cuts).

K fixed, fully deterministic power-iteration steps on the SHIFTED
normalized adjacency ``M' = (D^(−1/2) A D^(−1/2) + I)/2`` — the shift
maps eigenvalues into [0, 1] so a near-bipartite graph's ≈ −1
eigenvalue cannot hijack the iteration.  M's top eigenvector φ(v) =
√d_v (eigenvalue 1) is known in closed form, so each step deflates it
exactly:

  y = (M x + x)/2 ;  y ← y − (⟨y,φ⟩/⟨φ,φ⟩)·φ ;  x ← y/‖y‖₂

Start vector: portable-hash pseudo-random in [−1, 1] per vertex —
deterministic and engine-replayable (the SQL oracle replays the exact
same iterates; no RNG).  On a disconnected graph the dominant deflated
direction separates components — still a valid (indeed the sparsest)
bisection.

Physical shape per step: one spmv (edge join on the persisted
normalized-weight table, map-side-combined groupBy) + two scalar
aggregations broadcast back as literals via 1-row crossJoins — the
same two-shuffle superstep as pagerank.  State checkpoints through
SuperstepRunner.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.functions.hashing import hash64
from smatchpp_spark.operators.supersteps import SuperstepRunner


@dataclass
class SpectralResult:
    coords: DataFrame  # (vertex, fiedler double, side boolean)
    supersteps: int
    metrics: list


def _undirected_simple(edges: DataFrame) -> DataFrame:
    c = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    return c.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        c.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def spectral_bisection(
    edges: DataFrame,
    supersteps: int = 12,
    seed: int = 7,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    num_partitions: int | None = None,
    input_lineage: str = "",
) -> SpectralResult:
    """Fiedler coordinates of the undirected simple graph spanned by
    ``edges`` after exactly ``supersteps`` deflated power-iteration
    steps.  Isolated self-loop-only vertices are excluded (they have no
    place in a cut)."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    und = _undirected_simple(edges)
    deg = und.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # normalized edge weight 1/sqrt(d_u d_v), partitioned once by src
    w = (
        und.join(
            deg.select(F.col("vertex").alias("src"), F.col("d").alias("ds")),
            "src",
        )
        .join(
            deg.select(F.col("vertex").alias("dst"), F.col("d").alias("dt")),
            "dst",
        )
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.sqrt(F.col("ds") * F.col("dt"))).alias("w"),
        )
        .repartition(num_partitions, "src")
        .persist()
    )
    n_edges = w.count()
    if n_edges == 0:
        return SpectralResult(
            coords=spark.createDataFrame(
                [], "vertex string, fiedler double, side boolean"
            ),
            supersteps=0,
            metrics=[],
        )

    # state: (vertex, phi = sqrt(d), x)
    init0 = deg.select(
        "vertex",
        F.sqrt(F.col("d").cast("double")).alias("phi"),
        (
            F.pmod(
                hash64(
                    F.concat_ws("#", F.col("vertex"), F.lit(str(seed))),
                    portable=True,
                ),
                F.lit(1_000_000),
            ).cast("double")
            / F.lit(500_000.0)
            - F.lit(1.0)
        ).alias("x"),
    ).repartition(num_partitions, "vertex")

    def _deflate_normalize(state: DataFrame) -> DataFrame:
        scal = state.agg(
            (F.sum(F.col("x") * F.col("phi")) / F.sum(F.col("phi") * F.col("phi"))).alias("c")
        )
        y = state.crossJoin(F.broadcast(scal)).select(
            "vertex", "phi", (F.col("x") - F.col("c") * F.col("phi")).alias("x")
        )
        nrm = y.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
        return y.crossJoin(F.broadcast(nrm)).select(
            "vertex",
            "phi",
            F.when(F.col("nrm") > 0, F.col("x") / F.col("nrm"))
            .otherwise(F.lit(0.0))
            .alias("x"),
        )

    init = _deflate_normalize(init0)

    def step(state: DataFrame, k: int) -> DataFrame:
        mx = (
            state.select(F.col("vertex").alias("src"), "x")
            .join(w, "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.sum(F.col("x") * F.col("w")).alias("mx"))
        )
        shifted = (
            state.join(mx, "vertex", "left")
            .select(
                "vertex",
                "phi",
                (
                    (F.coalesce("mx", F.lit(0.0)) + F.col("x")) / F.lit(2.0)
                ).alias("x"),
            )
        )
        return _deflate_normalize(shifted)

    runner = SuperstepRunner(
        spark,
        op="spectral_bisection",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=supersteps,
        tol=-1.0,  # fixed-step contract (deterministic, oracle-replayable)
        input_lineage=input_lineage,
    )
    result = runner.run(
        init,
        step,
        lambda old, new: float("inf"),
        edges_processed_per_step=n_edges,
        resume=resume,
    )
    w.unpersist()
    return SpectralResult(
        coords=result.state.select(
            "vertex",
            F.col("x").alias("fiedler"),
            (F.col("x") >= 0).alias("side"),
        ),
        supersteps=result.supersteps,
        metrics=result.metrics,
    )
