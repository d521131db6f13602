"""FastRP-style node embeddings — training-free, deterministic,
superstep-shaped (Chen, Sui, Ding & Skiena, CIKM 2019, public).

Very sparse random projection (Achlioptas / Li et al., public): give
every vertex a d-dimensional seed vector R(v) with entries

    +sqrt(s)  if  portable_hash64(vertex ':' dim) mod 2s == 0
    -sqrt(s)  if  ... == 1
     0        otherwise        (so P[±] = 1/(2s), E = 0, Var = 1)

then take k steps of the degree-normalized adjacency, E_k = (D⁻¹A)E_{k-1},
and output the weighted sum Σ w_k·E_k (optionally L2-normalized).  The
result approximately preserves the graph's k-hop proximity structure —
node2vec-class quality on link prediction at a tiny fraction of the
cost (the paper's claim) — and feeds this engine's ANN / dedup /
linkpred surfaces directly as an ``array<double>`` column.

Why this shape at 100 TB: each iteration is ONE edges⋈state join plus
ONE map-side-combined per-dimension sum — the pagerank superstep
dataflow with d accumulators instead of 1.  No sampling, no gradient
steps, no parameter server; d stays a column-width constant (≤ 64
guarded), so the state is V×d doubles and every aggregation combines
map-side.  The hash-seeded projection makes the whole thing a pure
function of (graph, dims, s, weights) — bit-replayable in any engine,
which is what the DuckDB oracle does (the sssp.py unrolling contract).

Determinism note: embeddings are hash-of-vertex-id seeded, so they are
NOT rename-invariant; they ARE partitioning- and engine-invariant for
fixed ids, which is the contract that matters for reproducible
pipelines.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.functions.hashing import portable_hash64
from smatchpp_spark.operators.kcore import undirected_simple
from smatchpp_spark.operators.supersteps import SuperstepRunner

MAX_DIMS = 64


@dataclass
class FastRPResult:
    embeddings: DataFrame  # (vertex, embedding array<double>)
    dims: int
    supersteps: int
    converged: bool  # always True at the fixed budget (k iterations)


def _seed_cols(dims: int, s: int) -> list:
    """The d projection entries for the current row's ``vertex``."""
    val = math.sqrt(float(s))
    cols = []
    for i in range(dims):
        h = F.pmod(
            portable_hash64(
                F.concat_ws(":", F.col("vertex").cast("string"), F.lit(str(i)))
            ),
            F.lit(2 * s),
        )
        cols.append(
            F.when(h == 0, F.lit(val))
            .when(h == 1, F.lit(-val))
            .otherwise(F.lit(0.0))
            .alias(f"e{i}")
        )
    return cols


def fastrp_embeddings(
    edges: DataFrame,
    dims: int = 16,
    s: int = 2,
    weights: list | None = None,
    normalize: bool = True,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> FastRPResult:
    """FastRP embeddings of the undirected simple graph spanned by
    ``edges``.  ``weights[k]`` weights the k-th power's contribution
    (k = 1..len(weights)); the seed projection itself (hop 0) is not
    emitted — first-order structure enters through hop 1, matching the
    paper's default of dropping A⁰.  ``normalize=True`` L2-normalizes
    the final vector (zero vectors stay zero)."""
    if dims < 1 or dims > MAX_DIMS:
        raise ValueError(
            f"fastrp: dims must be in [1, {MAX_DIMS}], got {dims} — the "
            "state is V x dims doubles and the per-dim aggregate list is "
            "unrolled into the plan"
        )
    if s < 1:
        raise ValueError(f"fastrp: s must be >= 1, got {s}")
    if weights is None:
        weights = [1.0, 1.0, 0.5]
    if not weights:
        raise ValueError("fastrp: weights must name >= 1 hop")
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = (
        undirected_simple(edges)
        .repartition(num_partitions, "a")
        .persist()
    )
    deg = und.groupBy(F.col("a").alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # static message side: (src=a, dst=b, w=1/deg(a)) — D^-1 A rows
    contrib = (
        und.join(deg.withColumnRenamed("vertex", "a"), "a")
        .select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            (F.lit(1.0) / F.col("deg")).alias("w"),
        )
        .repartition(num_partitions, "src")
        .persist()
    )
    contrib.count()

    ecols = [f"e{i}" for i in range(dims)]
    acols = [f"a{i}" for i in range(dims)]
    init = deg.select(
        "vertex",
        *_seed_cols(dims, s),
        *[F.lit(0.0).alias(a) for a in acols],
    )

    k_hops = len(weights)

    def step(state: DataFrame, k: int) -> DataFrame:
        w_k = float(weights[k - 1])
        msgs = (
            state.select(F.col("vertex").alias("src"), *ecols)
            .join(contrib, "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(
                *[
                    F.sum(F.col(e) * F.col("w")).alias(f"m{i}")
                    for i, e in enumerate(ecols)
                ]
            )
        )
        return (
            state.select("vertex", *acols)
            .join(msgs, "vertex", "left")
            .select(
                "vertex",
                *[
                    F.coalesce(F.col(f"m{i}"), F.lit(0.0)).alias(e)
                    for i, e in enumerate(ecols)
                ],
                *[
                    (
                        F.col(a)
                        + F.lit(w_k)
                        * F.coalesce(F.col(f"m{i}"), F.lit(0.0))
                    ).alias(a)
                    for i, a in enumerate(acols)
                ],
            )
        )

    runner = SuperstepRunner(
        spark,
        op="fastrp",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=k_hops,
        tol=-1.0,  # fixed hop budget — never early-stops
    )
    res = runner.run(
        init,
        step,
        lambda old, new: 1.0,  # fixed budget; metric is a heartbeat
        resume=resume,
    )
    state = res.state
    if normalize:
        norm = sum(F.col(a) * F.col(a) for a in acols)
        emb = F.when(
            norm > 0.0,
            F.array(*[(F.col(a) / F.sqrt(norm)) for a in acols]),
        ).otherwise(F.array(*[F.lit(0.0) for _ in acols]))
    else:
        emb = F.array(*[F.col(a) for a in acols])
    out = state.select("vertex", emb.alias("embedding"))
    und.unpersist()
    contrib.unpersist()
    return FastRPResult(
        embeddings=out,
        dims=dims,
        supersteps=res.supersteps,
        converged=True,
    )
