"""Neighborhood-overlap link prediction over the undirected edge table.

Common-neighbors / Adamic-Adar / resource-allocation scoring of
non-adjacent vertex pairs — the classic "which link forms next"
primitives (Liben-Nowell & Kleinberg 2003; Adamic & Adar 2003, public
algorithms).  Beyond the reference's operator set, same contract style
as its graph_transforms.py operators.

Plan shape (the same skew discipline as triangle counting,
triangles.py): candidate pairs are generated through a WEDGE JOIN on the
shared neighbor z — never an all-pairs product.  A hub pivot z
contributes d(z)² candidate pairs, so ``max_pivot_degree`` drops
super-hub pivots from scoring (standard practice: a 10^6-degree hub's
1/log(10^6) contribution is negligible per pair but its wedge set is
quadratic — the cap bounds work with measurable score error, and
Adamic-Adar/RA weights make the dropped contributions the smallest
ones).  Everything else is one groupBy on the pair key plus one
anti-join against the existing edge set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.operators.kcore import undirected_simple
from smatchpp_spark.operators.supersteps import free_local_checkpoint


def linkpred_scores(
    edges: DataFrame,
    method: str = "adamic_adar",
    top_k: int | None = None,
    max_pivot_degree: int | None = None,
    exclude_existing: bool = True,
) -> DataFrame:
    """Score candidate pairs by shared-neighborhood weight.

    ``method``: ``common_neighbors`` (weight 1 per shared z),
    ``adamic_adar`` (1/ln d(z)), ``resource_allocation`` (1/d(z)), or
    ``jaccard`` (|N(u)∩N(v)| / |N(u)∪N(v)| — the common-neighbor count
    normalized by the degree union, two extra broadcast-free equi-joins
    against the degree table).  Output (u, v, score double) with u < v;
    ``top_k`` keeps the global best pairs (ties by u, v —
    deterministic); ``exclude_existing`` anti-joins pairs already
    linked.  Pivots with degree < 2 generate no wedges and pivots above
    ``max_pivot_degree`` are dropped (see module docstring; under the
    cap, jaccard's intersection count is computed on the capped wedge
    set while the union stays exact — scores are a documented lower
    bound for pairs touching dropped super-hubs).
    """
    if method not in (
        "common_neighbors",
        "adamic_adar",
        "resource_allocation",
        "jaccard",
    ):
        raise ValueError(f"unknown link-prediction method {method!r}")
    und = undirected_simple(edges)  # (a, b), both directions, distinct
    deg = und.groupBy(F.col("a").alias("z")).agg(
        F.count(F.lit(1)).alias("dz")
    )
    if method in ("common_neighbors", "jaccard"):
        wcol = F.lit(1.0)
    elif method == "adamic_adar":
        # d(z) == 1 pivots generate no wedge; d(z) ≥ 2 ⟹ ln d(z) > 0
        wcol = 1.0 / F.log(F.col("dz").cast("double"))
    else:
        wcol = 1.0 / F.col("dz").cast("double")

    pivots = deg.filter(F.col("dz") >= 2)
    if max_pivot_degree is not None:
        pivots = pivots.filter(F.col("dz") <= max_pivot_degree)
    nbrs = und.select(F.col("a").alias("z"), F.col("b").alias("n")).join(
        pivots, "z"
    )
    e1 = nbrs.select("z", F.col("n").alias("u"), wcol.alias("w"))
    e2 = nbrs.select("z", F.col("n").alias("v"))
    pairs = (
        e1.join(e2, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.round(F.sum("w"), 9).alias("score"))
    )
    if method == "jaccard":
        cn = pairs.withColumnRenamed("score", "cn")
        du = deg.select(F.col("z").alias("u"), F.col("dz").alias("du"))
        dv = deg.select(F.col("z").alias("v"), F.col("dz").alias("dv"))
        pairs = (
            cn.join(du, "u")
            .join(dv, "v")
            .select(
                "u",
                "v",
                F.round(
                    F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")), 9
                ).alias("score"),
            )
        )
    if exclude_existing:
        canon = und.filter(F.col("a") < F.col("b")).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        )
        pairs = pairs.join(canon, ["u", "v"], "left_anti")
    if top_k is not None:
        # global top-k: per-partition prune would also work, but orderBy
        # + limit already runs as TakeOrderedAndProject (no full sort
        # materialization) — the right plan at any scale
        pairs = pairs.orderBy(F.desc("score"), F.asc("u"), F.asc("v")).limit(
            top_k
        )
    return pairs


def linkpred_ppr(
    edges: DataFrame,
    seeds: DataFrame | Sequence[str],
    steps: int = 3,
    alpha: float = 0.85,
    top_k: int | None = None,
    exclude_existing: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Personalized-PageRank link prediction: score candidate links
    (seed, v) by the seed's fixed-step PPR mass at v — the
    random-walk-with-restart scorer that beats neighborhood-overlap
    methods on sparse graphs because it sees beyond distance 2 (the
    standard Katz/PPR family, Liben-Nowell & Kleinberg 2003).

    Variant, stated exactly: r_0 = e_seed;
    ``r_{t+1}(v) = (1-α)·[v == seed] + α·Σ_{u~v} r_t(u)/deg(u)`` over
    the UNDIRECTED simple graph for ``steps`` iterations — on an
    undirected graph every vertex has degree ≥ 1, so there is no
    dangling mass and the fixed-step form is the exact truncated power
    iteration (oracle-replayable: all draws/joins deterministic).

    All seeds run SIMULTANEOUSLY — the state is (seed, vertex, rank)
    and each step is ONE state⋈edges join + one (seed, dst) aggregation
    (multi-source BFS shape), not |seeds| separate PageRank runs.
    State size is bounded by |seeds| × |steps-hop ball|; callers pick
    seed batches sized to the cluster (the standard batched-PPR
    production pattern).

    Output: (seed, candidate, score double) — ``candidate != seed``,
    existing neighbors excluded when ``exclude_existing``; ``top_k``
    keeps the best per seed (score desc, candidate asc — deterministic).
    """
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = undirected_simple(edges)  # (a, b) both directions, distinct
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    contrib = (
        und.join(deg, "a")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            (F.lit(1.0) / F.col("deg")).alias("w"),
        )
        .repartition(num_partitions, "u")
        .persist()
    )
    contrib.count()

    if isinstance(seeds, DataFrame):
        seeds_df = seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()
    else:
        # seeds from a CLI arrive as python strings regardless of the
        # graph's vertex type — build as strings and CAST to the vertex
        # type (ANSI cast raises on malformed numerics, which is the
        # right failure mode for a bad --sources value)
        vt = und.schema["a"].dataType
        seeds_df = (
            spark.createDataFrame([(str(s),) for s in seeds], "seed string")
            .select(F.col("seed").cast(vt).alias("seed"))
            .distinct()
        )
    base = F.lit(1.0 - alpha)
    seed_rows = seeds_df.select(
        "seed", F.col("seed").alias("vertex"), base.alias("base")
    ).localCheckpoint(eager=True)

    state = seeds_df.select(
        "seed", F.col("seed").alias("vertex"), F.lit(1.0).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(steps):
        msgs = (
            state.join(contrib, state["vertex"] == contrib["u"])
            .groupBy("seed", F.col("v").alias("vertex"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("in_sum"))
        )
        prev_state = state
        state = (
            msgs.join(seed_rows, ["seed", "vertex"], "full")
            .select(
                "seed",
                "vertex",
                (
                    F.coalesce("base", F.lit(0.0))
                    + F.lit(alpha) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        # the new state is materialized (eager) — the superseded one's
        # checkpoint blocks are dead; free them now instead of waiting
        # for driver GC (supersteps.free_local_checkpoint docstring)
        free_local_checkpoint(prev_state)
    contrib.unpersist()
    # seed_rows only feeds the per-step joins above; the final state is
    # checkpointed, so its blocks are dead too
    free_local_checkpoint(seed_rows)

    out = state.filter(F.col("vertex") != F.col("seed")).select(
        "seed",
        F.col("vertex").alias("candidate"),
        F.round("rank", 9).alias("score"),
    )
    if exclude_existing:
        nbrs = und.select(
            F.col("a").alias("seed"), F.col("b").alias("candidate")
        )
        out = out.join(nbrs, ["seed", "candidate"], "left_anti")
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("seed").orderBy(
            F.desc("score"), F.asc("candidate")
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .drop("_rn")
        )
    return out
