"""Power-iteration PageRank over the global edge table — the engine's one
PageRank: cold, warm-started (``init=``, the incremental update),
personalized (``sources=``) and weighted (``weight_col=``) runs share
this dataflow.

Semantics (held to allclose 1e-6 against a numpy power-iteration oracle):
  * vertices = distinct endpoints of ``edges(src, dst)``;
  * multi-edges count with multiplicity (out-degree too);
  * dangling mass (out-degree-0 vertices) is redistributed uniformly;
  * ``rank' = (1-α)/N + α·(Σ_in contrib + dangling_mass/N)``;
  * the start vector is uniform (the teleport vector when personalized),
    or ``init``'s ranks: vertices missing from ``init`` start at 0.0 and
    ``init`` rows for vertices not in the graph are dropped.  The
    fixpoint is unique, so the start changes the round count, never the
    answer.

Stopping rules (``tol < 0`` runs exactly ``max_supersteps`` rounds):
  * cold: ``max |Δrank| ≤ tol`` (default 1e-10, leaving ~4 digits of
    headroom under the 1e-6 parity bar regardless of summation order);
  * warm-started: ``‖Δrank‖₁ ≤ tol``.  Successive deltas contract by α
    in L1, so the distance to the fixpoint is at most
    ``‖Δ‖₁·α/(1−α)`` — the tail bound incremental callers check.
  The step's delta, and the dangling mass the next step needs, are
  collected by an Observation on each step's materialization job:
  convergence costs no extra job.

Physical shape per superstep (two shuffles, the Spark minimum for this
dataflow):
  1. ``ranks ⋈ contribs-table on src`` — the static side is the edge
     table pre-joined ONCE with inverse out-degree and hash-partitioned
     by ``src`` then persisted, so every iteration reuses the same
     exchange; only the (small) rank table reshuffles.
  2. ``groupBy(dst).sum`` — partial aggregation combines hub traffic
     map-side, so a 10^8-follower hub costs one row per partition, not
     one per edge.  AQE skew-join handles residual hub skew on the join.
All arithmetic is float64 end-to-end; the iteration loop (driver-side,
like the reference's climb loop solvers.py:333-351) checkpoints state
every superstep through SuperstepRunner for lineage truncation + resume.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from smatchpp_spark.operators.supersteps import SuperstepRunner


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vertex long/string, rank double)
    supersteps: int
    converged: bool
    metrics: list


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    num_partitions: int | None = None,
    input_lineage: str = "",
    sources: "list | DataFrame | None" = None,
    weight_col: str | None = None,
    init: DataFrame | None = None,
) -> PageRankResult:
    """``sources`` switches to PERSONALIZED PageRank: the teleport vector is
    uniform over the source set (a small Python list inlined as a
    predicate, or a DataFrame of vertex ids joined in — use the DataFrame
    form when the set itself is big).  Initial rank, the (1-α) restart
    and the dangling mass all follow the teleport vector, the standard
    random-surfer-with-preferences model; vertices unreachable from the
    sources converge to rank 0.

    ``weight_col`` switches to WEIGHTED PageRank: a source distributes
    its rank proportionally to its positive edge weights (w_e / Σ_src w)
    instead of uniformly.  Weights must be positive (callers filter).
    Composes with ``sources``.

    ``init`` WARM-STARTS the iteration from a ``(vertex, rank)`` frame
    (extra columns ignored), typically the previous snapshot's ranks;
    convergence is then judged on ``‖Δ‖₁`` and every superstep's
    ``metrics`` record carries that L1 delta (the module docstring has
    both stopping rules).  Composes with ``sources`` and ``weight_col``."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    personalized = sources is not None
    warm = init is not None

    # vertex set, out-degree and the dangling flag all come out of ONE
    # union-aggregation over the endpoint projections (dst rows
    # contribute 0 so every endpoint appears; dangling ⇔ out-mass 0) —
    # this replaces the previous distinct-endpoints + out-degree groupBy
    # + left join (three exchanges over E rows) with a single exchange.
    # The vertex table also carries the dangling flag so the per-step
    # dangling mass is a plain column aggregation over the state — a
    # semi-join against a dangling table would rebuild its broadcast
    # hash table on the driver EVERY superstep, a serial cost that caps
    # scaling.
    deg_col = "out_deg" if weight_col is None else "out_w"
    if weight_col is None:
        ends = edges.select(
            F.col("src").alias("vertex"), F.lit(1).alias("_o")
        ).unionByName(edges.select(F.col("dst").alias("vertex"), F.lit(0).alias("_o")))
        vdeg = ends.groupBy("vertex").agg(F.sum("_o").alias(deg_col))
        dangling = F.col(deg_col) == 0
    else:
        ends = edges.select(
            F.col("src").alias("vertex"),
            F.col(weight_col).cast("double").alias("_o"),
        ).unionByName(
            edges.select(F.col("dst").alias("vertex"), F.lit(0.0).alias("_o"))
        )
        vdeg = ends.groupBy("vertex").agg(F.sum("_o").alias(deg_col))
        # weights are positive (callers filter), so zero out-mass ⇔ no
        # outgoing edge — identical to the old isNull-after-left-join flag
        dangling = F.col(deg_col) == 0.0
    # the agg output is already hash-partitioned by vertex at the session
    # shuffle parallelism (no extra repartition pass); partitions are
    # pre-sorted so the fixed-step path's per-superstep join against
    # this table needs neither exchange nor sort on the cached side
    vdeg = vdeg.sortWithinPartitions("vertex").persist()
    out_deg = vdeg.filter(~dangling)
    vertices = vdeg.select("vertex", dangling.alias("dangling"))
    if personalized:
        if isinstance(sources, DataFrame):
            s = (
                sources.select(F.col(sources.columns[0]).alias("vertex"))
                .distinct()
                .withColumn("is_src", F.lit(True))
            )
            vertices = vertices.join(s, "vertex", "left").withColumn(
                "is_src", F.coalesce("is_src", F.lit(False))
            )
        else:
            vertices = vertices.withColumn(
                "is_src", F.col("vertex").isin(list(sources))
            )
    # static per-superstep join side, hash-partitioned by src once and
    # persisted for reuse across steps.  Built and counted FIRST: its
    # forcing count also materializes the vdeg cache it joins, so the
    # vertex count below is a cached scan instead of a second
    # cache-building job.
    if weight_col is not None:
        contrib_edges = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("ew")
        ).join(out_deg.withColumnRenamed("vertex", "src"), "src").select(
            "src", "dst", (F.col("ew") / F.col("out_w")).alias("w")
        )
    else:
        contrib_edges = edges.select("src", "dst").join(
            out_deg.withColumnRenamed("vertex", "src"), "src"
        ).select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
    contrib_edges = (
        contrib_edges.repartition(num_partitions, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    n_edges = contrib_edges.count()

    if personalized:
        row = vertices.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_src").cast("long")).alias("ns"),
        ).collect()[0]
        n, n_src = row["n"], row["ns"] or 0
        if n > 0 and n_src == 0:
            raise ValueError("personalized pagerank: no source vertex in graph")
    else:
        n = vertices.count()
    if n == 0:
        contrib_edges.unpersist()
        vdeg.unpersist()
        schema = StructType([
            StructField("vertex", edges.schema["src"].dataType),
            StructField("rank", DoubleType()),
        ])
        return PageRankResult(
            ranks=spark.createDataFrame([], schema),
            supersteps=0,
            converged=True,
            metrics=[],
        )

    # FIXED-STEP MODE (cold with tol < 0, the bench + fixed-K contract
    # shape): no convergence delta is ever consulted, so the state
    # carries only (vertex, [tp,] rank) and the per-step rebuild joins
    # the PERSISTED vertex table (hash-clustered + sorted, zero exchange
    # on that side) with the fresh contributions — the convergence
    # path's per-step exchange+sort of the checkpointed state and its
    # prev_rank column disappear.  Rank values are identical: same join
    # rows, same formula, only the dataflow differs.  Warm-started runs
    # always carry prev_rank: their callers read the last round's L1
    # delta (the tail bound) even on a fixed-K run.
    fixed_steps = tol < 0 and not warm
    if personalized:
        tp = F.when(F.col("is_src"), F.lit(1.0 / n_src)).otherwise(F.lit(0.0))
        static_vertices = vertices.select("vertex", "dangling", tp.alias("tp"))
        rank0 = F.col("tp")
    else:
        static_vertices = vertices
        rank0 = F.lit(1.0 / n)
    carry = ["vertex", "dangling", "tp"] if personalized else [
        "vertex", "dangling"
    ]
    start = static_vertices
    if warm:
        start = start.join(
            init.select("vertex", F.col("rank").cast("double").alias("_warm")),
            "vertex",
            "left",
        )
        rank0 = F.coalesce("_warm", F.lit(0.0))
    state0 = start.select(*carry, rank0.alias("rank"))
    if not fixed_steps:
        state0 = state0.withColumn("prev_rank", F.lit(float("nan")))

    # the dangling mass of state k-1 and the convergence delta of state k
    # are both collected FOR FREE via an Observation attached to each
    # superstep's materialization job (zero extra scans): dm rides into
    # the next step as a plan literal.  The previous design computed dm
    # with a per-step scan + BroadcastNestedLoopJoin of a 1-row subquery
    # and the delta with a separate whole-state aggregation job — two
    # extra passes over V rows per superstep, and the BNLJ erased the
    # state's output partitioning (guide §2.4/§1: fewer passes, fewer
    # plan nodes per superstep).
    dm_memo: dict = {"dm": None}
    dm_expr = F.sum(
        F.when(F.col("dangling"), F.col("rank")).otherwise(F.lit(0.0))
    ).alias("dm")

    def _observed_delta(metrics: dict) -> float:
        dm_memo["dm"] = float(metrics["dm"] or 0.0)
        d = metrics["delta"]
        return float(d) if d is not None else float("inf")

    def _observed_dm_only(metrics: dict) -> float:
        dm_memo["dm"] = float(metrics["dm"] or 0.0)
        return float("inf")  # fixed-step mode never converges early

    def step(state: DataFrame, k: int):
        dm = dm_memo["dm"]
        if dm is None:
            # first step (or resume): one tiny scan of the current state
            row = state.agg(dm_expr).collect()[0]
            dm = float(row["dm"] or 0.0)
        if personalized:
            # per-vertex restart mass is (1-α + α·dm) · tp — the scalar
            # is a plan literal, the teleport column rides the state.
            # Same IEEE op order as the old in-plan expression.
            base = (1.0 - alpha) + alpha * dm
        else:
            base = (1.0 - alpha) / n + alpha * dm / float(n)
        # MERGE hint on the rank⋈edges join: the rank side is V rows —
        # size-based planning broadcasts it at bench scale, but that
        # re-collects and re-ships the whole state every superstep
        # (measured 10.9s -> 8.4s for 10 supersteps on the 600k-edge
        # bench); a sort-merge join against the pre-sorted persisted
        # edge table only exchanges+sorts the small rank side, and at
        # web scale a V-row broadcast is impossible anyway.
        contribs = (
            state.select(F.col("vertex").alias("src"), "rank")
            .hint("merge")
            .join(contrib_edges, "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("in_sum"))
        )
        rank_expr = (
            F.lit(base) * F.col("tp")
            + F.lit(alpha) * F.coalesce("in_sum", F.lit(0.0))
        ) if personalized else (
            F.lit(base) + F.lit(alpha) * F.coalesce("in_sum", F.lit(0.0))
        )
        if fixed_steps:
            # contribs is also V-scale — merge-join it against the
            # cached sorted vertex table rather than re-broadcasting a
            # V-row hash relation per step (same argument as above;
            # measured another 8.7s -> 7.1s on the bench loop)
            new_state = static_vertices.join(
                contribs.hint("merge"), "vertex", "left"
            ).select(*carry, rank_expr.alias("rank"))
            obs = Observation()
            new_state = new_state.observe(obs, dm_expr)
            return new_state, obs, _observed_dm_only
        new_state = (
            state.select(*carry, F.col("rank").alias("old_rank"))
            .join(contribs.hint("merge"), "vertex", "left")
            .select(
                *carry,
                rank_expr.alias("rank"),
                F.col("old_rank").alias("prev_rank"),
            )
        )
        step_delta = F.abs(F.col("rank") - F.col("prev_rank"))
        delta = F.sum(step_delta) if warm else F.max(step_delta)
        obs = Observation()
        new_state = new_state.observe(obs, delta.alias("delta"), dm_expr)
        return new_state, obs, _observed_delta

    runner = SuperstepRunner(
        spark,
        # warm runs commit under their own checkpoint subtree, so a
        # resume never picks up a cold run's state (or vice versa)
        op="pagerank_incremental" if warm else "pagerank",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=max_supersteps,
        tol=tol,
        input_lineage=input_lineage,
    )
    result = runner.run(
        state0,
        step,
        None,
        edges_processed_per_step=n_edges,
        resume=resume,
    )
    vdeg.unpersist()
    contrib_edges.unpersist()
    return PageRankResult(
        ranks=result.state.select("vertex", "rank"),
        supersteps=result.supersteps,
        converged=result.converged,
        metrics=result.metrics,
    )
