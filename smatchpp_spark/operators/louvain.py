"""Louvain-style modularity-optimizing community detection.

Multilevel local-move + contraction (Blondel et al. 2008, public
algorithm), re-shaped for bulk-synchronous DataFrame execution: per
sweep EVERY vertex evaluates the modularity gain of moving into each
neighboring community and the winning moves are applied together —
the synchronous variant standard in distributed implementations
(e.g. Sotera's distributed Louvain), not the reference's sequential
scan, which has no bulk equivalent.  After a fixed number of sweeps the
partition is contracted (``graphstats.contract_graph`` shape) and the
next level repeats on the supernode graph.

Determinism — everything is oracle-replayable:

* **Integer arithmetic.**  Gains are compared as
  ``2m·w(v,c) − k_v·Σtot(c)`` — all BIGINT when edge weights are
  integers, so cross-engine comparisons are exact (no float argmax
  flips).  Overflow bound: (2m)² must stay below 2^63, i.e. ~1.5·10^9
  total edge weight; beyond that scale switch the gain columns to
  double (the comparisons then carry the usual ulp caveat).
* **Deterministic tie-breaks.**  Best community = max gain, then MIN
  community label (one ``min(struct(-gain, c))`` partial-aggregable
  aggregation — no window).
* **Oscillation control.**  Synchronous moves can swap two symmetric
  vertices forever, so sweep ``t`` only moves vertices whose hash
  parity matches ``t % 2`` (deterministic hash — ``portable=True``
  uses the md5-based cross-engine hash so a SQL oracle replays the
  gating exactly).

Scale shape per sweep: one groupBy(label) for community totals (tiny
output), one state⋈stubs join + groupBy(v, label) for neighbor-community
weights (the LPA vote dataflow — map-side combined, hub-safe), one
broadcast-or-shuffle join of the totals back, one aggregation for the
argmax.  Contraction is one groupBy.  Sweeps run through
SuperstepRunner per level (checkpoint/resume + metrics/lineage like
every iterative operator; fixed sweep counts keep resume and the SQL
oracle aligned).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.functions.hashing import hash64
from smatchpp_spark.operators.supersteps import SuperstepRunner


@dataclass
class LouvainResult:
    communities: DataFrame  # (vertex, community)
    levels: int
    metrics: list


def _canonical_undirected(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """(a, b, w long) with a <= b: distinct undirected pairs (weight 1
    each, or summed ``weight_col``); self-loops kept as (v, v)."""
    if weight_col is None:
        e = edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
        # unweighted: multi-edges collapse to ONE undirected edge
        return (
            e.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
            .select("a", "b", F.lit(1).cast("long").alias("w"))
        )
    e = edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("w")
    )
    return (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def _without_size_estimate(df: DataFrame) -> DataFrame:
    """``df``'s rows over its already-truncated RDD, minus the size
    estimate a localCheckpoint inherits from the plan that built it.

    Each sweep's plan reads the state several times through joins, and
    Catalyst's size-only estimator multiplies the children's sizes at a
    join; the checkpoint carries that product into the next sweep, so
    the estimate's digit count multiplies every sweep and planning time
    with it (level-2 sweeps of a 32-vertex graph: 2 s each at first,
    108 s by the eighth, all of it BigInt arithmetic).  Without the
    inherited estimate every sweep plans from the default size."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(df._jdf.rdd(), df._jdf.schema())
    return DataFrame(jdf, spark)


def _parity(col, t: int, portable: bool):
    # portable mode hashes the STRING form so a SQL oracle (md5 needs a
    # string) replays the gating bit-for-bit on any vertex id type
    h = (
        hash64(col.cast("string"), portable=True)
        if portable
        else F.xxhash64(col)
    )
    return F.pmod(h, F.lit(2)) == F.lit(t % 2)


def _level_pass(
    und: DataFrame,
    sweeps: int,
    level: int,
    portable: bool,
    checkpoint_dir: str | None,
    resume: bool,
) -> tuple[DataFrame, list]:
    """One Louvain level: fixed local-move sweeps on the canonical
    undirected weighted graph ``und`` (a, b, w).  Returns the final
    (vertex, lbl) mapping and the sweep metrics."""
    spark = und.sparkSession
    loops = und.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("v"), F.col("w").alias("lw")
    )
    nonloop = und.filter(F.col("a") != F.col("b"))
    stubs = nonloop.select(
        F.col("a").alias("v"), F.col("b").alias("u"), "w"
    ).unionByName(
        nonloop.select(F.col("b").alias("v"), F.col("a").alias("u"), "w")
    )
    verts = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .distinct()
    )
    # k_v = stub weight + 2 × self-loop weight (standard degree rule)
    kdf = (
        verts.join(
            stubs.groupBy("v").agg(F.sum("w").alias("sw")), "v", "left"
        )
        .join(loops.groupBy("v").agg(F.sum("lw").alias("lw")), "v", "left")
        .select(
            "v",
            (
                F.coalesce("sw", F.lit(0)) + 2 * F.coalesce("lw", F.lit(0))
            ).alias("k"),
        )
        .localCheckpoint(eager=True)
    )
    two_m = kdf.agg(F.sum("k")).collect()[0][0] or 0
    if two_m == 0:
        # edgeless level: every vertex is its own community already
        return kdf.select("v", F.col("v").alias("lbl")), []
    stubs = stubs.localCheckpoint(eager=True)

    init = kdf.select(F.col("v").alias("vertex"), F.col("v").alias("lbl"))

    def step(state: DataFrame, t: int) -> DataFrame:
        st = _without_size_estimate(state).select(
            F.col("vertex").alias("v"), "lbl"
        )
        # KNOWN TRADE-OFF: tot/vc/cur below each feed two consumers, so
        # Catalyst re-plans the vote-join dataflow up to ~3x per sweep
        # (exchanges of identical subtrees DO get reused; the aggs above
        # them re-execute).  Staging them with per-sweep localCheckpoints
        # was tried and measured ~4x SLOWER end-to-end at test scale
        # (three extra materialization barriers per sweep dominate); the
        # re-planned form keeps the whole sweep one pipelined job and the
        # 1x→10x sweep exponent is 0.57 (linear-ish), so the duplication
        # is accepted and documented rather than "fixed".
        tot = (
            st.join(kdf, "v")
            .groupBy("lbl")
            .agg(F.sum("k").alias("tot"))
        )
        # neighbor-community weights: w(v, c) for every community c
        # adjacent to v (the LPA vote dataflow, map-side combined)
        vc = (
            stubs.join(
                st.select(F.col("v").alias("u"), F.col("lbl").alias("c")),
                "u",
            )
            .groupBy("v", "c")
            .agg(F.sum("w").alias("wvc"))
        )
        cur = (
            st.join(kdf, "v")
            .join(tot.withColumnRenamed("lbl", "lbl_t"),
                  F.col("lbl") == F.col("lbl_t"))
            .drop("lbl_t")
            .join(
                vc.withColumnRenamed("c", "lbl"),
                ["v", "lbl"],
                "left",
            )
            .select(
                "v",
                "lbl",
                "k",
                (
                    F.lit(two_m) * F.coalesce("wvc", F.lit(0))
                    - F.col("k") * (F.col("tot") - F.col("k"))
                ).alias("g_cur"),
            )
        )
        cand = (
            vc.join(cur.select("v", "lbl", "k", "g_cur"), "v")
            .filter(F.col("c") != F.col("lbl"))
            .join(tot.withColumnRenamed("lbl", "c"), "c")
            .select(
                "v",
                "c",
                (
                    F.lit(two_m) * F.col("wvc") - F.col("k") * F.col("tot")
                ).alias("g"),
                "g_cur",
            )
            .filter(F.col("g") > F.col("g_cur"))
        )
        best = cand.groupBy("v").agg(
            F.min(F.struct((-F.col("g")).alias("ng"), F.col("c").alias("c")))
            .alias("m")
        ).select("v", F.col("m.c").alias("best"))
        moved = cur.join(best, "v", "left").select(
            F.col("v").alias("vertex"),
            F.when(
                _parity(F.col("v"), t, portable) & F.col("best").isNotNull(),
                F.col("best"),
            )
            .otherwise(F.col("lbl"))
            .alias("lbl"),
        )
        return moved

    runner = SuperstepRunner(
        spark,
        op=f"louvain_level{level}",
        checkpoint_dir=checkpoint_dir,
        max_supersteps=sweeps,
        tol=-1.0,  # fixed sweep count: parity gating means a zero-change
        # sweep does NOT imply the other parity class is done
    )
    # Constant delta: with tol=-1.0 the sweep schedule is fixed, so a
    # changed-label count could never terminate the loop — it would only
    # populate the metrics record at the cost of one old⋈new join+count
    # job per sweep.  Skip it (delta is recorded as 1.0 = "not converged
    # by count", which is exactly what the fixed schedule asserts).
    res = runner.run(init, step, lambda old, new: 1.0, resume=resume)
    final = res.state.select(F.col("vertex").alias("v"), "lbl")
    return final, res.metrics


def louvain_communities(
    edges: DataFrame,
    weight_col: str | None = None,
    sweeps_per_level: int = 8,
    levels: int = 2,
    portable: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> LouvainResult:
    """(vertex, community) for every vertex of the edge table —
    community ids are vertex ids (each level's labels live in the
    original id space, so the composed mapping stays typed).

    Fixed ``sweeps_per_level`` × ``levels`` schedule (no data-dependent
    early exit) keeps runs, resumes, and the unrolled SQL oracle in
    exact agreement.  The parity gating admits only half the vertices
    per sweep, so budget roughly 2× the local-move rounds a sequential
    Louvain would need (the default 8 converges planted-partition test
    graphs).  ``weight_col`` must be integer-valued for the
    exact-arithmetic guarantee (see module docstring)."""
    if sweeps_per_level < 1 or levels < 1:
        raise ValueError("sweeps_per_level and levels must be >= 1")
    und = _canonical_undirected(edges, weight_col).localCheckpoint(eager=True)
    mapping: DataFrame | None = None
    metrics: list = []
    for lvl in range(1, levels + 1):
        final, mx = _level_pass(
            und, sweeps_per_level, lvl, portable, checkpoint_dir, resume
        )
        metrics.extend(mx)
        final = final.localCheckpoint(eager=True)
        if mapping is None:
            mapping = final
        else:
            # compose: original v → previous community p → new label
            mapping = mapping.join(
                final.select(
                    F.col("v").alias("lbl"), F.col("lbl").alias("lbl2")
                ),
                "lbl",
            ).select("v", F.col("lbl2").alias("lbl")).localCheckpoint(
                eager=True
            )
        if lvl < levels:
            lab = final
            und = (
                und.join(
                    lab.withColumnRenamed("v", "a").withColumnRenamed(
                        "lbl", "la"
                    ),
                    "a",
                )
                .join(
                    lab.withColumnRenamed("v", "b").withColumnRenamed(
                        "lbl", "lb"
                    ),
                    "b",
                )
                .select(
                    F.least("la", "lb").alias("a"),
                    F.greatest("la", "lb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").alias("w"))
                .localCheckpoint(eager=True)
            )
    return LouvainResult(
        communities=mapping.select(
            F.col("v").alias("vertex"), F.col("lbl").alias("community")
        ),
        levels=levels,
        metrics=metrics,
    )
