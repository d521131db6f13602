"""Whole-graph and per-vertex structural statistics.

Beyond the reference's operator set (same contract style as its
util.py:107-138 degree filters): the standard link-graph quality metrics
a 10^12-file web/code graph pipeline reports next to PageRank/CC —
local clustering coefficient, degree assortativity, edge reciprocity,
and community modularity.  Every operator here is a one-or-two-shuffle
DataFrame aggregation with an exact ANSI-SQL oracle (contract rows in
__spark_entry__.py); nothing iterates.

100 TB shapes:
  * clustering coefficient — reuses the triangle operator's per-vertex
    counts (degree-oriented wedge join, the skew-safe plan) plus one
    degree aggregation and a key join;
  * assortativity — two degree joins + one global moment aggregation
    (map-side combined; the result is a single row);
  * reciprocity — self-join of the directed edge set on the swapped key,
    counted (left-semi, no row explosion);
  * modularity — one groupBy per community plus a global scalar.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.operators.kcore import undirected_simple
from smatchpp_spark.operators.triangles import triangle_count


def clustering_coefficient(
    edges: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected
    simple graph: ``2·T(v) / (d(v)·(d(v)−1))``, 0.0 where ``d(v) < 2``.

    Output (vertex, degree long, triangles long, coefficient double);
    every vertex of the graph appears (triangle-free vertices included —
    the per-vertex triangle table is sparse, so this left-joins from the
    degree side).
    """
    und = undirected_simple(edges)  # (a, b) both directions, distinct
    deg = und.groupBy(F.col("a").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = triangle_count(edges, num_partitions=num_partitions).per_vertex
    d = F.col("degree").cast("double")
    return (
        deg.join(tri, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                    / (d * (d - 1.0)),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of the endpoint degrees over the undirected edge list —
    positive = hubs link to hubs (social-graph shape), negative = hubs
    link to leaves (web/code-graph shape).

    Computed over each undirected edge counted ONCE with both endpoint
    orderings contributing symmetrically (the standard convention:
    correlate over the 2·|E| directed stubs).  One row out:
    (n_stubs long, assortativity double — null for degree-regular
    graphs, where the variance is 0).
    """
    und = undirected_simple(edges)  # (a, b): both stub directions
    deg = und.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )
    stubs = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "dx"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "dy"), "b")
        .select(
            F.col("dx").cast("double").alias("x"),
            F.col("dy").cast("double").alias("y"),
        )
    )
    mom = stubs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    vx = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    vy = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    return mom.select(
        F.col("n").alias("n_stubs"),
        F.when(
            (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 9)
        ).alias("assortativity"),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Fraction of directed edges whose reverse edge also exists
    (self-loops excluded, multi-edges collapsed).  One row out:
    (n_edges long, n_reciprocal long, reciprocity double)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n = e.count()
    r = e.join(rev, ["src", "dst"], "left_semi").count()
    e.unpersist()
    spark = edges.sparkSession
    frac = round(r / n, 9) if n else 0.0
    return spark.createDataFrame(
        [(n, r, frac)],
        "n_edges long, n_reciprocal long, reciprocity double",
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition over the undirected
    simple graph: ``Q = Σ_c ( m_c/m − (D_c/(2m))² )`` with ``m`` total
    undirected edges, ``m_c`` intra-community edges, ``D_c`` the summed
    degree of community ``c`` — the standard quality score for the LPA
    communities (labelprop.py).

    ``labels``: (vertex, label).  Vertices missing from ``labels`` form
    their own singleton communities (label = vertex).  One row out:
    (n_edges long, n_communities long, modularity double).

    Plan: degree agg + one broadcast-or-shuffle join of labels onto each
    edge endpoint + two groupBys over communities — no iteration, safe
    at any scale where CC/LPA themselves run.
    """
    und = undirected_simple(edges)  # both directions
    lab = labels.select(
        F.col(labels.columns[0]).alias("v"),
        F.col(labels.columns[1]).alias("lbl"),
    ).distinct()

    tagged = (
        und.join(
            lab.withColumnRenamed("v", "a").withColumnRenamed("lbl", "la"),
            "a",
            "left",
        )
        .join(
            lab.withColumnRenamed("v", "b").withColumnRenamed("lbl", "lb"),
            "b",
            "left",
        )
        .select(
            "a",
            "b",
            F.coalesce("la", F.col("a")).alias("la"),
            F.coalesce("lb", F.col("b")).alias("lb"),
        )
        .persist()
    )
    # m: each undirected edge appears twice in `und`
    m = tagged.count() / 2.0
    spark = edges.sparkSession
    if m == 0:
        tagged.unpersist()
        return spark.createDataFrame(
            [(0, 0, 0.0)],
            "n_edges long, n_communities long, modularity double",
        )
    # D_c: summed degree per community (each stub row contributes 1 to
    # its a-endpoint's degree); m_c: intra edges (stub pairs / 2)
    per_c = tagged.groupBy("la").agg(
        F.count(F.lit(1)).alias("deg_sum"),
        F.sum((F.col("la") == F.col("lb")).cast("long")).alias("intra_stubs"),
    )
    row = per_c.agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum(
            F.col("intra_stubs").cast("double") / F.lit(2.0) / F.lit(m)
            - F.pow(F.col("deg_sum").cast("double") / F.lit(2.0 * m), 2)
        ).alias("q"),
    ).collect()[0]
    tagged.unpersist()
    return spark.createDataFrame(
        [(int(m), int(row["nc"]), round(float(row["q"]), 9))],
        "n_edges long, n_communities long, modularity double",
    )


def degree_histogram(edges: DataFrame, log_base: int = 2) -> DataFrame:
    """Log-binned degree distribution over the undirected simple graph —
    the first plot of any web-graph analysis.  Output
    (bucket int, min_degree long, n_vertices long): bucket b holds
    vertices with degree in [base^b, base^(b+1)).

    One degree aggregation + one tiny histogram aggregation; the result
    is O(log max-degree) rows at any graph size."""
    und = undirected_simple(edges)
    deg = und.groupBy(F.col("a").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    b = F.floor(
        F.log(float(log_base), F.col("degree").cast("double"))
    ).cast("int")
    return (
        deg.select(b.alias("bucket"), "degree")
        .groupBy("bucket")
        .agg(
            F.min("degree").alias("min_degree"),
            F.count(F.lit(1)).alias("n_vertices"),
        )
    )


def contract_graph(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Contract a vertex partition into a supernode graph — the
    coarsening step of multilevel partitioning/community pipelines:
    every edge maps its endpoints through ``labels`` (vertices missing
    from the label table stay themselves) and parallel edges collapse
    with a count.  Intra-cluster edges survive as (c, c) rows, carrying
    the cluster's internal edge count.

    Output (src, dst, n_edges long) over cluster ids.  Plan: two label
    joins (broadcast when the label table is small, shuffled hash
    otherwise) + one map-side-combined count — no iteration."""
    lab = labels.select(
        F.col(labels.columns[0]).alias("v"),
        F.col(labels.columns[1]).alias("lbl"),
    ).distinct()
    return (
        edges.select("src", "dst")
        .join(
            lab.withColumnRenamed("v", "src").withColumnRenamed("lbl", "ls"),
            "src",
            "left",
        )
        .join(
            lab.withColumnRenamed("v", "dst").withColumnRenamed("lbl", "ld"),
            "dst",
            "left",
        )
        .select(
            F.coalesce("ls", F.col("src")).alias("csrc"),
            F.coalesce("ld", F.col("dst")).alias("cdst"),
        )
        .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple graph:
    ``phi(c) = cut(c) / min(vol(c), 2m − vol(c))`` with ``cut(c)`` the
    number of undirected edges leaving ``c`` and ``vol(c)`` the summed
    degree inside ``c`` — the standard community-quality score
    complementing the global ``modularity`` row (same label contract:
    vertices missing from ``labels`` are singletons).

    Output (label, n_vertices, volume, cut, conductance) — conductance
    0.0 for a whole-graph community (denominator 0 means no outside).

    Plan: the modularity tagging joins (labels onto both endpoints),
    then two map-side-combined groupBys over the label key; the 2m
    scalar rides a 1-row crossJoin.  No iteration, no per-vertex state.
    """
    und = undirected_simple(edges)
    lab = labels.select(
        F.col(labels.columns[0]).alias("v"),
        F.col(labels.columns[1]).alias("lbl"),
    ).distinct()
    tagged = (
        und.join(
            lab.withColumnRenamed("v", "a").withColumnRenamed("lbl", "la"),
            "a",
            "left",
        )
        .join(
            lab.withColumnRenamed("v", "b").withColumnRenamed("lbl", "lb"),
            "b",
            "left",
        )
        .select(
            "a",
            F.coalesce("la", F.col("a")).alias("la"),
            F.coalesce("lb", F.col("b")).alias("lb"),
        )
    )
    # per-community volume and cut: `und` carries both directions, so
    # grouping by the a-side label counts each vertex's full degree
    # (volume) and each leaving edge once per inside endpoint (cut)
    per = tagged.groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).alias("volume"),
        F.sum(F.when(F.col("la") != F.col("lb"), 1).otherwise(0)).alias("cut"),
        F.count_distinct("a").alias("n_vertices"),
    )
    two_m = tagged.agg(F.count(F.lit(1)).alias("two_m"))
    other = F.col("two_m") - F.col("volume")
    denom = F.least(F.col("volume"), other)
    return per.crossJoin(two_m).select(
        "label",
        F.col("n_vertices").cast("long").alias("n_vertices"),
        F.col("volume").cast("long").alias("volume"),
        F.col("cut").cast("long").alias("cut"),
        F.when(denom <= 0, F.lit(0.0))
        .otherwise(F.round(F.col("cut") / denom.cast("double"), 9))
        .alias("conductance"),
    )


def transitivity(edges: DataFrame) -> DataFrame:
    """Global transitivity (the graph-level clustering ratio):
    ``T = 3·triangles / wedges`` with ``wedges = Σ_v d(v)·(d(v)−1)/2``
    over the undirected simple graph — the one-row companion to the
    per-vertex ``clustering_coefficient`` table.

    Output one row: (n_triangles, n_wedges, transitivity).  Triangle
    counting reuses the degree-oriented wedge join (triangles.py);
    wedges are one degree agg — both hub-safe.
    """
    spark = edges.sparkSession
    tri = triangle_count(edges).total
    und = undirected_simple(edges)
    row = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.coalesce(F.sum(F.col("d") * (F.col("d") - 1) / 2), F.lit(0.0)).alias("w"))
        .collect()[0]
    )
    wedges = int(row["w"])
    # half-away-from-zero rounding (matches SQL ROUND; python's round()
    # is banker's and would diverge on exact .5 boundaries)
    t = (
        0.0
        if wedges == 0
        else math.floor(3.0 * tri / wedges * 1e9 + 0.5) / 1e9
    )
    return spark.createDataFrame(
        [(int(tri), wedges, t)],
        "n_triangles long, n_wedges long, transitivity double",
    )


def powerlaw_fit(edges: DataFrame, d_min: int = 2) -> DataFrame:
    """Discrete power-law exponent MLE for the degree distribution of
    the undirected simple graph (Clauset, Shalizi & Newman, SIAM Rev.
    2009 eq. 3.7, public):

        α̂ = 1 + n_tail / Σ_{d_i ≥ d_min} ln( d_i / (d_min − ½) )
        σ  = (α̂ − 1) / √n_tail

    — the standard "is this a scale-free tail, and how heavy" summary
    that decides salting/skew strategy for every downstream join.

    One degree aggregation + one map-side-combined scalar aggregation;
    output is ONE row ``(d_min, n_vertices, n_tail, alpha, sigma)``
    (alpha/sigma NaN when no vertex reaches ``d_min``).  The ln fold
    order does not matter at the 6-dp sink rounding used by the
    contract row."""
    if d_min < 1:
        raise ValueError(f"powerlaw_fit: d_min must be >= 1, got {d_min}")
    from smatchpp_spark.operators.kcore import undirected_simple

    deg = (
        undirected_simple(edges)
        .groupBy(F.col("a").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    shift = float(d_min) - 0.5
    tail = F.col("degree") >= d_min
    row = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(tail.cast("long")).alias("n_tail"),
        F.sum(
            F.when(tail, F.log(F.col("degree").cast("double") / F.lit(shift)))
            .otherwise(F.lit(0.0))
        ).alias("lnsum"),
    ).select(
        F.lit(int(d_min)).alias("d_min"),
        "n_vertices",
        F.coalesce("n_tail", F.lit(0)).alias("n_tail"),
        F.when(
            F.coalesce("n_tail", F.lit(0)) > 0,
            F.lit(1.0) + F.col("n_tail") / F.col("lnsum"),
        ).alias("alpha"),
    )
    return row.select(
        "d_min",
        "n_vertices",
        "n_tail",
        "alpha",
        F.when(
            F.col("n_tail") > 0,
            (F.col("alpha") - 1) / F.sqrt(F.col("n_tail").cast("double")),
        ).alias("sigma"),
    )


def spearman_correlation(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation ρ between two columns, with exact
    average-rank tie handling (ρ = Pearson correlation of the average
    ranks — the textbook tie-corrected definition).

    Returns one row ``(n, spearman_rho)``; ρ is 0.0 when either column
    is constant (zero rank variance).

    Scale shape at 100 TB: NO global row sort.  Average ranks come from
    a value HISTOGRAM — ``groupBy(value).count()`` (map-side
    combinable), a cumulative sum over the distinct-value set, and an
    equi-join back.  The only window partition is the distinct-value
    list (for integer centralities that is ≤ ~2·sqrt(m) rows — the
    kcore.py h-index-histogram argument), so a 10^8-row column costs a
    ~10^3-row window task, not a 10^8-row sort.  Doubled average ranks
    (2·cum_less + cnt_eq + 1) stay INTEGERS; all sums run in
    DECIMAL(38,0), so the final double combine (one subtraction, two
    sqrts, one division on exactly-equal inputs) is bit-identical in
    any engine — Pearson is affine-invariant, so doubling cancels.
    """
    from pyspark.sql import Window

    pairs = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))

    def ranks2(col: str) -> DataFrame:
        hist = pairs.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return hist.select(
            col,
            (
                2 * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(f"r2{col}"),
        )

    ranked = pairs.join(ranks2("x"), "x").join(ranks2("y"), "y")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact sums
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("r2x"))).alias("sx"),
        F.sum(dec(F.col("r2y"))).alias("sy"),
        F.sum(dec(F.col("r2x")) * dec(F.col("r2x"))).alias("sxx"),
        F.sum(dec(F.col("r2y")) * dec(F.col("r2y"))).alias("syy"),
        F.sum(dec(F.col("r2x")) * dec(F.col("r2y"))).alias("sxy"),
    )
    n = dec(F.col("n"))
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = F.when(
        (denx <= 0) | (deny <= 0), F.lit(0.0)
    ).otherwise(num / (F.sqrt(denx) * F.sqrt(deny)))
    return s.select("n", rho.alias("spearman_rho"))


def centrality_rank_correlation(edges: DataFrame) -> DataFrame:
    """Spearman ρ between per-vertex degree and triangle count on the
    undirected simple graph — the standard "do hubs close triangles?"
    diagnostic (positive on social/co-occurrence graphs, negative on
    bipartite-ish link graphs).  Vertices in no triangle count as 0.
    """
    # undirected_simple is symmetrized (one row per direction), so the
    # per-vertex degree is a straight count over the 'a' side
    deg = (
        undirected_simple(edges)
        .groupBy(F.col("a").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_count(edges).per_vertex
    joined = deg.join(tri, "vertex", "left").select(
        "vertex",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
    )
    return spearman_correlation(joined, "degree", "triangles")


def label_mixing_matrix(
    edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Categorical mixing matrix of the undirected simple graph: for
    every unordered label pair, the number of edges joining them.
    Output: ``(label_a, label_b, n_edges)`` with label_a ≤ label_b —
    the Newman (2003) e_ij table before normalization, kept as exact
    integers so downstream assortativity math is engine-portable.

    ``labels``: (vertex, label).  Vertices missing a label drop with a
    loud count check left to the caller (the join is inner).

    Scale shape: two vertex-keyed equi-joins (label dim broadcasts when
    small) + one map-side-combined groupBy on the K² label-pair key.
    """
    ue = undirected_simple(edges)  # symmetrized (a, b)
    canon = ue.filter(F.col("a") < F.col("b"))
    la = labels.select(F.col("vertex").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("vertex").alias("b"), F.col("label").alias("lb"))
    return (
        canon.join(la, "a")
        .join(lb, "b")
        .groupBy(
            F.least("la", "lb").alias("label_a"),
            F.greatest("la", "lb").alias("label_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def label_assortativity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman's categorical assortativity coefficient

        r = (Σ_i e_ii − Σ_i a_i²) / (1 − Σ_i a_i²)

    over the normalized mixing matrix (e_ij = fraction of ordered edge
    endpoints with labels (i, j), a_i = Σ_j e_ij).  Computed from EXACT
    integer stub counts: with M = 2m ordered stubs, T = Σ_i (ordered
    same-label count) and S = Σ_i (row-sum)²,

        r = (M·T − S) / (M² − S)

    — one double division at the end, everything before it integral,
    so the value is bit-identical in any engine.  r = 0.0 when the
    denominator is 0 (all edges in one label).  Output one row:
    ``(n_edges, r)``.
    """
    ue = undirected_simple(edges)
    la = labels.select(F.col("vertex").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("vertex").alias("b"), F.col("label").alias("lb"))
    stubs = ue.join(la, "a").join(lb, "b")  # ordered endpoint pairs
    per_label = stubs.groupBy("la").agg(
        F.count(F.lit(1)).alias("row_sum"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)).alias("same"),
    )
    agg = per_label.agg(
        F.sum("row_sum").cast("decimal(38,0)").alias("m2"),
        F.sum("same").cast("decimal(38,0)").alias("t"),
        F.sum(
            F.col("row_sum").cast("decimal(38,0)")
            * F.col("row_sum").cast("decimal(38,0)")
        ).alias("s"),
    )
    num = (F.col("m2") * F.col("t") - F.col("s")).cast("double")
    den = (F.col("m2") * F.col("m2") - F.col("s")).cast("double")
    return agg.select(
        F.expr("CAST(m2 AS BIGINT) div 2").alias("n_edges"),
        F.when(den == 0, F.lit(0.0)).otherwise(num / den).alias("r"),
    )


def transitivity_approx(
    edges: DataFrame,
    draws_per_vertex: int = 1,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Approximate global transitivity by WEDGE SAMPLING (Seshadhri,
    Pinar, Kolda SDM'13, public) — the estimator that never enumerates
    wedges: per vertex with degree ≥ 2, draw ``draws_per_vertex``
    uniform wedges (two distinct neighbor positions via deterministic
    hash draws over the dense neighbor index) and check closure; the
    Horvitz–Thompson combination

        T̂ = Σ_v C(d_v, 2) · (closed_v / R)   over   W = Σ_v C(d_v, 2)

    is unbiased for the closed-wedge fraction.  Exact arithmetic: the
    weighted closed sum stays integral (Σ C(d,2)·closed_v), so the
    single final double division is bit-identical across engines;
    ``portable=True`` makes the draws themselves engine-replayable
    (the random_walks hash-draw contract).

    Returns one row: ``(n_wedges, n_sampled, weighted_closed,
    transitivity_approx)``.  Cost: the neighbor-index build plus O(V·R)
    equi-join rows — compare the exact ``transitivity`` whose wedge
    join is Σ d_out² (this is the DOULION-style escape hatch for the
    wedge side).
    """
    from smatchpp_spark.functions.hashing import hash64
    from smatchpp_spark.operators.walks import neighbor_index

    und = undirected_simple(edges).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    nbr = neighbor_index(und).persist()
    deg = nbr.select("src", "deg").distinct().filter(F.col("deg") >= 2)

    def draw(tag: str, modulus):
        key = F.concat_ws(
            "#",
            F.col("src"),
            F.col("r").cast("string"),
            F.lit(tag),
            F.lit(str(seed)),
        )
        h = hash64(key, portable=True) if portable else F.xxhash64(
            F.col("src"), F.col("r"), F.lit(tag), F.lit(seed)
        )
        return F.pmod(h, modulus)

    samples = deg.select(
        "src",
        "deg",
        F.explode(
            F.sequence(F.lit(0), F.lit(draws_per_vertex - 1))
        ).alias("r"),
    ).withColumn("j1", draw("a", F.col("deg")))
    # second index drawn from the remaining d-1 positions (skip-shift
    # keeps the pair distinct and uniform)
    samples = samples.withColumn(
        "j2p", draw("b", F.col("deg") - 1)
    ).withColumn(
        "j2",
        F.col("j2p") + (F.col("j2p") >= F.col("j1")).cast("int"),
    )
    n1 = nbr.select("src", F.col("idx").alias("j1"), F.col("dst").alias("x"))
    n2 = nbr.select("src", F.col("idx").alias("j2"), F.col("dst").alias("y"))
    resolved = samples.join(n1, ["src", "j1"]).join(n2, ["src", "j2"])
    canon = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("cx"), F.col("dst").alias("cy")
    )
    closed = resolved.join(
        canon,
        (F.least("x", "y") == F.col("cx"))
        & (F.greatest("x", "y") == F.col("cy")),
        "left_semi",
    )
    per_v = closed.groupBy("src", "deg").agg(
        F.count(F.lit(1)).alias("closed_r")
    )
    totals = deg.join(per_v.select("src", "closed_r"), "src", "left").agg(
        F.expr("sum(CAST(deg AS BIGINT) * (deg - 1) div 2)").alias("n_wedges"),
        (F.count(F.lit(1)) * draws_per_vertex).cast("long").alias("n_sampled"),
        F.expr(
            "sum(CAST(deg AS BIGINT) * (deg - 1) div 2"
            " * coalesce(closed_r, 0))"
        ).alias("weighted_closed"),
    )
    nbr.unpersist()
    r = F.lit(float(draws_per_vertex))
    est = F.when(
        F.col("n_wedges") > 0,
        F.col("weighted_closed").cast("double")
        / (F.col("n_wedges").cast("double") * r),
    ).otherwise(F.lit(0.0))
    return totals.select(
        "n_wedges", "n_sampled", "weighted_closed",
        est.alias("transitivity_approx"),
    )


def partition_agreement(
    labels_a: DataFrame, labels_b: DataFrame
) -> DataFrame:
    """Agreement between two vertex partitions — Adjusted Rand Index and
    Normalized Mutual Information (the standard pair for comparing two
    community detections, e.g. LPA vs Louvain, or either vs ground
    truth).  Inputs: two (vertex, label) DataFrames; vertices present
    in both are compared (inner join).

    Output one row: ``(n, ari, nmi)``.

    Exactness: ARI is computed entirely from pair-count integers —
    with C = C(n,2), Sij = Σ C(n_ij,2), Sa = Σ C(a_i,2), Sb = Σ C(b_j,2),

        ARI = 2·(C·Sij − Sa·Sb) / (C·(Sa + Sb) − 2·Sa·Sb)

    (the ×2C-cleared Hubert–Arabie form), all terms in decimal(38,0),
    ONE double division at the end — bit-identical across engines.
    NMI = 2·I(A;B)/(H(A)+H(B)) sums natural-log terms over the ≤K²
    contingency cells and is rounded to 6 (float-order noise over a
    few hundred cells is ~1e-13, far inside the rounding).  Degenerate
    cases: single-cluster-vs-single-cluster gives ari=1.0 (identical)
    via the 0/0 convention, and nmi=0.0 when either entropy is 0.

    Scale shape: one vertex-keyed join + one groupBy on the (K_a, K_b)
    contingency key (map-side combined) — the contingency table, not
    the vertex set, is all that ever leaves the executors.
    """
    a = labels_a.select(
        F.col(labels_a.columns[0]).alias("vertex"),
        F.col(labels_a.columns[1]).alias("la"),
    )
    b = labels_b.select(
        F.col(labels_b.columns[0]).alias("vertex"),
        F.col(labels_b.columns[1]).alias("lb"),
    )
    cont = (
        a.join(b, "vertex")
        .groupBy("la", "lb")
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=True)
    )
    arow = cont.groupBy("la").agg(F.sum("nij").alias("ai"))
    brow = cont.groupBy("lb").agg(F.sum("nij").alias("bj"))

    def c2(col):
        return F.expr(f"CAST({col} AS DECIMAL(38,0)) * ({col} - 1) div 2")

    sums = (
        cont.agg(
            F.sum("nij").cast("decimal(38,0)").alias("n"),
            F.sum(c2("nij")).cast("decimal(38,0)").alias("sij"),
        )
        .crossJoin(
            arow.agg(F.sum(c2("ai")).cast("decimal(38,0)").alias("sa"))
        )
        .crossJoin(
            brow.agg(F.sum(c2("bj")).cast("decimal(38,0)").alias("sb"))
        )
    )
    # entropy/MI terms (double; round 6 at the end)
    n_lit = cont.agg(F.sum("nij")).collect()[0][0]
    n_d = float(n_lit)
    mi = (
        cont.join(arow, "la")
        .join(brow, "lb")
        .agg(
            F.sum(
                (F.col("nij") / F.lit(n_d))
                * F.log(
                    F.lit(n_d)
                    * F.col("nij")
                    / (F.col("ai") * F.col("bj"))
                )
            ).alias("mi")
        )
    )
    ha = arow.agg(
        (-F.sum((F.col("ai") / F.lit(n_d)) * F.log(F.col("ai") / F.lit(n_d))))
        .alias("ha")
    )
    hb = brow.agg(
        (-F.sum((F.col("bj") / F.lit(n_d)) * F.log(F.col("bj") / F.lit(n_d))))
        .alias("hb")
    )
    j = sums.crossJoin(mi).crossJoin(ha).crossJoin(hb)
    cpairs = F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2")
    num = (F.lit(2).cast("decimal(38,0)") * (
        cpairs * F.col("sij") - F.col("sa") * F.col("sb")
    )).cast("double")
    den = (
        cpairs * (F.col("sa") + F.col("sb"))
        - F.lit(2).cast("decimal(38,0)") * F.col("sa") * F.col("sb")
    ).cast("double")
    ari = F.when(den == 0, F.lit(1.0)).otherwise(num / den)
    nmi = F.when(
        (F.col("ha") <= 0) | (F.col("hb") <= 0), F.lit(0.0)
    ).otherwise(
        F.round(2.0 * F.col("mi") / (F.col("ha") + F.col("hb")), 6)
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        ari.alias("ari"),
        nmi.alias("nmi"),
    )
