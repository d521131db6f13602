"""Two-scale sweep of the headline queries: 1x vs 10x input, same
local[$SPARK_GRAFT_CPUS] box, per-query scaling exponent
log(t_10x / t_1x) / log(10).

Purpose (VERDICT r2 item 4): the per-round bench proves plans at sf0.1
only; this sweep checks that no query's constant moves nonlinearly when
the input grows 10x — the queries most at risk are triangles (wedge
count scales with sum of d^2) and the LSH candidate joins (bucket
occupancy).

Scaling construction (deterministic):
  * edge tables — 10 disjoint prefixed copies of the 1x graph.  Degree
    distribution and component structure are preserved per copy, which is
    the realistic 100 TB shape: node count grows, per-hub degree doesn't.
    Ideal scaling is exactly 10x work, so exponent 1.0 = linear engine
    behavior, >1.0 = superlinear hazard.
  * documents — 10 copies with a per-copy token appended to the text, so
    near-duplicate structure stays per-copy (no cross-copy candidate
    explosion by construction; the 10x LSH join has 10x candidates).
  * embeddings corpus — 10 prefixed copies; the query set stays the 1x
    one (brute-force top-k cost scales with |corpus|, the realistic
    read-side pattern).
  * Penman corpus — corpus_dataframe(2000) vs corpus_dataframe(20000).

Writes BENCH/scale_sweep.json + BENCH/SCALE_SWEEP.md.  Run alone (never
concurrently with bench.py / check_contract.py — box timing noise).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

PR_SUPERSTEPS = 10
SCALE = 10


def replicate_edges(e: DataFrame, k: int) -> DataFrame:
    """k disjoint copies with prefixed vertex ids."""
    out = None
    for i in range(k):
        c = e.select(
            F.concat(F.lit(f"x{i}_"), F.col("src")).alias("src"),
            F.concat(F.lit(f"x{i}_"), F.col("dst")).alias("dst"),
        )
        out = c if out is None else out.unionByName(c)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from smatchpp_spark import get_spark

    spark = get_spark(
        app_name="smatchpp-spark-scale-sweep",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # 12g: the 10x wedge join peaks near the 8g default once the
        # sweep's larger query set retains its localCheckpoint blocks
        # (r4: triangles@10x OOMed at 8g after the 3 pagerank variants)
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "12g"),
        },
    )

    import __spark_entry__ as em
    from smatchpp_spark.corpus import corpus_dataframe
    from smatchpp_spark.operators.components import connected_components
    from smatchpp_spark.operators.degrees import degrees
    from smatchpp_spark.operators.labelprop import label_propagation
    from smatchpp_spark.operators.pagerank import pagerank
    from smatchpp_spark.operators.standardize import amr_standardize
    from smatchpp_spark.operators.bfs import bfs_distances
    from smatchpp_spark.operators.kcore import k_core
    from smatchpp_spark.operators.triangles import (
        triangle_count,
        triangle_count_approx,
    )
    from smatchpp_spark.functions.scores import bootstrap_scores
    from smatchpp_spark.operators.hits import eigenvector_centrality, hits
    from smatchpp_spark.operators.hyperball import hyperball
    from smatchpp_spark.operators.linkpred import linkpred_ppr, linkpred_scores
    from smatchpp_spark.operators.louvain import louvain_communities
    from smatchpp_spark.operators.scc import strongly_connected_components
    from smatchpp_spark.operators.betweenness import betweenness_approx
    from smatchpp_spark.operators.walks import biased_random_walks, random_walks
    from smatchpp_spark.pipeline import dedup, similarity
    from smatchpp_spark.sources.penman import parse_edges

    # same untimed warmups as bench.py (session-global one-time costs)
    amr_standardize(parse_edges(corpus_dataframe(spark, 32, seed=1))).count()
    triangle_count(
        spark.createDataFrame(
            [("wa", "wb"), ("wb", "wc"), ("wa", "wc")], "src string, dst string"
        )
    ).total

    docs1 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs10 = None
    for i in range(SCALE):
        c = docs1.select(
            F.concat(F.lit(f"x{i}_"), F.col("doc_id").cast("string")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copytoken{i}")).alias("text"),
            "lang",
        )
        docs10 = c if docs10 is None else docs10.unionByName(c)

    # hub-skewed dedup input (VERDICT r5 item 8): a planted exact-template
    # cluster whose size grows WITH scale (20·scale identical docs), so the
    # 10x pair graph is a genuinely hub-skewed star — the sweep shows the
    # LSH bucket guard + sparse-CC composition absorbing the skew instead
    # of going quadratic
    tmpl_text = docs1.select("text").first()["text"]

    def hub_docs(base: DataFrame, scale: int) -> DataFrame:
        hub = (
            spark.range(20 * scale)
            .select(
                F.concat(F.lit("hub"), F.col("id").cast("string")).alias(
                    "doc_id"
                ),
                F.lit(tmpl_text).alias("text"),
            )
        )
        return base.select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ).unionByName(hub)

    # planted hub EDGE-graph twins (VERDICT r7 item 5): one star center
    # whose degree grows WITH scale (2000·scale distinct neighbors), so
    # the 10x graph is genuinely hub-skewed — the rows below then show
    # the wedge guards (max_pivot_degree / max_center_degree) and the
    # degree orientation absorbing the hub instead of the candidate join
    # going Σd²-quadratic on it
    def hub_edges(base: DataFrame, scale: int) -> DataFrame:
        star = spark.range(2000 * scale).select(
            F.lit("HUBv").alias("src"),
            F.concat(F.lit("hp"), F.col("id").cast("string")).alias("dst"),
        )
        return base.unionByName(star)

    # sign-decorrelated embedding copies for the cluster-dedup sweep:
    # multiplying every copy-i vector by one fixed ±1 pattern preserves
    # all WITHIN-copy inner products exactly (orthogonal map) while
    # making cross-copy near-identical pairs vanish — without this, 10
    # verbatim copies would form 10-cliques and the pair graph would
    # grow 100x by construction rather than 10x
    import random as _pyrandom

    def sign_flip(base: DataFrame, copy_idx: int) -> DataFrame:
        rngi = _pyrandom.Random(f"signs:{copy_idx}")
        signs = F.array(
            *[F.lit(float(rngi.choice((-1.0, 1.0)))) for _ in range(64)]
        )
        return base.select(
            (F.col("vec_id") + F.lit(copy_idx * 10_000_000)).alias("vec_id"),
            F.zip_with("embedding", signs, lambda x, s: x * s).alias(
                "embedding"
            ),
        )

    embc10 = None
    for i in range(SCALE):
        c = sign_flip(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), i)
        embc10 = c if embc10 is None else embc10.unionByName(c)

    emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb10 = None
    for i in range(SCALE):
        c = emb1.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"), "embedding"
        )
        emb10 = c if emb10 is None else emb10.unionByName(c)
    emb_queries = emb1.filter(F.col("vec_id") % 50 == 0)

    # per-pair 4-vector stats for the bootstrap sweep: deterministic
    # columns off lineitem keys; 10x = disjoint pair_id-offset copies
    li1 = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    stats1 = li1.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pair_id"),
        (F.pmod(F.col("l_partkey"), 7) + 1).cast("double").alias("matchsum_x"),
        (F.pmod(F.col("l_partkey"), 7) + 1).cast("double").alias("matchsum_y"),
        (F.pmod(F.col("l_partkey"), 7) + 1 + F.pmod(F.col("l_suppkey"), 5))
        .cast("double").alias("xlen"),
        (F.pmod(F.col("l_partkey"), 7) + 1 + F.pmod(F.col("l_orderkey"), 4))
        .cast("double").alias("ylen"),
    )
    stats10 = None
    for i in range(SCALE):
        c = stats1.withColumn(
            "pair_id", F.col("pair_id") + F.lit(i * 1_000_000_000)
        )
        stats10 = c if stats10 is None else stats10.unionByName(c)

    # %19-sparsified co-purchase graph
    li19 = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey") % 19 == 0)
    )
    co19 = (
        li19.withColumnRenamed("l_partkey", "pa")
        .join(li19.withColumnRenamed("l_partkey", "pb"), "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select(
            F.concat(F.lit("p"), F.col("pa").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("pb").cast("string")).alias("dst"),
        )
    )
    ev1 = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev10 = None
    for i in range(SCALE):
        c = ev1.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 1_000_000_000)
        )
        ev10 = c if ev10 is None else ev10.unionByName(c)

    inputs = {
        1: {
            "e_op": em._e_op(spark, sf_dir),
            "e_cust": em._e_cust(spark, sf_dir),
            "e_co": em._e_co(spark, sf_dir),
            "e_co19": co19,
            "e_co_hub": hub_edges(co19, 1),
            "events": ev1,
            "docs": docs1,
            "docs_hub": hub_docs(docs1, 1),
            "emb": emb1,
            "embc": sign_flip(emb1, 0),
            "corpus_n": 2000,
            "stats": stats1,
        },
        SCALE: {
            "e_op": replicate_edges(em._e_op(spark, sf_dir), SCALE),
            "e_cust": replicate_edges(em._e_cust(spark, sf_dir), SCALE),
            "e_co": replicate_edges(em._e_co(spark, sf_dir), SCALE),
            "e_co19": replicate_edges(co19, SCALE),
            "e_co_hub": hub_edges(replicate_edges(co19, SCALE), SCALE),
            "events": ev10,
            "docs": docs10,
            "docs_hub": hub_docs(docs10, SCALE),
            "emb": emb10,
            "embc": embc10,
            "corpus_n": 2000 * SCALE,
            "stats": stats10,
        },
    }

    results: dict[str, dict[int, float]] = {}
    # SWEEP_ONLY=name1,name2 re-measures a subset and merges into the
    # existing BENCH/scale_sweep.json (after an operator fix, re-running
    # the full ~45 min sweep to refresh one row is wasted compute)
    only = {
        s for s in os.environ.get("SWEEP_ONLY", "").split(",") if s.strip()
    }

    # best-of-2 per (query, scale): the first execution of a plan shape
    # pays its whole-stage-codegen compile (measured: ivf's 8x64-literal
    # cell expression ~7s) and this box has noisy-neighbor windows — the
    # min of two back-to-back runs isolates the plan's true cost, which
    # is what the exponent fit needs
    def _flush_partial(name: str) -> None:
        # crash insurance: once a query has both scales, merge its row
        # into the json immediately (an OOM mid-sweep used to lose
        # EVERY completed measurement — r7 lost 46 walls that way)
        t = results[name]
        if 1 not in t or SCALE not in t:
            return
        row = {
            "t_1x_sec": t[1],
            f"t_{SCALE}x_sec": t[SCALE],
            "exponent": round(math.log(t[SCALE] / t[1]) / math.log(SCALE), 3),
        }
        path = "BENCH/scale_sweep.json"
        os.makedirs("BENCH", exist_ok=True)
        if os.path.exists(path):
            with open(path) as fh:
                prev = json.load(fh)
        else:
            prev = {
                "metric": "scale_sweep_exponents",
                "sf_dir": sf_dir,
                "scale_factor": SCALE,
                "cpus": cpus,
                "queries": {},
            }
        prev.setdefault("queries", {})[name] = row
        with open(path, "w") as fh:
            fh.write(json.dumps(prev, indent=2) + "\n")

    def timed(name: str, scale: int, fn) -> None:
        if only and name not in only:
            return
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            fn()
            wall = time.monotonic() - t0
            best = wall if best is None else min(best, wall)
        sec = round(best, 3)
        results.setdefault(name, {})[scale] = sec
        print(f"  {name} @ {scale}x: {sec}s", file=sys.stderr)
        _flush_partial(name)
        # release the finished query's localCheckpoint blocks before the
        # next one: ContextCleaner frees them on GC, so force both GCs —
        # without this the retained blocks stack up and the 10x wedge
        # join OOMs (untimed: runs after the walls are recorded)
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    for scale, inp in inputs.items():
        print(f"-- scale {scale}x --", file=sys.stderr)
        e_op = inp["e_op"].persist()
        n_edges = e_op.count()
        print(f"  edges: {n_edges}", file=sys.stderr)

        timed("pagerank_10steps", scale, lambda: pagerank(
            e_op, alpha=0.85, tol=-1.0, max_supersteps=PR_SUPERSTEPS
        ).ranks.agg(F.sum("rank")).collect())
        # variant coverage (VERDICT r3 #10): same dataflow as the fixed
        # run plus a teleport column / weight normalization — exponents
        # should track pagerank_10steps
        seeds = e_op.select("dst").distinct().filter(F.col("dst").rlike("00$"))
        timed("pagerank_personalized", scale, lambda: pagerank(
            e_op, alpha=0.85, tol=-1.0, max_supersteps=PR_SUPERSTEPS,
            sources=seeds,
        ).ranks.agg(F.sum("rank")).collect())
        w_edges = e_op.withColumn(
            "wt", (F.pmod(F.xxhash64("src", "dst"), F.lit(5)) + 1).cast("double")
        )
        timed("pagerank_weighted", scale, lambda: pagerank(
            w_edges, alpha=0.85, tol=-1.0, max_supersteps=PR_SUPERSTEPS,
            weight_col="wt",
        ).ranks.agg(F.sum("rank")).collect())

        timed("degrees", scale, lambda: degrees(e_op).count())
        timed("connected_components", scale, lambda: connected_components(
            inp["e_cust"]
        ).components.count())
        timed("label_propagation_5steps", scale, lambda: label_propagation(
            e_op, max_supersteps=5
        ).labels.count())
        timed("triangle_counts", scale, lambda: triangle_count(inp["e_co"]).total)
        timed("triangle_counts_approx_p02", scale, lambda: triangle_count_approx(
            inp["e_co"], sample_rate=0.2, portable=False
        ).total_estimate)
        timed("parse_standardize", scale, lambda: amr_standardize(
            parse_edges(corpus_dataframe(spark, inp["corpus_n"], seed=42))
        ).count())
        timed("doc_neardup", scale, lambda: dedup.neardup_pairs_jaccard(
            inp["docs"], threshold=0.5, num_hashes=8, band_size=2
        ).count())
        timed("emb_topk", scale, lambda: similarity.cosine_topk(
            inp["emb"], emb_queries, k=5
        ).count())
        timed("emb_sq_topk", scale, lambda: similarity.sq_topk(
            inp["emb"], emb_queries, k=5
        ).count())
        timed("emb_ivf_topk", scale, lambda: similarity.ivf_topk(
            inp["emb"],
            emb_queries,
            similarity.unit_centroids(inp["emb"], n_cells=8),
            k=5,
            nprobe=2,
        ).count())
        timed("kcore_3", scale, lambda: k_core(
            e_op, k=3, max_rounds=12
        ).vertices.count())
        # seeds scale WITH the graph (suffix '00' ⟺ partkey % 100 == 0 in
        # every prefixed copy) — the realistic read-side pattern
        timed("bootstrap_bca_macro", scale, lambda: bootstrap_scores(
            inp["stats"], score_type="macro", method="bca", n_resamples=200
        ).collect())
        # the at-scale resample: Poisson weights in the scan projection,
        # no B×n draw-spine shuffle (multinomial measured superlinear)
        timed("bootstrap_bca_macro_poisson", scale, lambda: bootstrap_scores(
            inp["stats"], score_type="macro", method="bca", n_resamples=200,
            resample="poisson",
        ).collect())
        timed("bfs_undirected", scale, lambda: bfs_distances(
            e_op,
            e_op.select("dst").distinct().filter(F.col("dst").rlike("00$")),
            max_depth=6,
            directed=False,
        ).distances.count())
        # --- round-4/5 operators (VERDICT r4 item 7 + r5 additions) ---
        timed("hits_5steps", scale, lambda: hits(
            e_op, max_supersteps=5, tol=-1.0
        ).scores.agg(F.sum("hub")).collect())
        timed("eigenvector_5steps", scale, lambda: eigenvector_centrality(
            e_op, max_supersteps=5, tol=-1.0
        ).scores.agg(F.sum("hub")).collect())
        # SCC sweep input: every edge made bidirectional, so each
        # connected component is ONE SCC and the FW-BW machinery peels
        # everything in round 1 with diameter-bounded inner fixpoints —
        # measures the per-round dataflow cost, not the peel-sequence
        # pathology (which is the documented weakness of the family)
        e_bidi = e_op.unionByName(
            e_op.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        timed("scc_bidirectional", scale, lambda: strongly_connected_components(
            e_bidi, max_rounds=3, max_label_steps=60
        ).components.count())
        timed("hyperball_undirected", scale, lambda: hyperball(
            e_op, p=6, max_rounds=16, directed=False
        ).balls.count())
        timed("random_walks_len4", scale, lambda: random_walks(
            e_op, walk_length=4, walks_per_vertex=1
        ).count())
        timed("node2vec_len3", scale, lambda: biased_random_walks(
            e_op, walk_length=3, walks_per_vertex=1, p=0.5, q=2.0
        ).count())
        # hub-capped production config: pivots above 64 are dropped, so
        # per-pivot wedge work is bounded (the designed escape from the
        # Σd² growth the uncapped wedge join shares with triangles)
        timed("linkpred_aa_cap64", scale, lambda: linkpred_scores(
            inp["e_co"], method="adamic_adar", max_pivot_degree=64
        ).count())
        timed("linkpred_ppr_3steps", scale, lambda: linkpred_ppr(
            e_op,
            e_op.select("dst").distinct().filter(F.col("dst").rlike("000$")),
            steps=3,
        ).count())
        timed("dedup_clusters", scale, lambda: dedup.duplicate_clusters(
            inp["docs"], threshold=0.5, num_hashes=8, band_size=2
        ).count())
        timed("substring_dedup", scale, lambda: dedup.substring_dedup_spans(
            inp["docs"], ngram=5, min_span=8
        ).count())
        timed("louvain_2x2", scale, lambda: louvain_communities(
            e_op, sweeps_per_level=2, levels=2
        ).communities.count())
        # --- round-6 operators + the VERDICT r5 item-8 configs ---------
        # hub-skewed pair graph: the planted 20·scale-doc template star
        timed("dedup_clusters_hubbed", scale, lambda: dedup.duplicate_clusters(
            inp["docs_hub"], threshold=0.5, num_hashes=8, band_size=2
        ).count())
        # walks WITH the salted hub index engaged (co-purchase graph has
        # the heavy-tailed degrees; threshold 64 salts the real hubs)
        timed("random_walks_co_salted", scale, lambda: random_walks(
            inp["e_co"], walk_length=4, walks_per_vertex=1,
            hub_threshold=64, n_salts=8,
        ).count())
        # sampled-source truncated Brandes; sources scale with the graph
        timed("betweenness_d3", scale, lambda: betweenness_approx(
            e_op,
            e_op.select("dst").distinct().filter(F.col("dst").rlike("000$")),
            max_depth=3,
            directed=False,
        ).scores.count())
        timed("emb_dedup_clusters", scale, lambda: dedup.embedding_dedup_clusters(
            inp["embc"], threshold=0.3, probes=1,
            # auto-bits default: bucket count scales with N so the
            # in-bucket self-join stays linear (fixed 4-bit planes
            # measured exponent 1.162 at 10x — the config the operator
            # now auto-escapes when planes aren't pinned)
            seed=7, target_bucket=64,
        ).count())
        # --- round-6 additions: sssp / mis / coloring / landmarks /
        # repetition features -----------------------------------------
        from smatchpp_spark.operators.coloring import greedy_coloring
        from smatchpp_spark.operators.landmarks import (
            landmark_distances,
            pick_landmarks,
        )
        from smatchpp_spark.operators.mis import maximal_independent_set
        from smatchpp_spark.operators.sssp import sssp
        from smatchpp_spark.pipeline.text import repetition_features

        w_op = e_op.withColumn(
            "weight",
            (
                F.pmod(
                    F.length("src").cast("long") + F.length("dst"), F.lit(7)
                )
                + 1
            ).cast("long"),
        )
        seeds = e_op.select("dst").distinct().filter(F.col("dst").rlike("00$"))
        timed("sssp_5rounds", scale, lambda: sssp(
            w_op, seeds, max_supersteps=5, directed=False
        ).distances.count())
        timed("mis_luby", scale, lambda: maximal_independent_set(
            e_op, max_supersteps=10, seed=7
        ).members.count())
        # fixed 8 rounds: full JP convergence needs ~25+ rounds on the
        # o-p graph; a fixed round budget keeps the 1x/10x work
        # definition identical, which is what the exponent fit needs
        timed("coloring_jp8", scale, lambda: greedy_coloring(
            e_op, max_supersteps=8, seed=7
        ).colors.count())

        def _landmarks():
            lms = pick_landmarks(e_op, k=4, directed=False)
            return landmark_distances(
                e_op, lms, max_depth=3, directed=False
            ).distances.count()

        timed("landmark_distances_d3", scale, _landmarks)
        timed("doc_repetition", scale, lambda: repetition_features(
            inp["docs"]
        ).count())
        from smatchpp_spark.operators.ktruss import ktruss
        from smatchpp_spark.operators.msf import minimum_spanning_forest
        from smatchpp_spark.pipeline.text import line_dedup, vocabulary

        w_msf = inp["e_co"].withColumn(
            "weight",
            (
                F.pmod(
                    F.length("src").cast("long") * 3 + F.length("dst"),
                    F.lit(11),
                )
                + 1
            ).cast("long"),
        )
        timed("msf_boruvka", scale, lambda: minimum_spanning_forest(
            w_msf, max_rounds=8
        ).n_edges)
        # fixed 2 peeling rounds on the triangle-rich co-purchase graph
        # (identical work definition at both scales)
        timed("ktruss4_2rounds", scale, lambda: ktruss(
            inp["e_co"], k=4, max_rounds=2
        ).edges.count())
        timed("doc_line_dedup", scale, lambda: line_dedup(
            inp["docs"], min_count=3
        ).count())
        timed("doc_vocabulary", scale, lambda: vocabulary(
            inp["docs"], k=1000
        ).count())
        from smatchpp_spark.pipeline.text import backoff_lm_scores

        # doc_id is a prefixed STRING in the 10x construction — select
        # the reference slice by hash, not by integer mod
        timed("doc_lm_scores", scale, lambda: backoff_lm_scores(
            inp["docs"],
            inp["docs"].filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0),
        ).count())

        from smatchpp_spark.pipeline.text import collocations

        timed("doc_collocations", scale, lambda: collocations(
            inp["docs"], k=100, min_count=5
        ).count())

        from smatchpp_spark.pipeline.dedup import clone_pairs

        timed("doc_clone_pairs", scale, lambda: clone_pairs(
            inp["docs"], threshold=0.3
        ).count())

        from smatchpp_spark.pipeline.text import token_entropy

        timed("doc_entropy", scale, lambda: token_entropy(
            inp["docs"]
        ).count())

        from smatchpp_spark.pipeline.dedup import containment_pairs

        timed("doc_containment", scale, lambda: containment_pairs(
            inp["docs"], threshold=0.5
        ).count())

        from smatchpp_spark.pipeline.dedup import dedup_against

        timed("doc_dedup_against", scale, lambda: dedup_against(
            inp["docs"].filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0),
            inp["docs"].filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) != 0),
            threshold=0.3,
        ).count())
        from smatchpp_spark.operators.bfs import double_sweep_diameter
        from smatchpp_spark.operators.kcore import coreness

        timed("diameter_double_sweep_d6", scale, lambda: double_sweep_diameter(
            e_op, max_depth=6, directed=False
        ).count())
        # fixed 6 h-index rounds (identical work definition both scales)
        timed("coreness_6rounds", scale, lambda: coreness(
            e_op, max_supersteps=6
        ).coreness.count())

        # ---- round-7 operators ----
        from smatchpp_spark.operators.components import bipartite_check
        from smatchpp_spark.operators.graphstats import (
            community_conductance,
            transitivity,
        )
        from smatchpp_spark.operators.hits import salsa
        from smatchpp_spark.operators.linkpred import linkpred_scores as _lps
        from smatchpp_spark.operators.matching import maximal_matching
        from smatchpp_spark.pipeline.sketches import count_min_sketch
        from smatchpp_spark.pipeline.text import c4_filter, gopher_filter, tokens

        timed("salsa_5steps", scale, lambda: salsa(
            e_op, max_supersteps=5, tol=-1.0
        ).scores.count())
        timed("matching_2rounds", scale, lambda: maximal_matching(
            inp["e_co"], max_supersteps=2, tol=-1.0
        ).matched.count())
        timed("bipartite_check", scale, lambda: bipartite_check(
            inp["e_cust"]
        ).sides.count())
        # hash-derived 8-way labels work at both scales (the replicated
        # 10x ids carry an x{i}_ prefix, so no numeric parse)
        _verts = (
            inp["e_co"].select(F.col("src").alias("vertex"))
            .unionByName(inp["e_co"].select(F.col("dst").alias("vertex")))
            .distinct()
        )
        _labels = _verts.select(
            "vertex",
            F.pmod(F.xxhash64("vertex"), F.lit(8)).cast("string").alias("label"),
        )
        timed("community_conductance", scale, lambda: community_conductance(
            inp["e_co"], _labels
        ).count())
        timed("graph_transitivity", scale, lambda: transitivity(
            inp["e_co"]
        ).collect())
        timed("linkpred_jaccard_cap64", scale, lambda: _lps(
            inp["e_co"], method="jaccard", max_pivot_degree=64
        ).count())
        # 60-bit codes / 15-bit blocks: block buckets stay small at both
        # scales, so candidate volume tracks the true near-dup structure
        # (10 cross-copy dup cliques per base doc at 10x)
        timed("doc_simhash_clusters", scale, lambda: dedup.simhash_dedup_clusters(
            inp["docs"], bits=60, n_blocks=4, max_hamming=3
        ).count())
        timed("doc_c4_filter", scale, lambda: c4_filter(
            inp["docs"].select(
                "doc_id",
                F.replace(F.col("text"), F.lit(" a "), F.lit(".\n")).alias("text"),
            ),
            min_words_per_line=3, min_sentences=2,
        ).count())
        timed("doc_gopher_filter", scale, lambda: gopher_filter(
            inp["docs"], min_words=30, min_required_stopwords=1
        ).count())
        timed("doc_cms_build", scale, lambda: count_min_sketch(
            inp["docs"].select(F.explode(tokens("text")).alias("key")),
            "key", depth=4, width=256,
        ).count())

        # ---- round-7 late additions ----
        from smatchpp_spark.operators.hits import katz_centrality

        timed("katz_5steps", scale, lambda: katz_centrality(
            inp["e_co"], alpha=0.05, beta=1.0, max_supersteps=5, tol=-1.0
        ).scores.count())

        from smatchpp_spark.operators.graphstats import powerlaw_fit
        from smatchpp_spark.sources.rmat import rmat_edges

        timed("graph_powerlaw", scale, lambda: powerlaw_fit(
            e_op, d_min=3
        ).collect())
        # rmat work scales with requested edges — a pure zero-shuffle
        # scan projection, exponent ~1.0 by construction
        timed("rmat_generate", scale, lambda: rmat_edges(
            spark, scale=20, n_edges=500_000 * scale, seed=1
        ).agg(F.count(F.lit(1)), F.max("src")).collect())

        # ---- round-8 hub-skew twins (VERDICT r7 item 5): identical
        # operators on the planted-hub graphs; the guards cap the hub's
        # wedge contribution, so the 1x->10x exponent should track the
        # unhubbed rows instead of the hub's quadratic growth ----
        from smatchpp_spark.operators.sparsify import edge_embeddedness

        # embeddedness has no cap parameter: its wedge join is
        # degree-ORIENTED (pivot degree <= sqrt(2m) by construction), so
        # the hubbed row demonstrates the orientation itself absorbing
        # the star
        timed("embeddedness_hubbed", scale, lambda: edge_embeddedness(
            inp["e_co_hub"]
        ).count())

        from smatchpp_spark.pipeline.bpe import bpe_merges

        # one corpus scan for word freqs; the 4 merge rounds then work
        # on the vocab-sized word table (grows slower than the corpus —
        # heaps of duplicate words at 10x), so expect strongly sublinear
        timed("doc_bpe_4merges", scale, lambda: bpe_merges(
            inp["docs"], n_merges=4
        ).count())

        from smatchpp_spark.operators.incremental import pagerank_incremental
        from smatchpp_spark.operators.pagerank import pagerank

        # warm-started pagerank: the pagerank superstep dataflow plus an
        # L1 delta in the same observed aggregation — expect the
        # pagerank_10steps per-round profile (the warm start itself is
        # untimed: it models yesterday's stored ranks)
        _warm = pagerank(
            e_op, tol=-1.0, max_supersteps=5
        ).ranks.localCheckpoint(eager=True)
        _warm.count()
        timed("pagerank_incremental4", scale, lambda: pagerank_incremental(
            e_op, _warm, tol=-1.0, max_supersteps=4
        ).ranks.count())

        from smatchpp_spark.operators.pathalgebra import widest_path

        # the sssp dataflow under the (max, min) semiring: frontier
        # join + map-side max-groupBy + vertex-keyed merge per round
        _wp_seed = (
            e_op.select(F.least(F.min("src"), F.min("dst")).alias("s"))
            .collect()[0]["s"]
        )
        _wpe = e_op.withColumn(
            "weight",
            (F.pmod(F.xxhash64("src", "dst"), F.lit(7)) + 1).cast("long"),
        )
        timed("widest_path_8rounds", scale, lambda: widest_path(
            _wpe, [_wp_seed], max_supersteps=8, directed=False
        ).values.count())

        from smatchpp_spark.operators.incremental import cc_incremental

        # warm labels already ARE the fixpoint minima (the warm run is
        # untimed — it models yesterday's stored labels), so the timed
        # part is the no-op detection: one message round + the merge —
        # the incremental best case, graph-diameter-independent
        _cc_warm = connected_components(
            e_op
        ).components.localCheckpoint(eager=True)
        _cc_warm.count()
        timed("cc_incremental_warm", scale, lambda: cc_incremental(
            e_op, _cc_warm, max_supersteps=8
        ).components.count())

        from smatchpp_spark.operators.graphdiff import graph_diff

        # one distinct per side + full-outer edge-key join + degree aggs
        _gd_old = inp["e_co"].filter(F.xxhash64("src", "dst") % 3 != 0)
        timed("graph_snapshot_diff", scale, lambda: graph_diff(
            _gd_old, inp["e_co"]
        ).vertices.count())

        # -- round-7 late additions ---------------------------------------
        from smatchpp_spark.operators.graphstats import (
            centrality_rank_correlation,
        )
        from smatchpp_spark.pipeline.events import props_rollup
        from smatchpp_spark.pipeline.similarity import pq_codebooks, pq_topk
        from smatchpp_spark.pipeline.text import span_self_dedup

        timed("centrality_rank_corr", scale, lambda:
              centrality_rank_correlation(inp["e_co"]).collect())
        timed("emb_pq_topk", scale, lambda: pq_topk(
            inp["emb"], emb_queries,
            pq_codebooks(inp["emb"], m=4, n_codes=16), k=5,
        ).count())
        timed("doc_span_self_dedup", scale, lambda: span_self_dedup(
            inp["docs"], n=3).agg(F.sum("n_removed")).collect())
        timed("events_props_rollup", scale, lambda: props_rollup(
            inp["events"]).collect())

        from smatchpp_spark.operators.graphstats import (
            label_assortativity,
        )
        from smatchpp_spark.operators.simrank import simrank_scores

        # labels keyed off the vertex id suffix so replicated copies
        # keep the same K labels (matrix stays K², stubs scale 10x)
        lab = (
            inp["e_co"].select(F.col("src").alias("vertex"))
            .unionByName(inp["e_co"].select(F.col("dst").alias("vertex")))
            .distinct()
            .withColumn(
                "label", F.pmod(F.xxhash64("vertex"), F.lit(25)).cast("string")
            )
        )
        timed("graph_label_assortativity", scale, lambda:
              label_assortativity(inp["e_co"], lab).collect())
        # pair set fixed (the 1x query pairs); corpus/walk cost scales
        # with the graph the reverse walks traverse
        sr_keys = (
            inp["e_co"].select(F.col("src").alias("v")).distinct().limit(40)
        )
        sr_pairs = (
            sr_keys.withColumnRenamed("v", "id_a")
            .crossJoin(sr_keys.withColumnRenamed("v", "id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        timed("simrank_scores", scale, lambda: simrank_scores(
            inp["e_op"], sr_pairs, walk_length=3, walks_per_vertex=8
        ).count())

        from smatchpp_spark.operators.graphstats import transitivity_approx
        from smatchpp_spark.sources.configmodel import configuration_model

        cm_deg = (
            inp["e_co19"].select(F.col("src").alias("vertex"))
            .unionByName(inp["e_co19"].select(F.col("dst").alias("vertex")))
            .groupBy("vertex").agg(F.count(F.lit(1)).alias("deg"))
        )
        timed("config_model_edges", scale, lambda: configuration_model(
            cm_deg, seed=11).count())
        timed("transitivity_sampled", scale, lambda: transitivity_approx(
            inp["e_co"], draws_per_vertex=2).collect())

        from smatchpp_spark.operators.graphstats import partition_agreement

        pa_a = lab.select("vertex", F.col("label").alias("label"))
        pa_b = lab.select(
            "vertex",
            F.pmod(F.xxhash64("vertex", F.lit(1)), F.lit(25))
            .cast("string")
            .alias("label"),
        )
        timed("partition_agreement", scale, lambda: partition_agreement(
            pa_a, pa_b).collect())

        from smatchpp_spark.sources.encode import vertex_dictionary

        timed("vertex_encode", scale, lambda: vertex_dictionary(
            inp["e_op"]).count())

        from smatchpp_spark.operators.sparsify import local_sparsify

        timed("graph_sparsify", scale, lambda: local_sparsify(
            inp["e_co19"], exponent=0.5
        ).count())

        e_op.unpersist()

    fits = {}
    for name, t in results.items():
        expo = math.log(t[SCALE] / t[1]) / math.log(SCALE)
        fits[name] = {
            "t_1x_sec": t[1],
            f"t_{SCALE}x_sec": t[SCALE],
            "exponent": round(expo, 3),
        }

    out = {
        "metric": "scale_sweep_exponents",
        "sf_dir": sf_dir,
        "scale_factor": SCALE,
        "cpus": cpus,
        "queries": fits,
    }
    os.makedirs("BENCH", exist_ok=True)
    if only and os.path.exists("BENCH/scale_sweep.json"):
        with open("BENCH/scale_sweep.json") as fh:
            prev = json.load(fh)
        merged = dict(prev.get("queries", {}))
        merged.update(fits)
        fits = merged
        out["queries"] = fits
    with open("BENCH/scale_sweep.json", "w") as fh:
        fh.write(json.dumps(out, indent=2) + "\n")

    lines = [
        "# Scale sweep: 1x vs 10x input (same box, local[%d])" % cpus,
        "",
        "Per-query wall time at both scales and the fitted exponent",
        "log(t10/t1)/log(10).  1.0 = linear in input; <1.0 = fixed",
        "per-query overheads amortizing; >1.1 = superlinear hazard",
        "(plan note required).  Construction: 10 disjoint prefixed graph",
        "copies / perturbed doc copies — degree distribution preserved,",
        "ideal work exactly 10x (see tools/bench_scale_sweep.py).",
        "",
        "| query | t @1x (s) | t @10x (s) | exponent |",
        "|---|---|---|---|",
    ]
    for name, f in sorted(fits.items()):
        lines.append(
            f"| {name} | {f['t_1x_sec']} | {f[f't_{SCALE}x_sec']} | {f['exponent']} |"
        )
    # standing plan notes: each known-structural cost driver and its
    # designed escape hatch, so a hot row in the table above is never
    # unexplained (the numbers live in the table; these are the reasons)
    lines += [
        "",
        "## Plan notes (structural, run-to-run stable)",
        "",
        "* **bootstrap_bca_macro** — the reference-exact multinomial draw",
        "  joins a B×n draw spine against the pair table: an O(B·n)-row",
        "  shuffle that goes spill-bound superlinear at multi-M pairs.",
        "  Escape hatch: `bootstrap_bca_macro_poisson` (same CI to ~0.1",
        "  points, `resample='poisson'`) generates weights in the scan",
        "  projection and aggregates map-side — no draw-spine shuffle.",
        "  Poisson pays a higher fixed cost (the B-wide explode runs even",
        "  at small n), so multinomial stays the default below ~1M pairs",
        "  and the oracle-parity mode everywhere.",
        "* **triangle_counts** — wedge count grows with Σd²; the highest",
        "  exponent by design.  Escape hatch: `triangle_counts_approx_p02`",
        "  (DOULION p-sampling, ~p² work cut, unbiased, stderr column).",
        "* **emb_topk / emb_ivf_topk near-zero or negative exponents** —",
        "  the broadcast-query scoring pass is scan-bound and the scan",
        "  amortizes; negative values are box-noise around a flat cost.",
        "* **scc_bidirectional** — input is every edge made symmetric, so",
        "  each component peels in one FW-BW round and the row measures",
        "  the per-round dataflow (2 min-label fixpoints + peel).  The",
        "  peel-SEQUENCE length on adversarial DAGs is the documented",
        "  weakness of the FW-BW-MIN family (operators/scc.py docstring),",
        "  orthogonal to input scale.",
        "* **linkpred_aa_cap64** — wedge work per pivot is bounded by the",
        "  degree cap; the uncapped join shares triangles' Σd² growth.",
        "  The cap IS the production escape hatch (linkpred.py docstring).",
        "* **louvain_2x2** — each sweep is one LPA-vote-shaped join/agg",
        "  plus a community-totals broadcast; fixed sweep schedule means",
        "  work is sweeps × edges — expect ~linear.",
        "* **linkpred_ppr_3steps** — seed set scales with the graph (the",
        "  '000$' suffix pattern matches per-copy), state is seeds ×",
        "  3-hop ball; the batched-seed join is the multi-source BFS shape.",
        "* **dedup_clusters_hubbed** — the planted template star grows",
        "  with scale (20·scale identical docs), so its in-bucket pair",
        "  count grows ~scale² BY CONSTRUCTION (400 → 40k pairs) while",
        "  the corpus scan grows 10x; absolute pair counts stay tiny, CC",
        "  runs on the sparse pair graph only, and buckets past",
        "  max_bucket=1000 would be dropped entirely — a mildly",
        "  superlinear exponent here measures the planted quadratic,",
        "  not an engine hazard.",
        "* **random_walks_co_salted** — hub_threshold=64 routes heavy",
        "  co-purchase pivots through the salted neighbor-index build",
        "  (walks.py:39): max per-task sort ≈ deg/n_salts, so the",
        "  exponent tracks edges not max-degree.",
        "* **betweenness_d3** — truncated Brandes; sources scale with",
        "  the graph ('000$' per copy), so work is sources × k-hop ball:",
        "  ideal 10x. The DAG is built once and reused per backward",
        "  level; state is (source, vertex)-keyed equi-joins only.",
        "* **emb_dedup_clusters** — sign-decorrelated copies keep the",
        "  pair graph ~10x (construction note above); bucket equi-join",
        "  + sparse CC, never all-pairs.  Measured with the auto-bits",
        "  default (expected bucket size ~target_bucket at every N);",
        "  pinning 4-bit planes across scales measured exponent 1.162 —",
        "  the quadratic regime the auto escape exists for.",
        "* **sssp/mis/coloring/landmarks** — fixed round budgets at both",
        "  scales (the exponent fit needs an identical work definition;",
        "  coloring's full JP convergence is round-count-dependent).  All",
        "  four are frontier/active-set supersteps over vertex-keyed joins;",
        "  expected ≤ linear with large fixed floors.",
        "* **ktruss** — per-round support is the same wedge self-join as",
        "  triangle_counts, so its exponent tracks the triangle row (~0.93",
        "  at this density): O(m^1.5) work, orientation-bounded, documented",
        "  there; fixed 2 peeling rounds keep the work definition identical.",
        "* **rmat_generate** — zero-shuffle scan projection over",
        "  spark.range; work = requested edges, exponent ~1.0 BY",
        "  CONSTRUCTION (the row demonstrates generator throughput, not",
        "  an algorithmic profile).",
        "* **katz_5steps** — fixed round budget (identical work",
        "  definition both scales); a single join+agg superstep over",
        "  vertex-keyed state, the sssp/pagerank dataflow.",
        "* **graph_powerlaw** — one scan + map-side combined",
        "  aggregation; expect ~linear with a large fixed floor.",
        "* **doc_bpe_4merges** — one corpus scan builds word",
        "  frequencies; merge rounds then touch only the VOCAB-sized",
        "  word table, which barely grows when the corpus is 10",
        "  duplicated copies — hence the ~flat wall (exponent ~0.04),",
        "  exactly the word-frequency-table design argument.",
        "* **pagerank_incremental4** — pagerank(init=warm ranks): the",
        "  pagerank superstep, warm-started; per round it tracks the",
        "  pagerank_10steps profile, and the warm start cuts rounds.",
        "* **widest_path_8rounds** — the sssp frontier superstep under",
        "  the (max, min) semiring; fixed 8-round budget keeps the work",
        "  definition identical at both scales.",
        "* **cc_incremental_warm** — warm hash-min from stored labels",
        "  (the warm run is untimed: it models yesterday's output);",
        "  timed part = the no-op round that detects the fixpoint —",
        "  diameter-independent, the incremental best case.",
        "* **graph_snapshot_diff** — single-pass: distinct + full-outer",
        "  join + degree aggs, map-side combined.",
        "* This box is a shared VM: walls are best-of-2 minima, and the",
        "  residual noise band (±30% on join-heavy plans) moves exponents",
        "  by ~±0.1 between runs.  Compare the table's exponents, not its",
        "  absolute walls, across rounds.",
    ]
    with open("BENCH/SCALE_SWEEP.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
