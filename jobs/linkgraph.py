"""spark-submit job for the link-graph suite (north-rule pipeline):

  spark-submit --py-files smatchpp_spark.zip jobs/linkgraph.py \
      --op pagerank|pagerank_incremental|hits|components|components_twophase \
           |cc_incremental|labelprop|triangles|degrees|kcore|coreness|ktruss \
           |bfs|scc|sssp|landmarks|betweenness|hyperball|clustering|linkpred \
           |walks|node2vec|louvain|mis|coloring|msf|widest_path \
           |reliable_path|graph_diff|encode|sparsify|embeddedness \
      --edges <parquet dir with (src, dst)> \
      [--src-col src] [--dst-col dst] \
      [--checkpoint-dir /ckpt] [--resume] [--max-supersteps N] \
      [--alpha 0.85] [--tol 1e-10] [--warm-ranks <parquet dir>] \
      [--max-fanout N] -o <output parquet dir>

--op pagerank and --op pagerank_incremental run the same operator
(operators/pagerank.py): cold, or warm-started from --warm-ranks.

Every iterative op checkpoints per-superstep state + metrics/lineage
under --checkpoint-dir (parquet + jsonl — the sandbox stand-in for the
Iceberg tables the production deployment would write; same layout
contract, see operators/supersteps.py) and resumes mid-iteration with
--resume.  A converged-summary JSON line goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="distributed link-graph analytics")
    p.add_argument("--op", required=True,
                   choices=["pagerank", "hits", "components", "components_twophase",
                            "labelprop", "triangles", "degrees", "kcore",
                            "bfs", "scc", "hyperball", "clustering",
                            "linkpred", "walks", "node2vec", "louvain",
                            "betweenness", "landmarks", "sssp",
                            "mis", "coloring", "msf", "ktruss", "coreness",
                            "pagerank_incremental", "widest_path",
                            "reliable_path", "graph_diff", "cc_incremental",
                            "encode", "sparsify", "embeddedness"])
    p.add_argument("--exponent", type=float, default=0.5,
                   help="sparsify: keep top-ceil(d^exponent) per vertex")
    p.add_argument("--edges-old", default=None,
                   help="graph_diff: parquet dir of the OLD snapshot "
                        "(--edges is the new one)")
    p.add_argument("--warm-ranks", default=None,
                   help="pagerank_incremental: parquet dir of (vertex, "
                        "rank) to warm-start from (e.g. yesterday's "
                        "pagerank output)")
    p.add_argument("--sweeps-per-level", type=int, default=8,
                   help="louvain: local-move sweeps per level")
    p.add_argument("--levels", type=int, default=2,
                   help="louvain: contraction levels")
    p.add_argument("--n-landmarks", type=int, default=16,
                   help="landmarks: top-degree landmark count when "
                        "--sources is not given")
    p.add_argument("--walk-length", type=int, default=5)
    p.add_argument("--walks-per-vertex", type=int, default=1)
    p.add_argument("--hub-threshold", type=int, default=10_000,
                   help="walks: sources with out-degree above this take "
                        "the SALTED neighbor-index build (walks.py) so a "
                        "hub never becomes a single whole-degree sort "
                        "task; 0/negative disables salting (the library "
                        "default). 10k keeps per-task sorts bounded while "
                        "leaving typical vertices on the cheap path")
    p.add_argument("--n-salts", type=int, default=16,
                   help="walks: salt buckets for hub index builds")
    p.add_argument("--p", type=float, default=1.0,
                   help="node2vec: return parameter (bias 1/p to revisit "
                        "the previous vertex)")
    p.add_argument("--q", type=float, default=1.0,
                   help="node2vec: in-out parameter (bias 1/q to explore "
                        "away from the previous vertex's neighborhood)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--method", default="adamic_adar",
                   help="linkpred: common_neighbors | adamic_adar | "
                        "resource_allocation | ppr (needs --sources seeds)")
    p.add_argument("--ppr-steps", type=int, default=3,
                   help="linkpred ppr: fixed power-iteration steps "
                        "(its own flag — --max-supersteps governs the "
                        "convergence-capped iterative ops, not this "
                        "fixed-step scorer)")
    p.add_argument("--top-k", type=int, default=None,
                   help="linkpred: keep only the global best pairs")
    p.add_argument("--max-pivot-degree", type=int, default=None,
                   help="linkpred: drop super-hub pivots (skew cap)")
    p.add_argument("--centrality", action="store_true",
                   help="hyperball: also accumulate harmonic centrality")
    p.add_argument("--k", type=int, default=3, help="kcore: the core order; ktruss: the truss order")
    p.add_argument("--edges", required=True,
                   help="parquet dir of the edge table, or (with "
                        "--edges-table) a catalog table name")
    p.add_argument("--edges-table", action="store_true",
                   help="read --edges as a catalog table — REQUIRED to keep "
                        "a bucketed layout (sources/bucketed.py): equi-joins "
                        "and aggs on the bucket key then run exchange-free")
    p.add_argument("--src-col", default="src")
    p.add_argument("--dst-col", default="dst")
    p.add_argument("--weight-col", default="weight",
                   help="sssp/msf: edge-weight column in the edge table")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-supersteps", type=int, default=100)
    p.add_argument("--alpha", type=float, default=0.85,
                   help="pagerank damping")
    p.add_argument("--sources", default=None,
                   help="pagerank: comma-separated teleport vertices, or "
                        "@/path/to/parquet with a vertex column — switches "
                        "to personalized pagerank; bfs/betweenness: the "
                        "seed/sampled-source set (required); landmarks: "
                        "explicit landmark set (default: top-degree pick)")
    p.add_argument("--undirected", action="store_true",
                   help="bfs: expand edges in both directions")
    p.add_argument("--tol", type=float, default=1e-10,
                   help="pagerank convergence threshold: max |delta rank| "
                        "when cold, L1 norm of the rank change when "
                        "warm-started (pagerank_incremental); negative "
                        "runs exactly --max-supersteps rounds")
    p.add_argument("--max-fanout", type=int, default=100_000,
                   help="sparsify: hub-bucket size cap (skew salt)")
    p.add_argument("-o", "--output", required=True, help="output parquet dir")
    p.add_argument("--master", default=None)
    return p


def main() -> None:
    args = build_arg_parser().parse_args()

    from pyspark.sql import functions as F

    from smatchpp_spark import get_spark

    spark = get_spark(app_name=f"smatchpp-linkgraph-{args.op}", master=args.master)

    src = (
        spark.table(args.edges) if args.edges_table
        else spark.read.parquet(args.edges)
    )
    edges = src.select(
        F.col(args.src_col).alias("src"), F.col(args.dst_col).alias("dst")
    )

    summary: dict = {"op": args.op}
    if args.op == "pagerank":
        from smatchpp_spark.operators.pagerank import pagerank

        sources = None
        if args.sources:
            if args.sources.startswith("@"):
                sources = spark.read.parquet(args.sources[1:])
            else:
                sources = args.sources.split(",")
        res = pagerank(
            edges,
            alpha=args.alpha,
            tol=args.tol,
            max_supersteps=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir,
            resume=args.resume,
            sources=sources,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.ranks, res.supersteps, res.converged
        )
    elif args.op == "hits":
        from smatchpp_spark.operators.hits import hits

        res = hits(
            edges, max_supersteps=args.max_supersteps, tol=args.tol,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.scores, res.supersteps, res.converged
        )
    elif args.op == "components":
        from smatchpp_spark.operators.components import connected_components

        res = connected_components(
            edges,
            max_supersteps=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir,
            resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.components, res.supersteps, res.converged
        )
    elif args.op == "components_twophase":
        from smatchpp_spark.operators.components import two_phase_components

        res = two_phase_components(edges, max_rounds=args.max_supersteps)
        out, summary["supersteps"], summary["converged"] = (
            res.components, res.supersteps, res.converged
        )
    elif args.op == "labelprop":
        from smatchpp_spark.operators.labelprop import label_propagation

        res = label_propagation(
            edges,
            max_supersteps=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir,
            resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.labels, res.supersteps, res.converged
        )
    elif args.op == "triangles":
        from smatchpp_spark.operators.triangles import triangle_count

        res = triangle_count(edges)
        out = res.per_vertex
        summary["total_triangles"] = res.total
    elif args.op == "bfs":
        from smatchpp_spark.operators.bfs import bfs_distances

        if not args.sources:
            raise SystemExit("--op bfs requires --sources")
        if args.sources.startswith("@"):
            seeds = spark.read.parquet(args.sources[1:])
        else:
            seeds = args.sources.split(",")
        res = bfs_distances(
            edges, seeds, max_depth=args.max_supersteps,
            directed=not args.undirected,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.distances, res.rounds, res.converged
        )
    elif args.op == "betweenness":
        from smatchpp_spark.operators.betweenness import betweenness_approx

        if not args.sources:
            raise SystemExit("--op betweenness requires --sources")
        if args.sources.startswith("@"):
            seeds = spark.read.parquet(args.sources[1:])
        else:
            seeds = args.sources.split(",")
        res = betweenness_approx(
            edges, seeds, max_depth=args.max_supersteps,
            directed=not args.undirected,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.scores, res.rounds, res.converged
        )
    elif args.op == "sssp":
        from smatchpp_spark.operators.sssp import sssp

        if not args.sources:
            raise SystemExit("--op sssp requires --sources")
        if args.sources.startswith("@"):
            seeds = spark.read.parquet(args.sources[1:])
        else:
            seeds = args.sources.split(",")
        wedges = src.select(
            F.col(args.src_col).alias("src"),
            F.col(args.dst_col).alias("dst"),
            F.col(args.weight_col).alias("weight"),
        )
        res = sssp(
            wedges, seeds, weight_col="weight",
            max_supersteps=args.max_supersteps,
            directed=not args.undirected,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.distances, res.rounds, res.converged
        )
    elif args.op == "landmarks":
        from smatchpp_spark.operators.landmarks import (
            landmark_distances,
            pick_landmarks,
        )

        if args.sources:
            if args.sources.startswith("@"):
                lms = spark.read.parquet(args.sources[1:])
            else:
                lms = args.sources.split(",")
        else:
            lms = pick_landmarks(
                edges, k=args.n_landmarks, directed=not args.undirected
            )
        res = landmark_distances(
            edges, lms, max_depth=args.max_supersteps,
            directed=not args.undirected,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.distances, res.rounds, res.converged
        )
    elif args.op == "mis":
        from smatchpp_spark.operators.mis import maximal_independent_set

        res = maximal_independent_set(
            edges, max_supersteps=args.max_supersteps, seed=args.seed,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.members, res.rounds, res.converged
        )
    elif args.op == "coloring":
        from smatchpp_spark.operators.coloring import greedy_coloring

        res = greedy_coloring(
            edges, max_supersteps=args.max_supersteps, seed=args.seed,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.colors, res.rounds, res.converged
        )
        summary["n_colors"] = res.n_colors
    elif args.op == "msf":
        from smatchpp_spark.operators.msf import minimum_spanning_forest

        wedges = src.select(
            F.col(args.src_col).alias("src"),
            F.col(args.dst_col).alias("dst"),
            F.col(args.weight_col).alias("weight"),
        )
        res = minimum_spanning_forest(
            wedges, max_rounds=args.max_supersteps,
        )
        out = res.forest
        summary["supersteps"] = res.rounds
        summary["converged"] = res.converged
        summary["n_edges"] = res.n_edges
        summary["total_weight"] = res.total_weight
    elif args.op == "ktruss":
        from smatchpp_spark.operators.ktruss import ktruss

        res = ktruss(edges, k=args.k, max_rounds=args.max_supersteps)
        out = res.edges
        summary["supersteps"] = res.rounds
        summary["converged"] = res.converged
    elif args.op == "coreness":
        from smatchpp_spark.operators.kcore import coreness

        res = coreness(
            edges, max_supersteps=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.coreness, res.rounds, res.converged
        )
    elif args.op == "kcore":
        from smatchpp_spark.operators.kcore import k_core

        res = k_core(
            edges, k=args.k, max_rounds=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.vertices, res.rounds, res.converged
        )
    elif args.op == "scc":
        from smatchpp_spark.operators.scc import strongly_connected_components

        res = strongly_connected_components(
            edges, max_rounds=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.components, res.rounds, res.converged
        )
    elif args.op == "hyperball":
        from smatchpp_spark.operators.hyperball import hyperball

        res = hyperball(
            edges, max_rounds=args.max_supersteps,
            directed=not args.undirected, centrality=args.centrality,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out = res.balls
        summary["supersteps"] = res.rounds
        summary["converged"] = res.converged
        summary["effective_diameter"] = res.effective_diameter
        summary["nf_curve"] = [
            [int(r.r), float(r.nf_estimate)]
            for r in res.neighborhood_function.collect()
        ]
    elif args.op == "clustering":
        from smatchpp_spark.operators.graphstats import clustering_coefficient

        out = clustering_coefficient(edges)
    elif args.op == "linkpred":
        if args.method == "ppr":
            from smatchpp_spark.operators.linkpred import linkpred_ppr

            if not args.sources:
                raise SystemExit("--method ppr requires --sources (seeds)")
            if args.sources.startswith("@"):
                seeds = spark.read.parquet(args.sources[1:])
            else:
                seeds = args.sources.split(",")
            out = linkpred_ppr(
                edges, seeds, steps=args.ppr_steps, alpha=args.alpha,
                top_k=args.top_k,
            )
        else:
            from smatchpp_spark.operators.linkpred import linkpred_scores

            out = linkpred_scores(
                edges, method=args.method, top_k=args.top_k,
                max_pivot_degree=args.max_pivot_degree,
            )
    elif args.op == "louvain":
        from smatchpp_spark.operators.louvain import louvain_communities

        res = louvain_communities(
            edges, sweeps_per_level=args.sweeps_per_level,
            levels=args.levels,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out = res.communities
        summary["levels"] = res.levels
    elif args.op == "cc_incremental":
        from smatchpp_spark.operators.incremental import cc_incremental

        if not args.warm_ranks:
            raise SystemExit(
                "--op cc_incremental requires --warm-ranks "
                "(prior components output parquet: vertex, component)"
            )
        res = cc_incremental(
            edges, spark.read.parquet(args.warm_ranks),
            max_supersteps=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
            edges_old=(
                spark.read.parquet(args.edges_old)
                if args.edges_old else None
            ),
        )
        out, summary["supersteps"], summary["converged"] = (
            res.components, res.supersteps, res.converged
        )
    elif args.op == "graph_diff":
        from smatchpp_spark.operators.graphdiff import graph_diff

        if not args.edges_old:
            raise SystemExit("--op graph_diff requires --edges-old")
        res = graph_diff(spark.read.parquet(args.edges_old), edges)
        print(f"graph_diff: added={res.n_added} removed={res.n_removed} "
              f"kept={res.n_kept}")
        summary["n_added"], summary["n_removed"], summary["n_kept"] = (
            res.n_added, res.n_removed, res.n_kept
        )
        out = res.vertices
    elif args.op in ("widest_path", "reliable_path"):
        from smatchpp_spark.operators.pathalgebra import (
            most_reliable_path,
            widest_path,
        )

        if not args.sources:
            raise SystemExit(f"--op {args.op} requires --sources")
        if args.sources.startswith("@"):
            seeds = spark.read.parquet(args.sources[1:])
        else:
            seeds = args.sources.split(",")
        wedges = src.select(
            F.col(args.src_col).alias("src"),
            F.col(args.dst_col).alias("dst"),
            F.col(args.weight_col).alias("weight"),
        )
        fn = widest_path if args.op == "widest_path" else (
            lambda e, s, **kw: most_reliable_path(
                e, s, prob_col="weight", **kw
            )
        )
        res = fn(
            wedges, seeds, max_supersteps=args.max_supersteps,
            directed=not args.undirected,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out, summary["supersteps"], summary["converged"] = (
            res.values, res.rounds, res.converged
        )
    elif args.op == "pagerank_incremental":
        from smatchpp_spark.operators.incremental import pagerank_incremental

        if not args.warm_ranks:
            raise SystemExit(
                "--op pagerank_incremental requires --warm-ranks "
                "(prior pagerank output parquet)"
            )
        res = pagerank_incremental(
            edges, spark.read.parquet(args.warm_ranks),
            alpha=args.alpha, tol=args.tol,
            max_supersteps=args.max_supersteps,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        print(f"pagerank_incremental: supersteps={res.supersteps} "
              f"converged={res.converged} delta_l1={res.delta_l1:.3e}")
        out, summary["supersteps"], summary["converged"] = (
            res.ranks, res.supersteps, res.converged
        )
    elif args.op == "encode":
        from smatchpp_spark.sources.encode import vertex_dictionary

        out = vertex_dictionary(edges, seed=args.seed)
    elif args.op == "sparsify":
        from smatchpp_spark.operators.sparsify import local_sparsify

        out = local_sparsify(edges, exponent=args.exponent,
                             max_fanout=args.max_fanout)
    elif args.op == "embeddedness":
        from smatchpp_spark.operators.sparsify import edge_embeddedness

        out = edge_embeddedness(edges)
    elif args.op == "walks":
        from smatchpp_spark.operators.walks import random_walks

        out = random_walks(
            edges, walk_length=args.walk_length,
            walks_per_vertex=args.walks_per_vertex, seed=args.seed,
            hub_threshold=(
                args.hub_threshold if args.hub_threshold > 0 else None
            ),
            n_salts=args.n_salts,
        )
    elif args.op == "node2vec":
        from smatchpp_spark.operators.walks import biased_random_walks

        out = biased_random_walks(
            edges, walk_length=args.walk_length,
            walks_per_vertex=args.walks_per_vertex, seed=args.seed,
            p=args.p, q=args.q,
        )
    else:  # degrees
        from smatchpp_spark.operators.degrees import degrees

        out = degrees(edges)

    out.write.mode("overwrite").parquet(args.output)
    summary["output"] = args.output
    summary["rows"] = spark.read.parquet(args.output).count()
    print(json.dumps(summary), file=sys.stdout)
    spark.stop()


if __name__ == "__main__":
    main()
