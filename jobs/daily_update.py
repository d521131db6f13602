"""Daily link-graph maintenance — the incremental pipeline as one
spark-submit job.

    spark-submit --py-files smatchpp_spark.zip jobs/daily_update.py \\
        --edges /data/crawl/2026-08-18/edges --state-dir /state/webgraph

Each run:
  1. diffs today's edge snapshot against the one recorded in
     ``state-dir`` (operators/graphdiff.py) and prints the churn
     summary — the number that says whether incremental is worth it;
  2. updates connected components — warm hash-min (cc_incremental)
     when the delta is additions-only, honest cold rerun otherwise
     (removals can split components; the guard decides, not a flag);
  3. updates PageRank warm-started (pagerank_incremental, i.e.
     pagerank(init=...)) from the previous run's ranks — correct
     under ANY delta (the fixpoint is unique; the warm start only
     buys rounds);
  4. commits the new snapshot/labels/ranks under
     ``state-dir/run=<n>`` with _SUCCESS-gated reads, so a crashed run
     never corrupts yesterday's state.

First run (empty state dir) does cold CC + cold-equivalent PageRank
and seeds the state.  Emits ONE JSON summary line (the jobs/
convention) for the orchestrator to parse.
"""

from __future__ import annotations

import argparse
import json
import os


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="incremental daily link-graph maintenance"
    )
    p.add_argument("--edges", required=True,
                   help="parquet dir of TODAY's (src, dst) snapshot")
    p.add_argument("--state-dir", required=True,
                   help="persistent dir holding the previous snapshot, "
                        "component labels and ranks")
    p.add_argument("--src-col", default="src")
    p.add_argument("--dst-col", default="dst")
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--tol", type=float, default=1e-10)
    p.add_argument("--max-supersteps", type=int, default=200)
    p.add_argument("--master", default=None)
    return p


def _latest_run(state_dir: str) -> int | None:
    if not os.path.isdir(state_dir):
        return None
    runs = [
        int(d.split("=", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("run=")
        and os.path.exists(os.path.join(state_dir, d, "edges", "_SUCCESS"))
    ]
    return max(runs) if runs else None


def main() -> None:
    args = build_arg_parser().parse_args()

    from pyspark.sql import functions as F

    from smatchpp_spark import get_spark
    from smatchpp_spark.operators.components import connected_components
    from smatchpp_spark.operators.graphdiff import graph_diff
    from smatchpp_spark.operators.incremental import (
        cc_incremental,
        pagerank_incremental,
    )

    spark = get_spark(app_name="smatchpp-daily-update", master=args.master)
    edges = spark.read.parquet(args.edges).select(
        F.col(args.src_col).alias("src"), F.col(args.dst_col).alias("dst")
    )
    summary: dict = {"op": "daily_update"}

    prev = _latest_run(args.state_dir)
    run_id = 0 if prev is None else prev + 1
    out = os.path.join(args.state_dir, f"run={run_id}")

    if prev is None:
        summary["mode"] = "bootstrap"
        comp = connected_components(
            edges, max_supersteps=args.max_supersteps
        )
        components = comp.components
        summary["cc_supersteps"] = comp.supersteps
        warm_ranks = spark.createDataFrame(
            [], "vertex string, rank double"
        )
    else:
        prev_dir = os.path.join(args.state_dir, f"run={prev}")
        old_edges = spark.read.parquet(os.path.join(prev_dir, "edges"))
        diff = graph_diff(old_edges, edges)
        summary.update(
            n_added=diff.n_added,
            n_removed=diff.n_removed,
            n_kept=diff.n_kept,
        )
        old_labels = spark.read.parquet(
            os.path.join(prev_dir, "components")
        )
        if diff.n_removed == 0:
            summary["mode"] = "incremental"
            comp = cc_incremental(
                edges, old_labels, max_supersteps=args.max_supersteps
            )
        else:
            # removals can split components: the warm start is unsound,
            # so fall back to a cold run — correctness over cleverness
            summary["mode"] = "cold_cc_removals"
            comp = connected_components(
                edges, max_supersteps=args.max_supersteps
            )
        components = comp.components
        summary["cc_supersteps"] = comp.supersteps
        warm_ranks = spark.read.parquet(os.path.join(prev_dir, "ranks"))

    pr = pagerank_incremental(
        edges,
        warm_ranks,
        alpha=args.alpha,
        tol=args.tol,
        max_supersteps=args.max_supersteps,
    )
    summary["pr_supersteps"] = pr.supersteps
    summary["pr_converged"] = pr.converged
    summary["pr_delta_l1"] = pr.delta_l1

    # commit order: ranks/components first, edges LAST — _latest_run
    # keys on edges/_SUCCESS, so a partial run is never selected
    components.write.mode("overwrite").parquet(
        os.path.join(out, "components")
    )
    pr.ranks.write.mode("overwrite").parquet(os.path.join(out, "ranks"))
    edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
    summary["run_id"] = run_id
    summary["rows"] = pr.ranks.count()
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
