"""spark-submit job mirroring the reference CLI (__main__.py:4-214):

  spark-submit --py-files smatchpp_spark.zip jobs/score_corpus.py \
      -a corpus_a.parquet -b corpus_b.parquet \
      [--graph_type amr|generic|none] [--solver auto|exhaustive|hillclimber]
      [--score_type micro|macro|micromacro|pairwise]
      [--score_dimension main|all-onealign|all-multialign]
      [--input_format penman|tsv] [--output_format json|text]
      [--bootstrap] [--lossless_graph_compression] [--remove_duplicates]
      [--edge_relabel] [--pair_col pair_id] [-o out_dir]

Inputs are parquet corpus tables with (pair_col, content) columns; with
``--penman_files`` the inputs are instead reference-style corpus text
files (graphs separated by blank lines, ``# ::`` metadata dropped —
data_helpers.py:7-16), paired positionally like the reference CLI and
read fully distributed (sources.penman.read_penman_corpus).
"""

from __future__ import annotations

import argparse
import json


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="distributed smatch corpus scoring")
    p.add_argument("-a", required=True, help="corpus A (parquet dir or penman file)")
    p.add_argument("-b", required=True, help="corpus B (parquet dir or penman file)")
    p.add_argument("--graph_type", default="generic", choices=["amr", "generic", "none"])
    p.add_argument("--solver", default="auto",
                   choices=["auto", "bnb", "exhaustive", "hillclimber", "dummy"])
    p.add_argument("--score_type", default="micromacro",
                   choices=["micro", "macro", "micromacro", "pairwise"])
    p.add_argument("--score_dimension", default="main",
                   choices=["main", "all-onealign", "all-multialign"],
                   help="main: whole-graph Smatch; all-*: per-aspect "
                        "fine-grained scores (reference __main__.py:48-57)")
    p.add_argument("--input_format", default="penman", choices=["penman", "tsv"],
                   help="content interpretation (reference -input_format)")
    p.add_argument("--output_format", default="json", choices=["json", "text"],
                   help="stdout format (reference -output_format)")
    p.add_argument("--bootstrap", action="store_true")
    p.add_argument("--bootstrap_method", default="bca",
                   choices=["bca", "percentile"],
                   help="bca matches the reference's scipy default; "
                        "percentile is the deterministic oracle mode")
    p.add_argument("--lossless_graph_compression", action="store_true")
    p.add_argument("--remove_duplicates", action="store_true")
    p.add_argument("--edge_relabel", action="store_true",
                   help="apply the bundled PropBank frame-conditioned edge "
                        "relabel before aspect extraction (all-* dims only)")
    p.add_argument("--pair_col", default="pair_id")
    p.add_argument("--penman_files", action="store_true",
                   help="inputs are reference-style text corpora")
    p.add_argument("-o", "--output", default=None, help="optional parquet out dir")
    p.add_argument("--log_level", "-log_level", type=int, default=20,
                   choices=list(range(0, 60, 10)),
                   help="python logging level for the driver-side job "
                        "logger (reference __main__.py:19 -log_level; "
                        "same int scale)")
    p.add_argument("--master", default=None)
    return p


def read_penman_file(spark, path: str):
    """Distributed blank-line corpus reader (kept as the job-level name;
    see sources.penman.read_penman_corpus for semantics + citations)."""
    from smatchpp_spark.sources.penman import read_penman_corpus

    return read_penman_corpus(spark, path)


def _print_results(out: dict, output_format: str) -> None:
    if output_format == "json":
        print(json.dumps(out, default=str))
        return
    for section, rows in out.items():
        print("-------------------------------")
        print(f"---------{section} scores----------")
        print("-------------------------------")
        for row in rows:
            print("   ".join(f"{k}: {v}" for k, v in row.items()))


def _print_optimality_epilogue(pairs_df) -> None:
    """Corpus solver-status summary, mirroring reference __main__.py:203-213:
    sum the per-pair (lower, upper) bounds and count pairs whose gap
    exceeds 1 triple (non-ensured-optimal).  One tiny map-side-combined
    aggregation over the per-pair stats frame; printed to stderr so json
    stdout stays parseable."""
    import sys

    from pyspark.sql import functions as F

    if pairs_df is None or "upper_bound" not in pairs_df.columns:
        return
    row = pairs_df.agg(
        F.sum("lower_bound").alias("lb"),
        F.sum("upper_bound").alias("ub"),
        F.sum(
            F.when(F.col("upper_bound") - F.col("lower_bound") > 1.0, 1).otherwise(0)
        ).alias("non_optimal"),
    ).first()
    print(
        "Finished. Optimal status, lower & upper bound: "
        f"[{float(row.lb or 0.0)}, {float(row.ub or 0.0)}] "
        f"Pairs that do not have ensured optimal solution: {int(row.non_optimal or 0)}",
        file=sys.stderr,
    )


def main() -> None:
    args = build_arg_parser().parse_args()

    import logging

    logging.basicConfig(level=args.log_level)
    logging.getLogger("smatchpp-spark").setLevel(args.log_level)

    from smatchpp_spark import get_spark
    from smatchpp_spark.engine import EngineConfig, SmatchppSpark
    from smatchpp_spark.operators.align import AlignConfig

    spark = get_spark(app_name="smatchpp-score-corpus", master=args.master)

    if args.penman_files:
        ca = read_penman_file(spark, args.a)
        cb = read_penman_file(spark, args.b)
        pair_col = "pair_id"
    else:
        ca = spark.read.parquet(args.a)
        cb = spark.read.parquet(args.b)
        pair_col = args.pair_col

    edge_rules = None
    if args.edge_relabel:
        from smatchpp_spark.functions.amr_rules import semantic_edge_rules

        edge_rules = semantic_edge_rules()

    cfg = EngineConfig(
        standardizer=args.graph_type,
        score_type=args.score_type,
        align=AlignConfig(
            solver=args.solver, compress=args.lossless_graph_compression
        ),
        bootstrap=args.bootstrap,
        bootstrap_method=args.bootstrap_method,
        input_format=args.input_format,
        remove_duplicates=args.remove_duplicates,
        edge_rules=edge_rules,
    )
    engine = SmatchppSpark(cfg)

    if args.score_dimension != "main":
        results = engine.score_dimensions(
            ca, cb, pair_col=pair_col, dimension=args.score_dimension
        )
    else:
        results = engine.score_corpus(ca, cb, pair_col=pair_col)

    out = {}
    for name, df in results.items():
        if name == "pairs":
            if args.output:
                df.write.mode("overwrite").parquet(f"{args.output}/pairs")
            continue
        out[name] = [r.asDict() for r in df.collect()]
    _print_results(out, args.output_format)
    _print_optimality_epilogue(results.get("pairs"))
    spark.stop()


if __name__ == "__main__":
    main()
