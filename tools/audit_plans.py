"""Capture physical plans of headline queries into PLANS.md — evidence
that scans prune/push down, small sides broadcast, joins stay JVM-side,
and whole-stage codegen covers the hot paths."""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"

CHECKS = {
    "vertex_encode": [
        ("ReadSchema: struct<l_orderkey:bigint>",
         "column pruning per union branch: the src-endpoint scan reads "
         "ONE of 11 lineitem columns (the dst branch reads l_partkey)"),
        ("BroadcastHashJoin",
         "the 256-row bucket-offset spine broadcasts — no global window "
         "ever sees the V-row dictionary"),
        ("HashAggregate",
         "per-bucket counts combine map-side before the offset scan"),
    ],
    "doc_lm_scores": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "LM training + scoring read 2 of 5 document columns"),
        ("HashAggregate",
         "unigram/bigram counts and the per-(doc,v,w) pre-combine all "
         "aggregate map-side before their shuffles"),
    ],
    "doc_dedup_against": [
        ("LeftSemi",
         "the corpus-side mega-bucket guard is a semi-join — oversized "
         "buckets never reach the band join"),
        ("HashAggregate",
         "band-bucket sizes and the best-match argmax combine map-side"),
    ],
    "doc_repetition": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "ONE scan of 2/5 document columns feeds lines + both gram sizes "
         "(tagged-struct concat — not a union of projections)"),
        ("BroadcastHashJoin LeftOuter",
         "per-doc feature table broadcasts back onto the id spine"),
    ],
    "doc_line_dedup": [
        ("ReadSchema: struct<text:string>",
         "the corpus-wide boilerplate count side reads ONLY text"),
        ("HashAggregate",
         "line counts combine map-side before the shuffle"),
    ],

    "degrees": [
        ("ReadSchema: struct<l_orderkey:bigint>",
         "column pruning per union branch: each endpoint scan reads ONE of "
         "11 lineitem columns"),
        ("codegen id", "hot path inside whole-stage codegen"),
    ],
    "emb_cosine_topk": [
        ("BroadcastExchange", "query side broadcast — no shuffle of the corpus side"),
        ("PushedFilters: [IsNotNull(vec_id)]",
         "predicate pushdown reaches the parquet scan"),
    ],
    "reentrancies": [
        ("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int>",
         "triple-table derivation prunes to the 4-5 source columns it needs"),
        ("FlatMapGroupsInPandas",
         "one per-graph Python pass (reentrancy_rows) behind a single "
         "shuffle on graph_id"),
    ],
    "doc_exact_dedup": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "2 of 5 document columns scanned"),
        ("HashAggregate", "map-side partial aggregation absorbs duplicates"),
    ],
    "edge_relabel": [
        ("FlatMapGroupsInPandas",
         "one per-graph Python pass (relabel_edges_rows, the rule the "
         "aspect extractor applies) behind a single shuffle on graph_id"),
    ],
    "emb_hyperplane_topk": [
        ("HashJoin",
         "candidate generation is an equi-join on the bucket key "
         "(broadcast here because the probe side is tiny at this sf; "
         "shuffled-hash/sort-merge on the bucket key at scale — never "
         "all-pairs)"),
        ("PushedFilters: [IsNotNull(vec_id)]",
         "query-side filter reaches the parquet scan"),
    ],
    "emb_ivf_topk": [
        ("BroadcastExchange",
         "the exploded (query × nprobe cells) side broadcasts — the "
         "corpus computes its cell inside the scan projection and never "
         "shuffles for candidate generation"),
        ("PushedFilters: [IsNotNull(vec_id)]",
         "predicate pushdown reaches the parquet scan"),
    ],
    "bootstrap_ci": [
        ("BroadcastExchange",
         "bucket-offset spine (≤1024 rows) broadcasts back to the pairs"),
        ("ReadSchema: struct<o_orderkey:bigint>",
         "stats derivation reads ONE of 9 orders columns"),
    ],
    "linkpred_common_neighbors": [
        ("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>",
         "edge derivation reads 2 of 11 lineitem columns"),
        ("HashAggregate",
         "pair scores accumulate with map-side partial aggregation"),
        ("codegen id",
         "wedge join + score projection stay in whole-stage codegen"),
    ],
    "clustering_coefficient": [
        ("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>",
         "the co-purchase wedge pipeline scans only the 2 key columns"),
        ("HashAggregate",
         "degree and corner counts combine map-side (hub-safe)"),
    ],
    "graph_snapshot_diff": [
        ("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int>",
         "the old-snapshot scan prunes to the 3 key columns and pushes "
         "the l_linenumber filter"),
        ("PushedFilters: [IsNotNull(l_linenumber), LessThanOrEqual(l_linenumber,5)]",
         "snapshot predicate reaches the parquet scan"),
        ("HashAggregate",
         "degree deltas combine map-side; the edge-key full-outer join "
         "is the only wide exchange"),
    ],
    "degree_assortativity": [
        ("HashAggregate",
         "the whole statistic is ONE global moment aggregation — "
         "partials combine map-side, a single row reaches the driver"),
        ("codegen id", "moment arithmetic inside whole-stage codegen"),
    ],
    "doc_substring_dedup": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "2 of 5 document columns reach the gram posexplode"),
        ("HashAggregate",
         "distinct-doc gram counts combine map-side on the uniform "
         "gram-hash key"),
        ("Window",
         "the run-merge window partitions BY DOCUMENT — its sort is "
         "bounded by one document's gram count, never corpus size"),
    ],
    "linkpred_ppr": [
        ("Window",
         "per-seed top-k is one window partitioned by seed (ball-sized "
         "groups), not a global sort"),
        ("codegen id",
         "score projection and exclusion join stay in codegen; the PPR "
         "state itself is localCheckpoint-staged per step (see "
         "operators/linkpred.py)"),
    ],
    "doc_gopher_filter": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "all six Gopher rules ride ONE scan of 2/5 document columns"),
        ("codegen id",
         "the whole rule projection is a stateless codegen span — no "
         "shuffle, no join"),
    ],
    "doc_c4_filter": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "line retention + page rules + clean_text rejoin in ONE scan "
         "projection"),
        ("codegen id", "pure projection stays in whole-stage codegen"),
    ],
    "doc_simhash_neardup": [
        ("HashAggregate",
         "per-pair shared-block counting combines map-side; candidates "
         "come from the (block_idx, block_val) equi-join, never all-pairs"),
        ("codegen id",
         "the per-bit vote and block split stay in whole-stage codegen"),
    ],
    "doc_cms_wordcounts": [
        ("BroadcastExchange",
         "the ≤ depth×width sketch broadcasts to the probe side — "
         "estimates never shuffle the sketch"),
        ("HashAggregate",
         "cell counts combine map-side: the shuffle is bounded by "
         "depth×width per partition regardless of corpus size"),
    ],
    "community_conductance": [
        ("HashAggregate",
         "volume/cut/member counts combine map-side over the label key"),
        ("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>",
         "co-purchase edge derivation prunes to the 2 key columns"),
    ],
    "emb_pq_topk": [
        ("BroadcastExchange",
         "the query side (with its subspace-0 cell) broadcasts — the "
         "corpus encodes its PQ codes inside the scan projection and "
         "never shuffles for candidate generation"),
        ("PushedFilters: [IsNotNull(vec_id)]",
         "predicate pushdown reaches the parquet scan"),
    ],
    "doc_span_self_dedup": [
        ("ReadSchema: struct<doc_id:bigint,text:string>",
         "2 of 5 document columns scanned for gram + token explodes"),
        ("HashAggregate",
         "per-(doc, gram) first-position agg combines map-side"),
    ],
    "centrality_rank_correlation": [
        ("Window",
         "the only Window operators are the Spearman rank-from-histogram "
         "cumulative sums; they run over the distinct-VALUE histograms, "
         "never the per-vertex rows (bound measured below)"),
        ("HashAggregate",
         "the value histograms groupBy(value).count() combine map-side "
         "before the single-task window ever sees a row"),
    ],
}


def _windowed_relation_bound(spark, em) -> list[str]:
    """VERDICT r7 #4: prove the Spearman no-partition windows benign by
    MEASURING the windowed relations.  The two windows run over the
    distinct-degree and distinct-triangle-count histograms; both are
    O(sqrt) of the edge/wedge count (graphstats.py spearman docstring),
    so state the measured rows next to the per-vertex row count they
    replace."""
    from pyspark.sql import functions as F

    from smatchpp_spark.operators.graphstats import undirected_simple
    from smatchpp_spark.operators.triangles import triangle_count

    e = em._e_co(spark, SF)
    und = undirected_simple(e)
    deg = und.groupBy(F.col("a").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    n_vertices = deg.count()
    dx = deg.select("degree").distinct().count()
    tri = triangle_count(e).per_vertex
    dy = tri.select("triangles").distinct().count() + 1  # +1 for the 0 bucket
    m = und.count() // 2
    bound = int(2 * (2 * m) ** 0.5) + 16
    ok_x, ok_y = dx <= bound, dy <= bound
    return [
        f"- {'✓' if ok_x else '✗'} degree-window input: {dx} distinct "
        f"degree values (≤ 2·sqrt(2m)+16 = {bound}) vs {n_vertices} "
        "per-vertex rows — the window task is histogram-sized",
        f"- {'✓' if ok_y else '✗'} triangle-window input: {dy} distinct "
        f"triangle counts (≤ {bound}) vs {n_vertices} per-vertex rows",
    ]


def main() -> None:
    import __spark_entry__ as em
    from smatchpp_spark import get_spark

    # AQE off for the audit only: adaptive plans print as unresolved
    # AdaptiveSparkPlan wrappers, hiding codegen annotations; the static
    # plan shows the same operators plus [codegen id] spans
    spark = get_spark(
        master="local[8]", shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    qs = em.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Captured from `.explain('formatted')` at sf0.01 "
        "(`python tools/audit_plans.py`). What to look for in each:",
        "",
    ]
    for name, checks in CHECKS.items():
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the tree + scan/exchange detail lines, drop the node dump noise
        tree = plan.split("\n\n")[0]
        details = "\n".join(
            line
            for line in plan.splitlines()
            if re.search(r"ReadSchema|PushedFilters|Batched|codegen id", line)
        )
        out.append(f"## {name}")
        out.append("")
        for needle, why in checks:
            status = "✓" if needle in plan else "✗"
            out.append(f"- {status} `{needle}` — {why}")
        if name == "centrality_rank_correlation":
            out.extend(_windowed_relation_bound(spark, em))
        out.append("")
        out.append("```")
        out.append(tree.strip())
        if details:
            out.append("-- scan details --")
            out.append(details)
        out.append("```")
        out.append("")
    with open("/root/repo/PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
