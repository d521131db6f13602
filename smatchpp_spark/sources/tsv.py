"""TSV graph reader/writer (reference data_helpers.py:243-252, 440-445).

The TSV file column order is ``src<TAB>tgt<TAB>rel`` — note the swap when
mapping to the edge-table layout ``(src, rel, dst)``.  The reader is the
same one-``mapInPandas`` parse as the Penman reader
(``sources.penman.parse_with``) over ``graphkit.parse_tsv``; the writer is
pure column expressions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.functions.graphkit import parse_tsv
from smatchpp_spark.sources.penman import parse_with


def parse_tsv_edges(
    corpus: DataFrame,
    content_col: str = "content",
    id_col: str | None = None,
    standardize: Callable[[list], list] | None = None,
) -> DataFrame:
    """Corpus rows holding TSV graph blocks → edge table.

    ``graph_id`` defaults to sha256(content) (the row invariant); pass
    ``id_col`` to key by an existing column instead (e.g. a pair id)."""
    return parse_with(corpus, content_col, id_col, parse_tsv, standardize)


def write_tsv(edges: DataFrame) -> DataFrame:
    """Edge table → one TSV block per graph (src tgt rel column order)."""
    line = F.concat_ws("\t", "src", "dst", "rel")
    # collect_list gives no ordering guarantee under shuffles; sort the
    # (pos, line) structs after collection to keep output deterministic.
    return (
        edges.withColumn("line", line)
        .groupBy("graph_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("tsv")
        )
    )
