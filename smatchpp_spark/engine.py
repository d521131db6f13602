"""Corpus-level engine facade — the DataFrame equivalent of the
reference's ``Smatchpp`` bindings (bindings.py:8-159) and CLI
(__main__.py:4-214).

Pipeline: corpus table(s) → parse + standardize → pairwise align+score →
micro / macro / pairwise aggregation.  Parse and standardize are one
``mapInPandas`` stage: each row's content is parsed and its graph run
through the per-graph standardizer
(``operators.standardize.graph_standardizer``) in the same Arrow batch,
so the edge table reaches alignment without a shuffle.  The per-pair
alignment kernel (one ``groupBy(pair_id).applyInPandas``) is the only
other Python stage; ``score_corpus`` computes the per-pair stats once,
behind a lazy ``localCheckpoint``, and derives every score frame from
them.

Pairing: the reference pairs two files positionally (__main__.py:112-115).
Positional row pairing is undefined in a distributed table, so pairs are
keyed explicitly by a ``pair_id`` column; ``pair_by_position`` attaches
one to small corpora for reference-parity workflows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from smatchpp_spark.functions.scores import (
    bootstrap_micro,
    drop_empty_pairs,
    macro_scores,
    micro_scores,
    pairwise_scores,
)
from smatchpp_spark.operators.align import (
    AlignConfig,
    align_and_score,
    align_and_score_dimensions,
)
from smatchpp_spark.operators.standardize import graph_standardizer, per_graph
from smatchpp_spark.sources.penman import goodmami_parse_edges, parse_edges
from smatchpp_spark.sources.tsv import parse_tsv_edges

# content interpretation (reference -input_format / GraphReaderFactory,
# model_factory.py:60-85); every reader takes a per-graph ``standardize``
READERS = {
    "penman": parse_edges,
    "tsv": parse_tsv_edges,
    # optional third-party wrapper (data_helpers.py:255-275): raises the
    # reference's install hint when the penman library is absent
    "goodmami": goodmami_parse_edges,
}


@dataclass
class EngineConfig:
    standardizer: str = "generic"  # amr | generic | none
    score_type: str = "micromacro"  # micro | macro | micromacro | pairwise
    align: AlignConfig = field(default_factory=AlignConfig)
    bootstrap: bool = False
    n_resamples: int = 200
    # "bca" matches the reference's scipy.stats.bootstrap default
    # (eval_statistics.py:183-197); "percentile" is the deterministic
    # oracle-replayable mode
    bootstrap_method: str = "percentile" 
    # PropBank frame-conditioned edge-relabel rules applied before aspect
    # extraction in score_dimensions (reference AMRSubgraphExtractor prelude,
    # formalism/amr/tools.py:226-232).  None disables the pass — the
    # reference's own offline fallback (tools.py:88-93, empty frame table).
    # Pass smatchpp_spark.functions.amr_rules.semantic_edge_rules() for the
    # bundled-table behavior, or rules inverted from a full frame file.
    edge_rules: dict | None = None
    # content interpretation, a READERS key: "penman" parses Penman blocks,
    # "tsv" parses src<TAB>tgt<TAB>rel triple blocks
    # (data_helpers.py:243-252), "goodmami" uses the penman library
    input_format: str = "penman"
    # reference --remove_duplicates: set-dedup triples after standardization
    remove_duplicates: bool = False


def pair_by_position(corpus: DataFrame, order_col: str) -> DataFrame:
    """Attach ``pair_id`` = 0-based position under ``order_col`` — the
    reference's file-line pairing, for corpora small enough that a global
    window is acceptable (it collapses to one partition; use explicit
    pair keys at scale)."""
    w = Window.orderBy(order_col)
    return corpus.withColumn("pair_id", F.row_number().over(w) - 1)


class SmatchppSpark:
    """process_corpus/score_corpus over DataFrames (bindings.py:118-159)."""

    def __init__(self, config: EngineConfig | None = None):
        self.config = config or EngineConfig()
        # raises on an unknown standardizer
        self._graph_fn = graph_standardizer(
            self.config.standardizer, self.config.remove_duplicates
        )
        if self.config.input_format not in READERS:
            raise ValueError(f"unknown input_format {self.config.input_format!r}")

    def _parse(self, corpus: DataFrame, content_col: str, id_col: str | None = None,
               standardize=None) -> DataFrame:
        return READERS[self.config.input_format](
            corpus, content_col, id_col=id_col, standardize=standardize
        )

    def edges(self, corpus: DataFrame, content_col: str = "content") -> DataFrame:
        """corpus → standardized global edge table keyed by sha256(content).
        Identical contents share one graph id, so the standardizer runs
        per graph after a shuffle on that key, not inside the parse."""
        edges = self._parse(corpus, content_col)
        if self.config.standardizer == "none":
            return edges
        return per_graph(edges, graph_standardizer(self.config.standardizer))

    def match_stats(
        self,
        corpus_a: DataFrame,
        corpus_b: DataFrame,
        pair_col: str = "pair_id",
        content_col: str = "content",
    ) -> DataFrame:
        """Per-pair match 4-vectors (process_corpus, bindings.py:118-130).

        Both corpora must carry ``pair_col``; the column survives the
        parse by being folded into the graph key and restored after.
        """
        ea = self._keyed_edges(corpus_a, pair_col, content_col)
        eb = self._keyed_edges(corpus_b, pair_col, content_col)
        # the keyed edge tables carry the pair id as their graph_id
        return align_and_score(ea, eb, pair_col="graph_id", cfg=self.config.align)

    def _keyed_edges(
        self, corpus: DataFrame, pair_col: str, content_col: str
    ) -> DataFrame:
        """Parse + standardize in one ``mapInPandas``, keyed directly by the
        pair id (one graph per pair side, so the pair id IS the graph key;
        sha256 keying would collapse identical content across different
        pairs)."""
        return self._parse(corpus, content_col, id_col=pair_col,
                           standardize=self._graph_fn)

    def score_corpus(
        self,
        corpus_a: DataFrame,
        corpus_b: DataFrame,
        pair_col: str = "pair_id",
        content_col: str = "content",
    ) -> dict[str, DataFrame]:
        # every frame below derives from these stats: align runs once
        stats = self.match_stats(
            corpus_a, corpus_b, pair_col, content_col
        ).localCheckpoint(eager=False)
        out: dict[str, DataFrame] = {"pairs": stats}
        if self.config.score_type in ("micro", "micromacro"):
            out["micro"] = micro_scores(stats)
        if self.config.score_type in ("macro", "micromacro"):
            out["macro"] = macro_scores(stats)
        if self.config.score_type == "pairwise":
            out["pairwise"] = pairwise_scores(stats)
        if self.config.bootstrap:
            out["micro_ci"] = bootstrap_micro(
                stats, self.config.n_resamples,
                method=self.config.bootstrap_method,
            )
            if self.config.score_type in ("macro", "micromacro"):
                # the reference bootstraps the statistic its score_type
                # selects (eval_statistics.py:120-144); macro = the mean
                # of per-pair (f1, p, r).  micro_ci stays for back-compat
                # and the oracle contract.
                from smatchpp_spark.functions.scores import bootstrap_scores

                out["macro_ci"] = bootstrap_scores(
                    stats, "macro", self.config.n_resamples,
                    method=self.config.bootstrap_method,
                )
        return out

    def score_dimensions(
        self,
        corpus_a: DataFrame,
        corpus_b: DataFrame,
        pair_col: str = "pair_id",
        content_col: str = "content",
        dimension: str = "all-onealign",
    ) -> dict[str, DataFrame]:
        """Fine-grained per-aspect scoring (bindings.py:81-110).

        ``all-onealign``: one whole-graph alignment per pair, every
        aspect subgraph scored under it (plus the ``main`` dim).
        ``all-multialign``: each aspect subgraph pair is prepared and
        aligned independently.  Both run inside the per-pair alignment
        kernel (``align_and_score_dimensions``), over the same single
        shuffle as ``match_stats``.  Non-``main`` dims drop pairs whose
        4-vector is all zero before aggregation
        (eval_statistics.py:164-169).
        """
        ea = self._keyed_edges(corpus_a, pair_col, content_col)
        eb = self._keyed_edges(corpus_b, pair_col, content_col)
        stats = align_and_score_dimensions(
            ea, eb, dimension, pair_col="graph_id", cfg=self.config.align,
            edge_rules=self.config.edge_rules,
        ).localCheckpoint(eager=False)
        nonzero = drop_empty_pairs(stats.filter(F.col("score_dim") != "main")).unionByName(
            stats.filter(F.col("score_dim") == "main")
        )
        out = {
            "pairs": stats,
            "micro": micro_scores(nonzero, ["score_dim"]),
            "macro": macro_scores(nonzero, ["score_dim"]),
        }
        if self.config.bootstrap:
            # per-dimension CI, like the reference printer bootstraps each
            # dimension's match rows (eval_statistics.py:183-197).  The dim
            # list is tiny (≤ ~20) and stats is checkpointed, so the
            # driver-side loop costs one small job per dimension.
            spark = stats.sparkSession
            dims = [r["score_dim"] for r in nonzero.select("score_dim").distinct().collect()]
            cis = []
            for d in sorted(dims):
                row = bootstrap_micro(
                    nonzero.filter(F.col("score_dim") == d),
                    self.config.n_resamples,
                    method=self.config.bootstrap_method,
                ).collect()
                if row:
                    cis.append((d, float(row[0]["lo"]), float(row[0]["hi"])))
            out["micro_ci"] = spark.createDataFrame(
                cis, "score_dim string, lo double, hi double"
            )
        return out
