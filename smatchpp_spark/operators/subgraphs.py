"""Aspect subgraph extraction — the fine-grained "semantic dimension"
machinery of the reference (subgraph_extraction.py:60-264), one graph at
a time like the reference.

``aspect_subgraphs`` maps one graph's ``(pos, src, rel, dst)`` rows to
``{aspect: rows}``.  Every triple an aspect subgraph can contain is a row
of the graph (seeds, k-hop context, parents, predicates and re-attached
:instance triples all are), so extraction selects row positions:
identical triples at different positions both stay.  The per-pair
scoring kernel (``operators.align.process_pair_dimensions``) calls it
inside its ``applyInPandas``; ``extract_all_aspects`` runs it over an
edge table.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from smatchpp_spark.functions.amr_rules import CONCEPT_GROUPS, GRAPH_ASPECTS
from smatchpp_spark.operators.standardize import (
    INSTANCE,
    ROOT_REL,
    Rows,
    relabel_edges_rows,
)


def _non_instance(rel) -> bool:
    # SQL's three-valued ``rel <> ':instance'``: a null relation is not
    # a non-:instance relation either
    return rel is not None and rel != INSTANCE


def reentrancy_rows(rows: Rows) -> Rows:
    """Non-instance rows whose target is a variable that two or more rows
    of any relation point to (subgraph_extraction.py:60-74)."""
    variables = {s for _, s, r, _ in rows if r == INSTANCE and s is not None}
    in_deg = Counter(d for _, _, _, d in rows)
    return [
        row for row in rows
        if _non_instance(row[2]) and row[3] in variables and in_deg[row[3]] > 1
    ]


def aspect_subgraphs(rows: Rows, edge_rules: dict | None = None) -> dict[str, Rows]:
    """All aspect subgraphs of one graph, by aspect name, rows in ``pos``
    order; aspects without rows are absent
    (_all_subgraphs_by_name, subgraph_extraction.py:162-185).

    Per aspect (clean_extend_subgraph, py:200-226): seeds are the rows
    with an associated relation, plus every row touching a variable whose
    concept is in the aspect's concept group (py:187-198); parents are the
    rows pointing at a seed source (py:236-240); the k-hop context adds
    non-:instance rows leaving a node already reached (py:241-260);
    predicates are the non-:root rows into a reached node from a node of
    in-degree 0 and out-degree 1 over non-:instance rows (py:103-126).
    ``REENTRANCIES`` holds ``reentrancy_rows``.  Every aspect then gets the
    last :instance row of each variable it mentions (py:77-100).

    ``edge_rules`` (optional) applies the PropBank frame-conditioned edge
    relabel first — AMRSubgraphExtractor's semantic standardizer prelude
    (formalism/amr/tools.py:226-232)."""
    if edge_rules:
        rows = relabel_edges_rows(rows, edge_rules)
    by_pos = {row[0]: row for row in rows}
    non_inst = [row for row in rows if _non_instance(row[2])]
    out_deg = Counter(s for _, s, _, _ in non_inst)
    in_deg = Counter(d for _, _, _, d in non_inst)
    predicates = {v for v, n in out_deg.items() if n == 1 and not in_deg[v]}
    instance_pos: dict = {}
    for p, s, r, _ in rows:
        if r == INSTANCE:
            instance_pos[s] = max(p, instance_pos.get(s, p))

    def nodes(selected: set) -> set:
        return {x for p in selected for x in (by_pos[p][1], by_pos[p][3])}

    selections = {}
    for name, rule in GRAPH_ASPECTS.items():
        rels = set(rule["associated_rel"])
        seeds = {p for p, _, r, _ in rows if r in rels}
        group = set(CONCEPT_GROUPS.get(rule.get("associated_concept_group"), ()))
        if group:
            members = {s for _, s, _, d in rows if d in group}
            seeds |= {p for p, s, _, d in rows if s in members or d in members}
        selected = set(seeds)
        for _ in range(int(rule.get("subgraph_extraction_range", 0))):
            frontier = {by_pos[p][3] for p in selected}
            selected |= {p for p, s, _, _ in non_inst if s in frontier}
        if rule.get("add_parent") == 1:
            sources = {by_pos[p][1] for p in seeds}
            selected |= {p for p, _, _, d in rows if d in sources}
        if rule.get("add_predicates") == 1:
            reached = nodes(selected)
            selected |= {
                p for p, s, r, d in non_inst
                if r != ROOT_REL and d in reached and s in predicates
            }
        selections[name] = selected
    selections["REENTRANCIES"] = {row[0] for row in reentrancy_rows(rows)}

    out = {}
    for name, selected in selections.items():
        selected |= {instance_pos[v] for v in nodes(selected) if v in instance_pos}
        if selected:
            out[name] = [by_pos[p] for p in sorted(selected)]
    return out


def extract_all_aspects(edges: DataFrame, edge_rules: dict | None = None) -> DataFrame:
    """``aspect_subgraphs`` of every graph of an edge table, as
    ``(aspect, graph_id, pos, src, rel, dst)`` rows: one shuffle on
    graph_id."""
    edges = edges.select("graph_id", "pos", "src", "rel", "dst")
    cols = ["aspect", *edges.columns]
    schema = T.StructType(
        [T.StructField("aspect", T.StringType())]
        + [T.StructField(f.name, f.dataType) for f in edges.schema]
    )

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = pdf["graph_id"].iloc[0]
        rows = list(zip(pdf["pos"], pdf["src"], pdf["rel"], pdf["dst"]))
        return pd.DataFrame(
            [
                (name, gid, *row)
                for name, sub in aspect_subgraphs(rows, edge_rules).items()
                for row in sub
            ],
            columns=cols,
        )

    return edges.groupBy("graph_id").applyInPandas(apply, schema)
