"""Graph standardization passes.

Every pass of the two standardizer pipelines is graph-local (the
reference standardizes one graph at a time), so each is a pure-Python
function over one graph's rows ``(pos, src, rel, dst)``:

  * ``generic`` — lower → dequote → relabel_vars → deinvert
    (reference formalism/generic/tools.py:15-57)
  * ``amr`` — lower → dequote → relabel_vars → domain2mod → deinvert →
    concept_as_root → dereify → dedup
    (reference formalism/amr/tools.py:179-193)

``graph_standardizer`` composes them into the per-graph kernel the engine
runs inside its parse ``mapInPandas``, so parse and standardize are one
narrow stage over Arrow batches with no shuffle.  The public DataFrame
passes are thin wrappers over the same functions: row-local passes map
batches, graph-local ones run one ``groupBy(graph_id).applyInPandas``.
Rows a pass adds take positions after the graph's largest ``pos``; a null
label stays null and never names a variable, as in the SQL joins these
passes replaced.

The passes outside the two pipelines (``variables``,
``relabel_edges_by_concept``, ``norm_logical_ops``, ``reify_attributes``,
``reify_rules_transform``, ``unlabel_*``, ``subgraph_*``) are column
expressions and joins over the global edge table.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smatchpp_spark.functions.amr_rules import DEREIFY_RULES

INSTANCE = ":instance"
ROOT_REL = ":root"

_EDGE_COLS = ["graph_id", "pos", "src", "rel", "dst"]

Row = tuple  # (pos, src, rel, dst)
Rows = list[Row]


# --------------------------------------------------------------------------
# per-graph passes: rows -> rows
# --------------------------------------------------------------------------

_QUOTES = str.maketrans("", "", "\"'")
_INVERSE = re.compile(r"(-of)+$")
_DOMAIN = {":domain": ":mod-of", ":domain-of": ":mod"}


def lower_rows(rows: Rows) -> Rows:
    """Lowercase src/rel/dst (reference graph_transforms.py:13-16)."""
    low = lambda x: None if x is None else x.lower()  # noqa: E731
    return [(p, low(s), low(r), low(d)) for p, s, r, d in rows]


def dequote_rows(rows: Rows) -> Rows:
    """Strip double and single quotes (graph_transforms.py:19-29)."""
    deq = lambda x: None if x is None else x.translate(_QUOTES)  # noqa: E731
    return [(p, deq(s), deq(r), deq(d)) for p, s, r, d in rows]


def domain2mod_rows(rows: Rows) -> Rows:
    """:domain ↔ :mod-of relabel (graph_transforms.py:101-111)."""
    return [(p, s, _DOMAIN.get(r, r), d) for p, s, r, d in rows]


def deinvert_rows(rows: Rows) -> Rows:
    """(s, r-of…of, t) → strip the trailing -of chain; swap endpoints when
    the chain length is odd (graph_transforms.py:76-98)."""
    out = []
    for p, s, r, d in rows:
        if r is not None:
            stripped = _INVERSE.sub("", r)
            if (len(r) - len(stripped)) // 3 % 2:
                s, d = d, s
            r = stripped
        out.append((p, s, r, d))
    return out


def dedup_rows(rows: Rows) -> Rows:
    """Set-dedup triples, keeping the smallest pos of each duplicate group
    (graph_transforms.py:8-10)."""
    first: dict[tuple, int] = {}
    for p, s, r, d in rows:
        key = (s, r, d)
        if key not in first or p < first[key]:
            first[key] = p
    return [(p, s, r, d) for (s, r, d), p in first.items()]


def _variables(rows: Rows) -> dict:
    """var → (first_pos, concept) (util.py:13-19): the first :instance
    occurrence fixes the naming order, the last fixes the concept."""
    table: dict = {}
    for p, s, r, d in rows:
        if r != INSTANCE or s is None:
            continue
        first, last, concept = table.get(s, (p, p, d))
        table[s] = (min(first, p), max(last, p), d if p >= last else concept)
    return {v: (first, concept) for v, (first, _, concept) in table.items()}


def relabel_vars_rows(rows: Rows) -> Rows:
    """Rename variables to ``<first-concept-char><n>``
    (graph_transforms.py:32-73), numbered per first character in the order
    of each variable's first :instance triple; a name that is a constant
    of the graph (util.py:22-37) gets 'x' appended until it is free."""
    table = _variables(rows)
    consts = {d for _, _, r, d in rows if r == INSTANCE}
    for _, s, r, d in rows:
        if r is not None and r != INSTANCE:
            consts.update(e for e in (s, d) if e not in table)
    by_base: dict[str, list] = {}
    for var, (first, concept) in table.items():
        if concept is not None:
            by_base.setdefault(concept[:1], []).append((first, var))
    rename = {}
    for base, members in by_base.items():
        for k, (_, var) in enumerate(sorted(members)):
            name = base if k == 0 else f"{base}{k}"
            while name in consts:
                name += "x"
            rename[var] = name
    return [
        (p, rename.get(s, s), r, d if r == INSTANCE else rename.get(d, d))
        for p, s, r, d in rows
    ]


def concept_as_root_rows(rows: Rows) -> Rows:
    """First :root triple (ROOT, :root, x) → (x, :root, concept_of_x)
    (graph_transforms.py:114-131); a non-variable root target is left
    untouched rather than failing."""
    roots = [p for p, _, r, _ in rows if r == ROOT_REL]
    if not roots:
        return rows
    first = min(roots)
    table = _variables(rows)
    out = []
    for p, s, r, d in rows:
        concept = table[d][1] if p == first and d in table else None
        out.append((p, d, r, concept) if concept is not None else (p, s, r, d))
    return out


def dereify_rows(rows: Rows, rules: dict | None = None) -> Rows:
    """Rule-based dereification: (z,:instance,C),(z,a1,x),(z,a2,y) → (x,rel,y)
    (graph_transforms.py:277-385).

    z is eligible when C has a rule, nothing points at z (that covers the
    root), and its non-instance out-edges are exactly one a1 and one a2.
    All eligible variables rewrite at once, as the reference scans a frozen
    snapshot: the first :instance triple and the out-edges of z go, and the
    new triples follow the graph's largest pos in the order of their a1
    edge."""
    rules = DEREIFY_RULES if rules is None else rules
    table = _variables(rows)
    targets = {d for _, _, _, d in rows}
    cands = {
        v: rules[c] for v, (_, c) in table.items() if c in rules and v not in targets
    }
    if not cands:
        return rows
    outs: dict = {v: [] for v in cands}
    for p, s, r, d in rows:
        if s in cands and r is not None and r != INSTANCE:
            outs[s].append((p, r, d))
    eligible = []
    for v, (new_rel, a1, a2) in cands.items():
        e1 = [(p, d) for p, r, d in outs[v] if r == a1]
        e2 = [d for _, r, d in outs[v] if r == a2]
        other = [r for _, r, _ in outs[v] if r not in (a1, a2)]
        if len(e1) == 1 and len(e2) == 1 and not other:
            eligible.append((e1[0][0], v, e1[0][1], new_rel, e2[0]))
    if not eligible:
        return rows
    gone = {table[v][0] for _, v, _, _, _ in eligible}
    gone.update(p for _, v, _, _, _ in eligible for p, _, _ in outs[v])
    top = max(p for p, _, _, _ in rows)
    kept = [row for row in rows if row[0] not in gone]
    return kept + [
        (top + k, x, new_rel, y)
        for k, (_, _, x, new_rel, y) in enumerate(sorted(eligible), 1)
    ]


PIPELINES: dict[str, tuple[Callable[[Rows], Rows], ...]] = {
    "none": (),
    "generic": (lower_rows, dequote_rows, relabel_vars_rows, deinvert_rows),
    "amr": (
        lower_rows, dequote_rows, relabel_vars_rows, domain2mod_rows,
        deinvert_rows, concept_as_root_rows, dereify_rows, dedup_rows,
    ),
}


def graph_standardizer(
    name: str, remove_duplicates: bool = False
) -> Callable[[Rows], Rows]:
    """The per-graph standardizer ``name`` (``amr``, ``generic`` or
    ``none``), with a final set-dedup when ``remove_duplicates``."""
    if name not in PIPELINES:
        raise ValueError(f"unknown standardizer {name!r}")
    passes = PIPELINES[name] + ((dedup_rows,) if remove_duplicates else ())

    def run(rows: Rows) -> Rows:
        for step in passes:
            rows = step(rows)
        return rows

    return run


# --------------------------------------------------------------------------
# DataFrame wrappers
# --------------------------------------------------------------------------


def _edges(df: DataFrame) -> tuple[DataFrame, T.StructType]:
    df = df.select(*_EDGE_COLS)
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in df.schema])
    return df, schema


def _rows(pdf: pd.DataFrame) -> Rows:
    return list(zip(pdf["pos"], pdf["src"], pdf["rel"], pdf["dst"]))


def _frame(graph_id, rows: Rows) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=_EDGE_COLS[1:])
    out.insert(0, "graph_id", graph_id)
    return out


def per_graph(edges: DataFrame, fn: Callable[[Rows], Rows]) -> DataFrame:
    """Run a per-graph pass over an edge table: one shuffle on graph_id."""
    edges, schema = _edges(edges)

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        return _frame(pdf["graph_id"].iloc[0], fn(_rows(pdf)))

    return edges.groupBy("graph_id").applyInPandas(apply, schema)


def _per_row(edges: DataFrame, fn: Callable[[Rows], Rows]) -> DataFrame:
    """Run a row-local pass over an edge table, batch by batch."""
    edges, schema = _edges(edges)

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _frame(pdf["graph_id"].to_numpy(), fn(_rows(pdf)))

    return edges.mapInPandas(apply, schema)


def lower_all_labels(edges: DataFrame) -> DataFrame:
    return _per_row(edges, lower_rows)


def remove_quotes(edges: DataFrame) -> DataFrame:
    return _per_row(edges, dequote_rows)


def domain2mod(edges: DataFrame) -> DataFrame:
    return _per_row(edges, domain2mod_rows)


def deinvert_edges(edges: DataFrame) -> DataFrame:
    return _per_row(edges, deinvert_rows)


def remove_duplicates(edges: DataFrame) -> DataFrame:
    return per_graph(edges, dedup_rows)


def relabel_vars(edges: DataFrame) -> DataFrame:
    return per_graph(edges, relabel_vars_rows)


def concept_as_root(edges: DataFrame) -> DataFrame:
    return per_graph(edges, concept_as_root_rows)


def dereify(edges: DataFrame, rules: dict[str, tuple[str, str, str]] | None = None) -> DataFrame:
    return per_graph(edges, lambda rows: dereify_rows(rows, rules))


def generic_standardize(edges: DataFrame) -> DataFrame:
    return per_graph(edges, graph_standardizer("generic"))


def amr_standardize(edges: DataFrame) -> DataFrame:
    return per_graph(edges, graph_standardizer("amr"))


# --------------------------------------------------------------------------
# passes outside the standardizer pipelines
# --------------------------------------------------------------------------


def variables(edges: DataFrame) -> DataFrame:
    """Per-graph var→concept table (util.py:13-19): first :instance
    occurrence fixes dict position, the last fixes the concept."""
    return (
        edges.filter(F.col("rel") == INSTANCE)
        .groupBy("graph_id", F.col("src").alias("var"))
        .agg(
            F.min("pos").alias("first_pos"),
            F.max_by("dst", "pos").alias("concept"),
        )
    )


def relabel_edges_by_concept(
    edges: DataFrame, rules: dict[str, dict[str, str]] | None
) -> DataFrame:
    """Node-label-conditioned edge relabeling
    (reference SyntacticEdgeRelabelingTransformer, graph_transforms.py:192-222):
    ``(x, r, y)`` becomes ``(x, rules[concept(x)][r], y)`` when the source's
    concept has a rule for ``r``, else the triple is unchanged.

    The reference builds ``rules`` from PropBank frame argument descriptions
    (``invert_frame_table``, formalism/amr/tools.py:118-128) and applies the
    pass before aspect subgraph extraction (tools.py:226-232) so core roles
    like ``control-01 :arg2`` surface as explicit roles (``:instrument``).

    Spark shape: the rule table is a tiny broadcast dim (concept, rel →
    new_rel); the var→concept lookup is the same per-graph equi-join every
    other pass uses.  One broadcast hash join + one shuffle-free projection —
    no Python on executors.
    """
    if not rules:
        return edges
    spark = edges.sparkSession
    rule_rows = [
        (concept, rel, new_rel)
        for concept, rel_map in rules.items()
        for rel, new_rel in rel_map.items()
    ]
    rules_df = F.broadcast(
        spark.createDataFrame(rule_rows, "concept string, rel string, new_rel string")
    )
    var_tbl = variables(edges).select(
        "graph_id", F.col("var").alias("src"), "concept"
    )
    return (
        edges.join(var_tbl, ["graph_id", "src"], "left")
        .join(rules_df, ["concept", "rel"], "left")
        .select(
            "graph_id",
            "pos",
            "src",
            F.coalesce("new_rel", "rel").alias("rel"),
            "dst",
        )
    )


def norm_logical_ops(edges: DataFrame) -> DataFrame:
    """:opN → :op when the source's concept is and/or
    (graph_transforms.py:134-154)."""
    and_or_vars = (
        edges.filter(
            (F.col("rel") == INSTANCE) & F.col("dst").isin("and", "or")
        )
        .select("graph_id", F.col("src").alias("node"))
        .distinct()
        .withColumn("is_logical", F.lit(True))
    )
    return (
        edges.join(
            and_or_vars.withColumnRenamed("node", "src"), ["graph_id", "src"], "left"
        )
        .select(
            "graph_id",
            "pos",
            "src",
            F.when(
                F.col("is_logical") & F.col("rel").contains(":op"), F.lit(":op")
            )
            .otherwise(F.col("rel"))
            .alias("rel"),
            "dst",
        )
    )


def reify_attributes(edges: DataFrame) -> DataFrame:
    """Reify constant leaves: (x, :r, const) → (x, :r, v), (v, :instance, const)
    (graph_transforms.py:157-189).

    A triple reifies when its target has no :instance edge *anywhere* in
    the graph (as source or target).  New variable names are
    deterministic content positions: ``rfattribute_<k>`` with k ordered
    by pos, matching the reference's positional numbering.
    """
    inst = edges.filter(F.col("rel") == INSTANCE)
    inst_nodes = (
        inst.select("graph_id", F.col("src").alias("node"))
        .unionByName(inst.select("graph_id", F.col("dst").alias("node")))
        .distinct()
    )
    flagged = edges.join(
        inst_nodes.withColumnRenamed("node", "dst"), ["graph_id", "dst"], "left_anti"
    )
    w = Window.partitionBy("graph_id").orderBy("pos")
    numbered = flagged.withColumn("k", F.row_number().over(w) - 1).withColumn(
        "new_var", F.concat(F.lit("rfattribute_"), F.col("k").cast("string"))
    )
    maxpos = edges.groupBy("graph_id").agg(F.max("pos").alias("max_pos"))
    numbered = numbered.join(maxpos, "graph_id")
    rewired = numbered.select(
        "graph_id",
        (F.col("max_pos") + 1 + F.col("k") * 2).alias("pos"),
        "src",
        "rel",
        F.col("new_var").alias("dst"),
    )
    new_inst = numbered.select(
        "graph_id",
        (F.col("max_pos") + 2 + F.col("k") * 2).alias("pos"),
        F.col("new_var").alias("src"),
        F.lit(INSTANCE).alias("rel"),
        F.col("dst"),
    )
    kept = edges.join(
        flagged.select("graph_id", "pos"), ["graph_id", "pos"], "left_anti"
    )
    return kept.unionByName(rewired).unionByName(new_inst)


def reify_rules_transform(
    edges: DataFrame, rules: dict[str, tuple[str, str, str]] | None = None
) -> DataFrame:
    """Rule-based reification: (x, :rel, y) → (z,:instance,C),(z,a1,x),(z,a2,y)
    (graph_transforms.py:261-275).

    The reference names z positionally (``ric<i>`` with i the triple's
    list index); ``pos`` carries exactly that index, so names stay
    deterministic under any partitioning.
    """
    if rules is None:
        from smatchpp_spark.functions.amr_rules import REIFY_RULES

        rules = REIFY_RULES
    spark = edges.sparkSession
    rules_df = F.broadcast(
        spark.createDataFrame(
            [(r, c, a1, a2) for r, (c, a1, a2) in rules.items()],
            "rel string, concept string, arg1 string, arg2 string",
        )
    )
    matched = edges.join(rules_df, "rel").withColumn(
        "zvar", F.concat(F.lit("ric"), F.col("pos").cast("string"))
    )
    kept = edges.join(
        matched.select("graph_id", "pos"), ["graph_id", "pos"], "left_anti"
    )
    maxpos = edges.groupBy("graph_id").agg(F.max("pos").alias("max_pos"))
    w = Window.partitionBy("graph_id").orderBy("pos")
    m = matched.join(maxpos, "graph_id").withColumn(
        "k", F.row_number().over(w) - 1
    )
    base = F.col("max_pos") + 1 + F.col("k") * 3
    inst = m.select(
        "graph_id", base.alias("pos"), F.col("zvar").alias("src"),
        F.lit(INSTANCE).alias("rel"), F.col("concept").alias("dst"),
    )
    e1 = m.select(
        "graph_id", (base + 1).alias("pos"), F.col("zvar").alias("src"),
        F.col("arg1").alias("rel"), F.col("src").alias("dst"),
    )
    e2 = m.select(
        "graph_id", (base + 2).alias("pos"), F.col("zvar").alias("src"),
        F.col("arg2").alias("rel"), F.col("dst").alias("dst"),
    )
    return kept.unionByName(inst).unionByName(e1).unionByName(e2)


def unlabel_edges(edges: DataFrame) -> DataFrame:
    """Non-instance rels → :rel (subgraph_extraction.py:21-37)."""
    return edges.withColumn(
        "rel",
        F.when(F.col("rel") != INSTANCE, F.lit(":rel")).otherwise(F.col("rel")),
    )


def unlabel_nodes(edges: DataFrame) -> DataFrame:
    """Concepts → 'concept' (subgraph_extraction.py:40-57)."""
    return edges.withColumn(
        "dst",
        F.when(F.col("rel") == INSTANCE, F.lit("concept")).otherwise(F.col("dst")),
    )


def subgraph_instance(edges: DataFrame) -> DataFrame:
    """Keep instance edges (subgraph_extraction.py:8-10)."""
    return edges.filter(F.col("rel") == INSTANCE)


def subgraph_lexicalized(edges: DataFrame) -> DataFrame:
    """Instance edges with sense-tagged concepts, e.g. run-01
    (subgraph_extraction.py:13-18)."""
    return subgraph_instance(edges).filter(
        F.lower("dst").rlike(".*-[0-9]+")
    )
