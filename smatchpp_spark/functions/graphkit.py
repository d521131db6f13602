"""Pure-Python graph kernels (no Spark imports).

These run *inside* Arrow-batched UDFs (``mapInPandas`` / ``applyInPandas``)
— one call per row of a batch — and in unit tests without a SparkSession.

Semantics re-implemented from scratch against the observable behavior of
the reference (flipz357/smatchpp):
  * ``parse_penman``      — reference ``PenmanReader._string2graph``
                            (smatchpp/data_helpers.py:25-180)
  * ``triples_to_penman`` — reference ``PenmanWriter._graph2string``
                            (smatchpp/data_helpers.py:278-398)
  * ``parse_tsv`` / ``triples_to_tsv`` — reference TSVReader/TSVWriter
                            (smatchpp/data_helpers.py:243-252, 440-445)

A triple is ``(src, rel, dst)`` of strings.  The root is explicated as
``("ROOT_OF_GRAPH", ":root", top_var)``.
"""

from __future__ import annotations

import re

Triple = tuple[str, str, str]

ROOT_NODE = "ROOT_OF_GRAPH"
ROOT_REL = ":root"
INSTANCE = ":instance"

_LBR = "<ENCLOSED_LBR>"
_RBR = "<ENCLOSED_RBR>"


def _shield_quoted_parens(s: str) -> str:
    """Replace parens inside quoted spans with sentinels before tokenizing.

    Behavior contract (data_helpers.py:200-231): a quote char that is the
    *last* of its kind in the remaining string and we are not currently
    inside a double-quoted span does not toggle quoting; single quotes only
    toggle outside double-quoted spans.
    """
    # suffix occurrence counts so the "last quote of its kind" rule is O(n)
    n = len(s)
    dq_left = [0] * (n + 1)
    sq_left = [0] * (n + 1)
    for i in range(n - 1, -1, -1):
        dq_left[i] = dq_left[i + 1] + (s[i] == '"')
        sq_left[i] = sq_left[i + 1] + (s[i] == "'")

    out: list[str] = []
    in_dq = in_sq = False
    for i, ch in enumerate(s):
        if ch == '"':
            if not in_dq and dq_left[i] == 1:
                out.append(ch)
                continue
            in_dq = not in_dq
            out.append(ch)
        elif ch == "'":
            if not in_dq and sq_left[i] == 1:
                out.append(ch)
                continue
            if not in_dq:
                in_sq = not in_sq
            out.append(ch)
        elif not in_dq and not in_sq:
            out.append(ch)
        elif ch == "(":
            out.append(_LBR)
        elif ch == ")":
            out.append(_RBR)
        else:
            out.append(ch)
    return "".join(out)


def _unshield(value: str) -> str:
    return value.replace(_LBR, "(").replace(_RBR, ")")


def _take_quoted(tokens: list[str], at: int, sign: str) -> tuple[str, int]:
    """Re-join a multi-token quoted literal starting at ``at``.

    Returns ``(literal, index_of_last_consumed_token)``; mirrors the
    fallback rules of data_helpers.py:182-198 (already-closed token, bare
    quote before ')', unterminated literal).
    """
    first = tokens[at]
    if len(first) > 1 and first.endswith(sign):
        return first, at
    if first == sign and tokens[at + 1] == ")":
        return first, at
    acc = first
    for k in range(at + 1, len(tokens)):
        acc += " " + tokens[k]
        if tokens[k].endswith(sign):
            return acc, k
    return first, at


def parse_penman(text: str, explicate_root: bool = True) -> list[Triple]:
    """Parse a Penman string into triples, salvage-tolerant.

    Output contract matches the reference parser exactly, including triple
    emission order, redundant-bracket adaptation, broken-graph salvage, and
    the renaming of explicit ``:root`` relations beyond the first.
    """
    tokens = (
        _shield_quoted_parens(text).replace(")", " )").replace("(", "( ").split()
    )

    depth = 0
    src_at: dict[int, str] = {0: ROOT_NODE}
    rel_at: dict[int, str] = {0: ROOT_REL}
    triples: list[Triple] = []

    i = 0
    n = len(tokens)
    while i < n:
        tok = tokens[i]
        try:
            if tok[0] in ('"', "'"):
                if tokens[i + 1] == "/":
                    # a quoted variable with an instance
                    var, concept = tok, tokens[i + 2]
                    src_at[depth] = var
                    triples.append((var, INSTANCE, concept))
                    triples.append((src_at[depth - 1], rel_at[depth - 1], var))
                    i += 3
                else:
                    literal, last = _take_quoted(tokens, i, tok[0])
                    triples.append((src_at[depth], rel_at[depth], literal))
                    i = last + 1
            elif tok == "(":
                depth += 1
                i += 1
            elif tok == ")":
                depth -= 1
                i += 1
            elif tok.startswith(":"):
                rel_at[depth] = tok
                i += 1
            elif tokens[i + 1] == "/":
                var, concept = tok, tokens[i + 2]
                if concept[0] in ('"', "'"):
                    concept, last = _take_quoted(tokens, i + 2, concept[0])
                    i = last + 1
                else:
                    i += 3
                src_at[depth] = var
                triples.append((var, INSTANCE, concept))
                triples.append((src_at[depth - 1], rel_at[depth - 1], var))
            else:
                # a bare constant or a re-entrant variable reference; step
                # back over directly preceding "(" tokens so redundant
                # brackets do not shift the attachment point
                eff_depth = depth
                j = i - 1
                while j >= 0 and tokens[j] == "(":
                    eff_depth -= 1
                    j -= 1
                triples.append((src_at[eff_depth], rel_at[eff_depth], tok))
                i += 1
        except (KeyError, IndexError):
            # broken graph: keep whatever triples we managed to extract
            break

    triples = [(_unshield(s), r, _unshield(t)) for (s, r, t) in triples]

    # explicit ":root" relations beyond the graph root get renamed
    if sum(1 for t in triples if t[1] == ROOT_REL) > 1:
        seen_root = False
        renamed = []
        for s, r, t in triples:
            if r == ROOT_REL:
                if seen_root:
                    r = ROOT_REL + "_but_not_the_graph_root"
                else:
                    seen_root = True
            renamed.append((s, r, t))
        triples = renamed

    if not explicate_root:
        triples = [t for t in triples if t[1] != ROOT_REL]
    return triples


_TSV_FIELDS = re.compile(r"\s+", re.ASCII)


def parse_tsv(text: str | None) -> list[Triple]:
    """TSV graph block: one triple per line, file column order is src, tgt,
    rel.  Lines split on ``\\n`` and fields on runs of ASCII whitespace,
    as Spark's ``split`` does (a leading blank gives an empty first
    field).  A line with fewer than three fields (a blank line, the empty
    tail of a trailing newline) is skipped rather than failing the block."""
    if text is None:
        return []
    fields = (_TSV_FIELDS.split(line) for line in text.split("\n"))
    return [(c[0], c[2], c[1]) for c in fields if len(c) >= 3]


def triples_to_tsv(triples: list[Triple]) -> str:
    return "\n".join("\t".join((s, t, r)) for (s, r, t) in triples)


def var_concept_map(triples: list[Triple]) -> dict[str, str]:
    """Map each variable to its concept (reference util.py:13-19)."""
    return {s: t for (s, r, t) in triples if r == INSTANCE}


def constant_set(triples: list[Triple]) -> set[str]:
    """All non-variable node names plus all concepts (util.py:22-37)."""
    v2c = var_concept_map(triples)
    consts: set[str] = set()
    for s, r, t in triples:
        if r == INSTANCE:
            continue
        if s not in v2c:
            consts.add(s)
        if t not in v2c:
            consts.add(t)
    return consts | set(v2c.values())


def out_degree(triples: list[Triple], node: str) -> int:
    return sum(1 for t in triples if t[0] == node)


def triples_to_penman(triples: list[Triple], hide_root: bool = True, root_relation: str = ROOT_REL) -> str:
    """Serialize triples back to a Penman string.

    DFS from the root; at each node outgoing edges print first then
    invertible incoming edges (``-of``), both sorted alphabetically by
    relation; each triple prints at most once (data_helpers.py:278-398).
    """
    v2c = var_concept_map(triples)
    root_triple = next(t for t in triples if t[1] == root_relation)
    root = root_triple[0] if root_triple[0] in v2c else root_triple[2]
    if hide_root:
        triples = [t for t in triples if t[1] != ROOT_REL]
        v2c = var_concept_map(triples)

    remaining_concepts = dict(v2c)
    emitted: set[Triple] = set()

    def sorted_non_instance(edges: list[Triple]) -> list[Triple]:
        return sorted((e for e in edges if e[1] != INSTANCE), key=lambda e: e[1])

    def walk(node: str) -> str:
        buf = ""
        for tr in sorted_non_instance([t for t in triples if t[0] == node]):
            if tr in emitted:
                continue
            emitted.add(tr)
            rel, tgt = tr[1], tr[2]
            if tgt in remaining_concepts:
                buf += f" {rel} ({tgt} / {remaining_concepts.pop(tgt)}{walk(tgt)})"
            elif tgt in v2c:
                buf += f" {rel} {tgt}"
            else:
                buf += f" {rel} {tgt}{walk(tgt)}"
        for tr in sorted_non_instance([t for t in triples if t[2] == node]):
            if tr in emitted:
                continue
            if out_degree(triples, tr[2]) == 0:
                continue  # leaf target: inversion is pointless
            emitted.add(tr)
            rel = tr[1].replace("-of", "") if "-of" in tr[1] else tr[1] + "-of"
            tgt = tr[0]
            if tgt in remaining_concepts:
                buf += f" {rel} ({tgt} / {remaining_concepts.pop(tgt)}{walk(tgt)})"
            elif tgt in v2c:
                buf += f" {rel} {tgt}"
            else:
                buf += f" {rel} {tgt}{walk(tgt)}"
        return buf

    return f"({root} / {remaining_concepts.pop(root)}{walk(root)})"
