"""Pairwise graph alignment + Smatch scoring.

The corpus-level operator is embarrassingly parallel across graph pairs:
one ``groupBy(pair_id).applyInPandas`` ships each pair's triples into an
Arrow-batched Python kernel (numpy/dicts inside), replacing the
reference's sequential corpus loop (bindings.py:118-130).  The per-aspect
score dimensions (bindings.py:81-110) run in the same kernel over the
same shuffle, with ``operators.subgraphs.aspect_subgraphs`` extracting
each graph's aspects.  Everything per-pair reimplements the reference
semantics from scratch:

  * pair preparation / variable affixing  — preprocess.py:27-87
  * lossless graph compression            — preprocess.py:89-172
  * unary/binary match dictionaries       — align.py:20-71
  * variable index (sorted, overlapping)  — align.py:107-111
  * solvers                               — solvers.py:50-356 (hillclimber)
  * scoring given alignment               — score.py:81-197

Solver differences (documented, deliberate):
  * ``bnb`` (the ``auto`` default for V ≤ ``AlignConfig.bnb_max_v`` = 25)
    is a best-child-first branch-and-bound with admissible row-max
    bounds and a hillclimber warm start — a certified global optimum
    with a true (lb, ub) status, the contract the reference only gets
    from its (offline-unavailable) ILP (solvers.py:417-454); on
    node-budget exhaustion it degrades to the incumbent plus an honest
    upper bound.
  * ``exhaustive`` enumerates all alignments for small V — the
    brute-force certificate ``bnb`` is property-tested against.
  * ``hillclimber`` is a seeded steepest-ascent with random restarts:
    same objective, same search move (transposition of two alignment
    entries), deterministic via a per-(pair, restart) seed instead of
    the reference's global RNG (solvers.py:285).  It applies the single
    best switch per iteration (the reference batches extra non-conflicting
    switches — an optimization of trajectory, not of the objective).

Scores are exact-equality matches (IDTripleMatcher, score.py:9-15);
``concept_weight`` > 1 reproduces ConceptFocusMatcher (score.py:18-28).
"""

from __future__ import annotations

import itertools
import random
import zlib
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smatchpp_spark.functions.scores import STAT_COLS
from smatchpp_spark.operators.subgraphs import aspect_subgraphs

INSTANCE = ":instance"

Triple = tuple[str, str, str]


# --------------------------------------------------------------------------
# pure per-pair kernel (no Spark)
# --------------------------------------------------------------------------

def var_concept_dict(triples: list[Triple]) -> dict[str, str]:
    """var → concept from :instance triples (reference util.py:13-19)."""
    return {s: t for s, r, t in triples if r == INSTANCE}


def affix_vars(
    triples: list[Triple], variables: set[str], affix: str
) -> tuple[list[Triple], set[str]]:
    """Prefix variables to namespace the two graphs (preprocess.py:67-87);
    :instance targets are concepts and stay untouched."""
    out = []
    for s, r, t in triples:
        ns = affix + s if s in variables else s
        nt = affix + t if (t in variables and r != INSTANCE) else t
        out.append((ns, r, nt))
    return out, {affix + v for v in variables}


def lossless_compress(
    triples1: list[Triple], triples2: list[Triple]
) -> tuple[list[Triple], list[Triple], set[str], set[str]]:
    """Contract variables whose concept is mentioned at most once in each
    graph: variable := concept, drop its :instance triple
    (preprocess.py:89-172).  Shrinks the alignment search space."""
    vc1, vc2 = var_concept_dict(triples1), var_concept_dict(triples2)
    cnt1 = Counter(vc1.values())
    cnt2 = Counter(vc2.values())
    single = set()
    for c in set(cnt1) | set(cnt2):
        if cnt1[c] == len(triples1) or cnt2[c] == len(triples2):
            continue  # would empty a graph
        if cnt1[c] + cnt2[c] == 1 or cnt1[c] == cnt2[c] == 1:
            single.add(c)

    def reduce(triples: list[Triple], vc: dict[str, str]) -> list[Triple]:
        out = []
        for s, r, t in triples:
            c = vc.get(s)
            if c in single:
                if r == INSTANCE:
                    continue  # drop the instance edge of a contracted var
                s = c
            if r != INSTANCE and vc.get(t) in single:
                t = vc[t]
            out.append((s, r, t))
        return out

    r1, r2 = reduce(triples1, vc1), reduce(triples2, vc2)
    return r1, r2, set(var_concept_dict(r1)), set(var_concept_dict(r2))


def prepare_pair(
    triples1: list[Triple],
    triples2: list[Triple],
    compress: bool = False,
) -> tuple[list[Triple], list[Triple], set[str], set[str]]:
    """Reference _prepare_get_vars (preprocess.py:27-65): optional
    compression, then affix ``aa_`` / ``bb_``."""
    if compress:
        triples1, triples2, v1, v2 = lossless_compress(triples1, triples2)
    else:
        v1 = set(var_concept_dict(triples1))
        v2 = set(var_concept_dict(triples2))
    triples1, v1 = affix_vars(triples1, v1, "aa_")
    triples2, v2 = affix_vars(triples2, v2, "bb_")
    return triples1, triples2, v1, v2


def build_var_index(var1: set[str], var2: set[str]) -> dict[str, int]:
    """Overlapping index spaces: each graph's sorted vars get 0..n-1
    (reference align.py:107-111 — the two ranges deliberately share ids)."""
    index: dict[str, int] = {}
    for i, v in enumerate(sorted(var1)):
        index[v] = i
    for i, v in enumerate(sorted(var2)):
        index[v] = i
    return index


def _sim_lookup(
    concept_sim: dict[tuple[str, str], float] | None, a: str, b: str
) -> float:
    """Graded concept similarity, symmetric, equality always 1.0."""
    if a == b:
        return 1.0
    if not concept_sim:
        return 0.0
    return concept_sim.get((a, b), concept_sim.get((b, a), 0.0))


def build_match_dicts(
    triples1: list[Triple],
    triples2: list[Triple],
    var1: set[str],
    var2: set[str],
    var_index: dict[str, int],
    concept_weight: float = 1.0,
    concept_sim: dict[tuple[str, str], float] | None = None,
) -> tuple[dict, dict]:
    """Unary and binary candidate-match score dictionaries
    (reference align.py:20-71, exact-equality matcher).

    unary[(i, i')]          — attribute/instance triples with one variable
                              endpoint: rel + constant side must be equal.
    binary[(i, i', j, j')]  — relation triples (both endpoints variables):
                              rel equality, duplicate-capped, split into
                              symmetric halves.
    """
    unary: Counter = Counter()
    attrs1 = [tr for tr in triples1 if (tr[0] in var1) != (tr[2] in var1)]
    attrs2 = [tr for tr in triples2 if (tr[0] in var2) != (tr[2] in var2)]
    for s, r, t in attrs1:
        i_src = var_index.get(s) if s in var1 else None
        i_tgt = var_index.get(t) if t in var1 else None
        for s2, r2, t2 in attrs2:
            if i_src is not None and s2 in var2:
                if r == r2 and t == t2:
                    w = concept_weight if r == INSTANCE else 1.0
                    unary[(i_src, var_index[s2])] += w
                elif concept_sim and r == r2 == INSTANCE:
                    # graded concept match (EmbeddingConceptMatcher,
                    # score.py:50-64: same masked source, both :instance)
                    sim = _sim_lookup(concept_sim, t, t2)
                    if sim > 0.0:
                        unary[(i_src, var_index[s2])] += sim
                continue
            if i_tgt is not None and t2 in var2 and s2 not in var2:
                if r == r2 and s == s2:
                    unary[(i_tgt, var_index[t2])] += 1.0

    binary: Counter = Counter()
    rels1 = Counter(tr for tr in triples1 if tr[0] in var1 and tr[2] in var1)
    rels2 = Counter(tr for tr in triples2 if tr[0] in var2 and tr[2] in var2)
    for (s, r, t), n1 in rels1.items():
        i, j = var_index[s], var_index[t]
        for (s2, r2, t2), n2 in rels2.items():
            if r != r2:
                continue
            i2, j2 = var_index[s2], var_index[t2]
            w = min(n1, n2)
            binary[(i, i2, j, j2)] += w / 2
            binary[(j, j2, i, i2)] += w / 2
    return dict(unary), dict(binary)


def _group_binary(binary: dict) -> dict:
    """binary[(i,i',j,j')] → by_pair[(i,i')][(j,j')] (solvers.py:263-271)."""
    grouped: dict = {}
    for (a, b, c, d), w in binary.items():
        grouped.setdefault((a, b), {})[(c, d)] = w
    return grouped


def alignment_score(align: np.ndarray, unary: dict, grouped: dict) -> float:
    """Objective value of an alignment (solvers.py:62-89)."""
    sc = 0.0
    for i in range(align.shape[0]):
        sc += unary.get((i, int(align[i])), 0.0)
    for i in range(align.shape[0]):
        pair = grouped.get((i, int(align[i])))
        if not pair:
            continue
        for (k, l), w in pair.items():
            if int(align[k]) == l:
                sc += w
    return sc


def solve_exhaustive(unary: dict, binary: dict, V: int) -> tuple[np.ndarray, float, float]:
    """Certified global optimum by enumerating all V! alignments — only
    for small V (the optimum the reference gets from ILP)."""
    grouped = _group_binary(binary)
    best = None
    best_score = -1.0
    for perm in itertools.permutations(range(V)):
        a = np.array(perm, dtype=int)
        sc = alignment_score(a, unary, grouped)
        if sc > best_score:
            best_score = sc
            best = a
    if best is None:
        best = np.arange(V, dtype=int)
        best_score = 0.0
    return best, best_score, best_score


def solve_branch_bound(
    unary: dict,
    binary: dict,
    V: int,
    seed: int = 0,
    node_budget: int = 20_000,
) -> tuple[np.ndarray, float, float]:
    """Certified optimum by best-child-first DFS with row-max upper bounds —
    the pure-Python stand-in for the reference's ILP certificate
    (solvers.py:359-454: ILP returns the optimum plus a true (lb, ub)
    status).  Extends certified optimality well past the V ≤ 7 exhaustive
    cap (V! = 479M at V=12; the bound prunes almost all of it on real
    match dicts, which are sparse).  At every node with ≥ ``lap_min_n``
    open rows the row-max bound is tightened by the Gilmore–Lawler LAP
    relaxation over the node's cap matrix, with the LAP duals used three
    ways (``solve_lap`` docstring): whole-node prune, per-child
    forced-assignment bounds, and VARIABLE FIXING — any open cell whose
    reduced cost exceeds the incumbent gap is forbidden for the entire
    subtree, shrinking every descendant's branching factor.  Measured on
    dense random dicts, routine certification moves from V ≈ 20-25
    (child bounds only) to V ≈ 32-36 within the default node budget.

    Accounting: assigning (i → j) collects its unary weight, the row
    (i, j) half-weights whose partner is already assigned and matching
    (self-loop keys hold the full weight in one entry), and the mirrored
    halves from assigned rows pointing back at (i, j) — so a complete
    assignment's accumulated score equals ``alignment_score``.  The bound
    for an open row is its best-case column: unary + half-weights to
    unassigned-and-available or assigned-and-matching partners + mirrors
    from assigned rows; summing per-row maxima is admissible because
    unassigned↔unassigned pair weights are split half per row.

    If ``node_budget`` is exhausted (pathological instances), the search
    stops and returns the best alignment found with an honest upper bound
    (max over abandoned subtree bounds) — exactly the reference's
    lower/upper status contract, never the vacuous 1e7.
    """
    grouped = _group_binary(binary)
    # (i,j) -> tuple of ((k,l), w): plain lists iterate ~3x faster than
    # dict.items() in the hot loop below
    rows: dict = {key: tuple(ent.items()) for key, ent in grouped.items()}
    # warm start: a strong incumbent makes the bound bite immediately
    incumbent, inc_score, _ = solve_hillclimb(
        unary, binary, V, seed=seed, restarts=2, with_bound=False
    )
    best = incumbent.copy()
    best_score = inc_score
    # Gilmore–Lawler root bound: when the LAP relaxation already meets the
    # incumbent, the incumbent IS the certified optimum — no search needed
    lap_ub = lap_upper_bound(unary, grouped, V)
    if lap_ub <= inc_score + 1e-9:
        return best, best_score, float(max(best_score, lap_ub))
    # mirror[(i,j)] = Σ half-weights from already-assigned rows pointing at
    # the candidate match (i,j) — maintained incrementally on (un)assign so
    # neither the gain nor the cap loops over the assignment
    mirror: dict = {}
    uget = unary.get
    rget = rows.get
    mget = mirror.get

    def col_cap(i: int, j: int, asg: dict[int, int], avail: set[int]) -> float:
        c = uget((i, j), 0.0) + mget((i, j), 0.0)
        for (k, l), w in rget((i, j), ()):
            if k == i:
                if l == j:
                    c += w
            elif k in asg:
                if asg[k] == l:
                    c += w
            elif l in avail:
                c += w
        return c

    def assign_gain(i: int, j: int, asg: dict[int, int]) -> float:
        g = uget((i, j), 0.0) + mget((i, j), 0.0)
        for (k, l), w in rget((i, j), ()):
            if k == i:
                if l == j:
                    g += w
            elif asg.get(k) == l:
                g += w
        return g

    # heavy rows first: decide the contested positions early
    def row_mass(i: int) -> float:
        return max(
            (
                uget((i, j), 0.0) + sum(w for _, w in rget((i, j), ()))
                for j in range(V)
            ),
            default=0.0,
        )

    order = sorted(range(V), key=row_mass, reverse=True)
    rest_by_depth = [tuple(order[d + 1 :]) for d in range(V)]
    eps = 1e-12
    nodes = 0
    open_ub = -1.0  # max bound over subtrees abandoned by the budget
    exhausted = False
    # per-node Gilmore–Lawler: below this open-row count the O(n³) LAP
    # solve costs more than the row-max bound saves
    lap_min_n = 6

    # forbidden[r] = columns LAP-dual variable fixing has proven can be
    # part of NO improving completion in the current subtree (reduced
    # cost exceeds the incumbent gap); maintained down the DFS and
    # undone on backtrack.  Fixing at a shallow node shrinks the
    # effective branching factor of its entire subtree.
    forbidden: dict[int, set[int]] = {}
    fget = forbidden.get
    _EMPTY: set[int] = set()

    def dfs(depth: int, asg: dict[int, int], avail: set[int], score: float) -> None:
        nonlocal best, best_score, nodes, open_ub, exhausted
        if depth == V:
            if score > best_score + eps:
                best_score = score
                a = np.arange(V, dtype=int)
                for p, c in asg.items():
                    a[p] = c
                best = a
            return
        i = order[depth]
        # bounds are computed ONCE per node, with the parent's (larger)
        # availability — still admissible for every child, and with the
        # children sorted by bound the first failure prunes the rest.
        # Forbidden cells are excluded: improving completions never use
        # them, and an open row with NO allowed column proves the whole
        # subtree non-improving.
        forb_i = fget(i, _EMPTY)
        cap_i = {
            j: col_cap(i, j, asg, avail) for j in avail if j not in forb_i
        }
        if not cap_i:
            return  # every child of the branching row is fixed out
        rest = rest_by_depth[depth]
        rest_caps = []
        rest_bound = 0.0
        for r in rest:
            forb_r = fget(r, _EMPTY)
            c = {
                jj: col_cap(r, jj, asg, avail)
                for jj in avail
                if jj not in forb_r
            }
            if not c:
                return  # open row with no allowed column: non-improving
            rest_caps.append(c)
            rest_bound += max(c.values())
        bounds = {j: score + cap_i[j] + rest_bound for j in cap_i}
        n = len(avail)
        fixed_here: list[tuple[int, int]] = []
        if n >= lap_min_n:
            # Gilmore–Lawler AT THE NODE: the open rows' caps must form a
            # permutation over the open columns, so the LAP optimum over
            # the cap matrix bounds the whole subtree, and the dual
            # reduced cost rc(r→c) bounds any completion forced through
            # (r, c) by score + LAP − rc (solve_lap docstring).  Used
            # three ways, all admissible: (a) whole-node prune, (b) each
            # child's bound tightened via the branching row's rc, and
            # (c) VARIABLE FIXING — any open cell whose rc exceeds the
            # incumbent gap is forbidden for the entire subtree.
            # Forbidden cells enter the matrix at profit 0 (≤ their cap;
            # improving completions avoid them, so the LAP stays an
            # upper bound while tightening).
            cols = sorted(avail)
            colidx = {jj: ci for ci, jj in enumerate(cols)}
            prof = np.zeros((n, n))
            for jj, cv in cap_i.items():
                prof[0, colidx[jj]] = cv
            for ridx, c in enumerate(rest_caps, start=1):
                for jj, cv in c.items():
                    prof[ridx, colidx[jj]] = cv
            _, lap_total, uu, vv = solve_lap(prof, with_duals=True)
            node_ub = score + lap_total
            if not exhausted and node_ub <= best_score + eps:
                return  # whole node pruned
            gap = node_ub - (best_score + eps)
            row0 = prof[0]
            u1 = uu[1]
            for j in cap_i:
                cj = colidx[j]
                rc = (-row0[cj]) - u1 - vv[cj + 1]
                if rc > 0.0:
                    b = node_ub - rc
                else:
                    b = node_ub
                if b < bounds[j]:
                    bounds[j] = b
            if not exhausted:
                for ridx, r in enumerate(rest, start=1):
                    ur = uu[ridx + 1]
                    profr = prof[ridx]
                    caps_r = rest_caps[ridx - 1]
                    for jj in caps_r:
                        cj = colidx[jj]
                        rc = (-profr[cj]) - ur - vv[cj + 1]
                        if rc > gap:
                            fset = forbidden.setdefault(r, set())
                            if jj not in fset:
                                fset.add(jj)
                                fixed_here.append((r, jj))
        for j in sorted(cap_i, key=bounds.get, reverse=True):
            nodes += 1
            bound = bounds[j]
            if exhausted or nodes > node_budget:
                exhausted = True
                open_ub = max(open_ub, bound)
                continue
            if bound <= best_score + eps:
                break  # bounds sorted descending: every later child fails too
            gain = assign_gain(i, j, asg)
            asg[i] = j
            avail.discard(j)
            entries = rget((i, j), ())
            for (k, l), w in entries:
                if k != i:
                    mirror[(k, l)] = mget((k, l), 0.0) + w
            dfs(depth + 1, asg, avail, score + gain)
            for (k, l), w in entries:
                if k != i:
                    mirror[(k, l)] -= w
            del asg[i]
            avail.add(j)
        for r, jj in fixed_here:
            forbidden[r].discard(jj)

    dfs(0, {}, set(range(V)), 0.0)
    # on exhaustion both the abandoned-subtree max and the LAP root bound
    # are admissible — report the tighter of the two
    ub = best_score if not exhausted else max(best_score, min(open_ub, lap_ub))
    return best, best_score, float(ub)


def swap_gain(
    align: np.ndarray, unary: dict, grouped: dict, i: int, k: int
) -> float:
    """Exact objective delta of transposing alignments i and k, in
    O(row-size) instead of re-scoring O(V²) (the move evaluation the
    reference computes at solvers.py:91-144; this version is the true
    delta, validated against full re-scoring by a property test).

    Derivation: every binary term involving position p appears once in
    row p and (by the symmetric half-weight construction) once mirrored
    in its partner's row, so the delta of rows i and k doubles — except
    cross terms between i and k (each mirror is itself a changed row)
    and self-loop terms (both halves live in one key), which the two
    corrections below de-duplicate.
    """
    j, l = int(align[i]), int(align[k])

    def row(p: int, ap: int, a: np.ndarray) -> float:
        entries = grouped.get((p, ap))
        if not entries:
            return 0.0
        return sum(w for (q, aq), w in entries.items() if int(a[q]) == aq)

    def cross(p1: int, a1: int, p2: int, a2: int) -> float:
        return grouped.get((p1, a1), {}).get((p2, a2), 0.0) + grouped.get(
            (p2, a2), {}
        ).get((p1, a1), 0.0)

    def self_term(p: int, ap: int) -> float:
        return grouped.get((p, ap), {}).get((p, ap), 0.0)

    unary_delta = (
        unary.get((i, l), 0.0)
        + unary.get((k, j), 0.0)
        - unary.get((i, j), 0.0)
        - unary.get((k, l), 0.0)
    )
    old_rows = row(i, j, align) + row(k, l, align)
    old_fix = cross(i, j, k, l) + self_term(i, j) + self_term(k, l)
    align[i], align[k] = l, j
    new_rows = row(i, l, align) + row(k, j, align)
    new_fix = cross(i, l, k, j) + self_term(i, l) + self_term(k, j)
    align[i], align[k] = j, l
    return unary_delta + 2.0 * (new_rows - old_rows) - (new_fix - old_fix)


def _cap_matrix(unary: dict, grouped: dict, V: int) -> np.ndarray:
    """Per-cell admissible caps: caps[i, j] bounds the total objective
    mass row i can contribute when aligned to j — unary weight plus every
    binary half-weight of row (i, j) except self-row halves pointing at a
    different column (k == i, l != j: unsatisfiable once i → j).  Cross-row
    halves all stay, which is admissible because unassigned↔unassigned
    pair weights are split half per row, so for ANY alignment a the true
    score is ≤ Σ_i caps[i, a[i]]."""
    caps = np.zeros((V, V))
    for i in range(V):
        for j in range(V):
            c = unary.get((i, j), 0.0)
            ent = grouped.get((i, j))
            if ent:
                for (k, l), w in ent.items():
                    if k != i or l == j:
                        c += w
            caps[i, j] = c
    return caps


def root_upper_bound(unary: dict, grouped: dict, V: int) -> float:
    """Admissible finite upper bound on the alignment objective with
    NOTHING assigned: Σ over rows i of the best-case column cap — the
    branch-and-bound root bound (``col_cap`` with an empty assignment and
    full availability).  O(V² · row) arithmetic, no search — a finite
    stand-in for the reference LP bound (solvers.py:457-511), replacing
    the vacuous 1e7 sentinel the reference's default hillclimber reports
    (solvers.py:356).  ``lap_upper_bound`` is the tighter version."""
    caps = _cap_matrix(unary, grouped, V)
    return float(caps.max(axis=1).sum()) if V else 0.0


def solve_lap(profit: np.ndarray, with_duals: bool = False):
    """Exact maximum-weight perfect assignment on a square profit matrix:
    the O(V³) shortest-augmenting-path Hungarian algorithm with dual
    potentials (Kuhn–Munkres / Jonker–Volgenant family — public-classic
    formulation).  Returns (assignment row→col, total profit); with
    ``with_duals`` also the optimal dual potentials ``(u, v)`` of the
    min-cost formulation on ``-profit`` (1-indexed lists, index 0 is the
    algorithm's virtual column).  At optimality the reduced cost
    ``rc(i, j) = -profit[i, j] - u[i+1] - v[j+1]`` is ≥ 0, and forcing
    assignment i→j bounds the forced optimum:
    ``forced_max(i→j) ≤ total - rc(i, j)`` — the classic LAP dual
    branching bound used per B&B node."""
    V = int(profit.shape[0])
    if V == 0:
        if with_duals:
            return np.zeros(0, dtype=int), 0.0, [0.0], [0.0]
        return np.zeros(0, dtype=int), 0.0
    cost = (-profit).tolist()  # minimize negated profit
    INF = float("inf")
    u = [0.0] * (V + 1)
    v = [0.0] * (V + 1)
    p = [0] * (V + 1)  # p[j] = row matched to column j (1-indexed, 0 = free)
    way = [0] * (V + 1)
    for i in range(1, V + 1):
        p[0] = i
        j0 = 0
        minv = [INF] * (V + 1)
        used = [False] * (V + 1)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = 0
            row = cost[i0 - 1]
            ui0 = u[i0]
            for j in range(1, V + 1):
                if used[j]:
                    continue
                cur = row[j - 1] - ui0 - v[j]
                if cur < minv[j]:
                    minv[j] = cur
                    way[j] = j0
                if minv[j] < delta:
                    delta = minv[j]
                    j1 = j
            for j in range(V + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    assign = np.zeros(V, dtype=int)
    total = 0.0
    for j in range(1, V + 1):
        assign[p[j] - 1] = j - 1
        total += float(profit[p[j] - 1, j - 1])
    if with_duals:
        return assign, total, u, v
    return assign, total


def lap_upper_bound(unary: dict, grouped: dict, V: int) -> float:
    """Gilmore–Lawler upper bound on the quadratic alignment objective:
    linearize into the admissible per-cell cap matrix, then solve the
    LINEAR assignment problem over it exactly.  Valid because any feasible
    alignment is a perfect assignment whose true score is ≤ its cap-matrix
    profit ≤ the LAP optimum; tighter than ``root_upper_bound`` because
    the row maxima must additionally form a permutation — the bound
    contract of the reference's LP relaxation (solvers.py:457-511) met
    without an LP library, and tight enough to certify optimality when it
    meets the incumbent."""
    if V == 0:
        return 0.0
    _, total = solve_lap(_cap_matrix(unary, grouped, V))
    return total


def solve_hillclimb(
    unary: dict,
    binary: dict,
    V: int,
    seed: int = 0,
    restarts: int = 4,
    max_iters: int = 1000,
    with_bound: bool = True,
) -> tuple[np.ndarray, float, float]:
    """Seeded steepest-ascent over transpositions with random restarts
    (objective and move set of solvers.py:50-356; deterministic seeding
    replaces the reference's global-RNG shuffle)."""
    grouped = _group_binary(binary)

    def climb(align: np.ndarray) -> tuple[np.ndarray, float]:
        score = alignment_score(align, unary, grouped)
        for _ in range(max_iters):
            best_gain = 1e-12  # float-noise floor: only strictly positive moves
            best_swap = None
            for i in range(V):
                for k in range(i):
                    gain = swap_gain(align, unary, grouped, i, k)
                    if gain > best_gain:
                        best_gain = gain
                        best_swap = (i, k)
            if best_swap is None:
                break
            i, k = best_swap
            align[i], align[k] = align[k], align[i]
            score += best_gain
        return align, alignment_score(align, unary, grouped)

    inits: list[np.ndarray] = []
    lap_ub = None
    if with_bound:
        # the Gilmore–Lawler cap matrix yields BOTH the honest upper bound
        # and a near-optimal deterministic starting permutation for free
        caps = _cap_matrix(unary, grouped, V)
        lap_assign, lap_ub = solve_lap(caps)
        inits.append(lap_assign)
    for init in range(restarts):
        rng = random.Random((seed * 1000003 + init) & 0x7FFFFFFF)
        perm = list(range(V))
        rng.shuffle(perm)
        inits.append(np.array(perm, dtype=int))
    best = None
    best_score = -1.0
    for start in inits:
        align, score = climb(start)
        if score > best_score:
            best_score = score
            best = align
    # honest finite upper bound (never the reference's 1e7 sentinel);
    # skipped when the caller computes its own bound (B&B warm start)
    ub = max(best_score, lap_ub) if lap_ub is not None else best_score
    return best, best_score, float(ub)


def map_triples(triples: list[Triple], var_map: dict[str, str]) -> list[Triple]:
    """Substitute aligned graph-1 variables ``aa_<a>`` by their graph-2
    partners ``bb_<var_map[a]>`` (score.py:81-141); unaligned vars keep
    their name."""
    sub = {"aa_" + a: "bb_" + b for a, b in var_map.items()}
    return [(sub.get(s, s), r, sub.get(t, t)) for s, r, t in triples]


def score_given_alignment(
    triples1: list[Triple],
    triples2: list[Triple],
    var_map: dict[str, str],
    concept_sim: dict[tuple[str, str], float] | None = None,
) -> tuple[float, float, int, int]:
    """The match 4-vector (score.py:181-197) under the raw var map of an
    alignment (``alignment_var_map``): substitute, multiset-match with
    duplicate caps, both directions.  With a graded matcher the matchsum
    is the reference's greedy max over candidates (score.py:143-179);
    with the exact matcher that reduces to the fast multiset-intersection
    path."""
    mapped = map_triples(triples1, var_map)
    c1, c2 = Counter(mapped), Counter(triples2)
    if not concept_sim:
        msum_x = sum(min(n, c2[tr]) for tr, n in c1.items() if tr in c2)
        msum_y = sum(min(n, c1[tr]) for tr, n in c2.items() if tr in c1)
        return float(msum_x), float(msum_y), len(mapped), len(triples2)

    def graded(tr_a: Triple, tr_b: Triple) -> float:
        if tr_a == tr_b:
            return 1.0
        if tr_a[0] != tr_b[0]:
            return 0.0
        if tr_a[1] == tr_b[1] == INSTANCE:
            return _sim_lookup(concept_sim, tr_a[2], tr_b[2])
        return 0.0

    def greedy_matchsum(ca: Counter, cb: Counter) -> float:
        total = 0.0
        for tr_a, na in ca.items():
            best = 0.0
            for tr_b, nb in cb.items():
                m = graded(tr_a, tr_b) * min(na, nb)
                if m > best:
                    best = m
            total += best
        return total

    return (
        greedy_matchsum(c1, c2),
        greedy_matchsum(c2, c1),
        len(mapped),
        len(triples2),
    )


def stable_pair_seed(pair_id: str) -> int:
    """Process-independent seed (builtin ``hash`` is randomized per
    Python process — an executor would disagree with the driver)."""
    return zlib.crc32(str(pair_id).encode()) & 0xFFFF


@dataclass
class AlignConfig:
    solver: str = "auto"  # auto | bnb | exhaustive | hillclimber | dummy
    exhaustive_max_v: int = 7
    # auto certifies the optimum via branch-and-bound up to this V
    # (reference ILP contract, solvers.py:417-454), hillclimbs above it.
    # With LAP-dual variable fixing the per-node Gilmore–Lawler bound
    # certifies dense synthetic dicts 6/6 through V=32 (<1 s at V=28,
    # <6 s worst at V=32) within the default budget; 25 keeps the
    # worst-case pair wall sub-second on dense dicts (real match dicts
    # are sparser) — raise toward 32 when certification matters more
    # than latency
    bnb_max_v: int = 25
    # B&B node budget: 20k certifies ~99% of synthetic-corpus pairs at
    # ~2.5x the hillclimber's cost; raise for full certification (the
    # uncertified tail still reports an honest (lb, ub))
    bnb_node_budget: int = 20_000
    # when the budget exhausts (ub > lb), retry that pair ONCE with
    # budget × this factor before accepting the gap — bounded extra cost
    # on the ~1% uncertified tail only; 0 or 1 disables
    bnb_escalation: int = 10
    restarts: int = 4
    seed: int = 42
    compress: bool = False
    concept_weight: float = 1.0
    # graded concept similarity (EmbeddingConceptMatcher analog,
    # score.py:31-65): symmetric dict (concept_a, concept_b) -> [0, 1];
    # exact equality still scores 1.0.  Ships to executors inside the
    # kernel closure (keep it small, e.g. a top-k-neighbors table).
    concept_sim: dict[tuple[str, str], float] | None = None


def alignment_var_map(align: np.ndarray, var_index: dict[str, int]) -> dict[str, str]:
    """Aligned variable pairs with affixes stripped: raw g1 var → raw g2
    var (reference _get_var_map, align.py:78-89)."""
    index_var2 = {i: v for v, i in var_index.items() if v.startswith("bb_")}
    out = {}
    for v, i in var_index.items():
        if not v.startswith("aa_"):
            continue
        partner = index_var2.get(int(align[i]))
        if partner is not None:
            out[v[3:]] = partner[3:]
    return out


def align_pair(
    triples1: list[Triple],
    triples2: list[Triple],
    cfg: AlignConfig,
    pair_seed: int = 0,
) -> tuple[
    list[Triple], list[Triple], set[str], set[str], dict[str, str], float, float
]:
    """Prepare → match dicts → solve (reference bindings.py:66-115): the
    prepared triples and variables, the raw var map of the alignment and
    the solver's (lb, ub)."""
    t1, t2, v1, v2 = prepare_pair(triples1, triples2, cfg.compress)
    if not v1 or not v2:
        # no alignable variables: score directly on equality
        return t1, t2, v1, v2, {}, 0.0, 0.0
    var_index = build_var_index(v1, v2)
    unary, binary = build_match_dicts(
        t1, t2, v1, v2, var_index, cfg.concept_weight, cfg.concept_sim
    )
    V = max(len(v1), len(v2))
    solver = cfg.solver
    if solver == "auto":
        solver = "bnb" if V <= cfg.bnb_max_v else "hillclimber"
    if solver == "exhaustive":
        align, lb, ub = solve_exhaustive(unary, binary, V)
    elif solver == "bnb":
        align, lb, ub = solve_branch_bound(
            unary, binary, V, seed=cfg.seed * 7919 + pair_seed,
            node_budget=cfg.bnb_node_budget,
        )
        if ub > lb + 1e-9 and cfg.bnb_escalation > 1:
            # budget exhausted without a certificate: one bounded retry at
            # escalated budget shrinks the non-optimal count the CLI
            # epilogue reports (reference __main__.py:203-213)
            align, lb, ub = solve_branch_bound(
                unary, binary, V, seed=cfg.seed * 7919 + pair_seed,
                node_budget=cfg.bnb_node_budget * cfg.bnb_escalation,
            )
    elif solver == "hillclimber":
        align, lb, ub = solve_hillclimb(
            unary, binary, V, seed=cfg.seed * 7919 + pair_seed, restarts=cfg.restarts
        )
    elif solver == "dummy":
        align, lb, ub = np.arange(V, dtype=int), 0.0, 0.0
    else:
        raise ValueError(f"unknown solver {solver!r}")
    # solver-result validation (the reference asserts solver sanity before
    # scoring): the alignment must be a permutation over [0, V) and the
    # reported interval must contain the achieved score
    assert len(align) == V and len(set(int(a) for a in align)) == V
    assert all(0 <= int(a) < V for a in align)
    assert lb <= ub + 1e-9, (lb, ub)
    return t1, t2, v1, v2, alignment_var_map(align, var_index), float(lb), float(ub)


def process_pair(
    triples1: list[Triple],
    triples2: list[Triple],
    cfg: AlignConfig | None = None,
    pair_seed: int = 0,
) -> dict:
    """Full per-pair pipeline: prepare → match dicts → solve → score
    (reference bindings.py:66-115)."""
    cfg = cfg or AlignConfig()
    t1, t2, v1, v2, var_map, lb, ub = align_pair(triples1, triples2, cfg, pair_seed)
    msum_x, msum_y, xlen, ylen = score_given_alignment(
        t1, t2, var_map, cfg.concept_sim
    )
    return dict(
        matchsum_x=msum_x, matchsum_y=msum_y, xlen=xlen, ylen=ylen,
        lower_bound=lb, upper_bound=ub, n_vars_a=len(v1), n_vars_b=len(v2),
    )


DIMENSIONS = ("all-onealign", "all-multialign")


def _triples(rows: list) -> list[Triple]:
    return [row[1:] for row in rows]


def _affix_rows(rows: list, affix: str) -> list:
    """``affix_vars`` over ``(pos, src, rel, dst)`` rows."""
    triples = _triples(rows)
    affixed, _ = affix_vars(triples, set(var_concept_dict(triples)), affix)
    return [(row[0], *t) for row, t in zip(rows, affixed)]


def score_aspects(
    rows1: list, rows2: list, var_map: dict[str, str], edge_rules: dict | None = None
) -> list[tuple]:
    """``(aspect, matchsum_x, matchsum_y, xlen, ylen)`` of one pair under
    one whole-graph alignment, given as its raw var map (the
    ``all-onealign`` dimension, bindings.py:81-94).

    Stage order follows the reference, which extracts from *prepared*
    graphs: affix the uncompressed ``(pos, src, rel, dst)`` rows first —
    so a variable named like a concept-group member never seeds an
    aspect — then extract, substitute and multiset-match exactly."""
    asp1 = aspect_subgraphs(_affix_rows(rows1, "aa_"), edge_rules)
    asp2 = aspect_subgraphs(_affix_rows(rows2, "bb_"), edge_rules)
    return [
        (
            aspect,
            *score_given_alignment(
                _triples(asp1.get(aspect, [])), _triples(asp2.get(aspect, [])), var_map
            ),
        )
        for aspect in sorted(asp1.keys() | asp2.keys())
    ]


def process_pair_dimensions(
    rows1: list,
    rows2: list,
    dimension: str,
    cfg: AlignConfig,
    pair_id: str,
    edge_rules: dict | None = None,
) -> list[tuple]:
    """``(score_dim, matchsum_x, matchsum_y, xlen, ylen)`` rows of one pair
    from its two graphs' ``(pos, src, rel, dst)`` rows (bindings.py:81-110);
    ``dimension`` is one of ``DIMENSIONS``.

    ``all-onealign``: solve the whole graphs once and emit ``main``, then
    score every aspect under that alignment (``score_aspects``).
    ``all-multialign``: prepare and align each aspect pair on its own,
    seeded by ``pair_id#aspect``; there is no ``main`` row."""
    if dimension == "all-onealign":
        t1, t2, _, _, var_map, _, _ = align_pair(
            _triples(rows1), _triples(rows2), cfg, stable_pair_seed(pair_id)
        )
        main = score_given_alignment(t1, t2, var_map, cfg.concept_sim)
        return [("main", *main), *score_aspects(rows1, rows2, var_map, edge_rules)]
    asp1 = aspect_subgraphs(rows1, edge_rules)
    asp2 = aspect_subgraphs(rows2, edge_rules)
    out = []
    for aspect in sorted(asp1.keys() | asp2.keys()):
        stats = process_pair(
            _triples(asp1.get(aspect, [])), _triples(asp2.get(aspect, [])), cfg,
            pair_seed=stable_pair_seed(f"{pair_id}#{aspect}"),
        )
        out.append((aspect, *(stats[c] for c in STAT_COLS)))
    return out


# --------------------------------------------------------------------------
# Spark operator
# --------------------------------------------------------------------------

PAIR_STATS_SCHEMA = (
    "pair_id string, matchsum_x double, matchsum_y double, xlen long, "
    "ylen long, lower_bound double, upper_bound double, "
    "n_vars_a int, n_vars_b int"
)
DIM_STATS_SCHEMA = (
    "pair_id string, score_dim string, matchsum_x double, matchsum_y double, "
    "xlen long, ylen long"
)


def _by_pair(edges_a: DataFrame, edges_b: DataFrame, pair_col: str):
    """Both edge tables tagged with a side column, unioned and grouped by
    pair: ONE exchange (a cogroup would shuffle both sides separately, and
    trips Spark's ambiguous-self-join check when both sides derive from
    the same table, the common case)."""

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.select(
            F.col(pair_col).cast("string").alias("pair_id"),
            "pos", "src", "rel", "dst",
            F.lit(tag).alias("side"),
        )

    return side(edges_a, 0).unionByName(side(edges_b, 1)).groupBy("pair_id")


def _side_rows(pdf: pd.DataFrame, tag: int) -> list:
    part = pdf[pdf["side"] == tag].sort_values("pos")
    return list(zip(part["pos"], part["src"], part["rel"], part["dst"]))


def align_and_score(
    edges_a: DataFrame,
    edges_b: DataFrame,
    pair_col: str = "graph_id",
    cfg: AlignConfig | None = None,
) -> DataFrame:
    """Corpus-scale pairwise alignment: one row of match statistics per
    pair.

    Physical shape: ONE ``groupBy(pair_id).applyInPandas`` shuffles each
    pair's triples into an Arrow batch and runs the numpy kernel.  The
    embarrassingly parallel axis is pairs, exactly where the reference
    loops sequentially (bindings.py:118-130).  Skew note: one pair = one
    task at minimum granularity; a pathologically giant pair dominates
    its own task but never a whole executor's queue (AQE rebalances the
    rest).
    """
    cfg = cfg or AlignConfig()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pair_id = pdf["pair_id"].iloc[0]
        t1, t2 = (_triples(_side_rows(pdf, tag)) for tag in (0, 1))
        row = process_pair(t1, t2, cfg, pair_seed=stable_pair_seed(pair_id))
        row["pair_id"] = pair_id
        return pd.DataFrame([row])

    return _by_pair(edges_a, edges_b, pair_col).applyInPandas(kernel, PAIR_STATS_SCHEMA)


def align_and_score_dimensions(
    edges_a: DataFrame,
    edges_b: DataFrame,
    dimension: str,
    pair_col: str = "graph_id",
    cfg: AlignConfig | None = None,
    edge_rules: dict | None = None,
) -> DataFrame:
    """Per-aspect scoring: one ``(pair_id, score_dim)`` row of match
    statistics per pair and dimension (``process_pair_dimensions``), over
    the same single ``groupBy(pair_id).applyInPandas`` as
    ``align_and_score``."""
    if dimension not in DIMENSIONS:
        raise ValueError(f"unknown dimension {dimension!r}")
    cfg = cfg or AlignConfig()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pair_id = pdf["pair_id"].iloc[0]
        rows = process_pair_dimensions(
            _side_rows(pdf, 0), _side_rows(pdf, 1), dimension, cfg, pair_id,
            edge_rules,
        )
        return pd.DataFrame(
            [(pair_id, *row) for row in rows],
            columns=["pair_id", "score_dim", *STAT_COLS],
        )

    return _by_pair(edges_a, edges_b, pair_col).applyInPandas(kernel, DIM_STATS_SCHEMA)
