"""Seeded benchmark inputs and the independent reference answers they are
checked against.

The link graphs mimic the TPC-H-derived edge tables of ``__spark_entry__.py``
(``E_OP`` order->part, ``E_CO`` co-purchased part pairs, ``E_CUST``
customer->order), generated here so the benchmark needs no data files.  Their
structure comes from a fixed generator seed; the workload seed only salts the
vertex-id strings.  Every seed therefore gives an isomorphic graph whose
triangle total and component count are known in advance, while hash
placement of the vertices changes from seed to seed.

The reference answers (union-find components, degree-ordered triangle count,
numpy power-iteration PageRank) share no code with ``smatchpp_spark``.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

STRUCTURE_SEED = 20260816


class LinkGraph:
    """Order/part/customer link graph of ``n_orders`` orders.

    Orders have 1 to 7 lines, each naming a uniformly drawn part, like TPC-H
    ``lineitem``; parts number ``2/15`` of the orders and customers a tenth.
    """

    def __init__(self, n_orders: int, seed: int):
        rng = np.random.default_rng(STRUCTURE_SEED)
        n_parts = max(8, n_orders * 2 // 15)
        n_cust = max(4, n_orders // 10)
        lines = rng.integers(1, 8, n_orders)
        order_of_line = np.repeat(np.arange(n_orders), lines)
        part_of_line = rng.integers(0, n_parts, order_of_line.size)
        cust_of_order = rng.integers(0, n_cust, n_orders)

        op = np.unique(np.stack([order_of_line, part_of_line], axis=1), axis=0)
        self.op_keys = op  # (order, part), sorted and distinct
        co = set()
        start = 0
        for o in range(n_orders):
            parts = sorted(set(part_of_line[start:start + lines[o]].tolist()))
            start += lines[o]
            for i, a in enumerate(parts):
                for b in parts[i + 1:]:
                    co.add((a, b))
        self.co_keys = np.array(sorted(co), dtype=np.int64).reshape(-1, 2)
        self.cust_keys = np.stack([cust_of_order, np.arange(n_orders)], axis=1)
        self.salt = "" if seed is None else f"{seed}x"

    def name(self, kind: str, keys: np.ndarray) -> list[str]:
        """Salted vertex ids: ``<kind><salt><key>``; injective per seed."""
        prefix = kind + self.salt
        return [prefix + str(k) for k in keys.tolist()]

    def e_op(self) -> pd.DataFrame:
        return pd.DataFrame({
            "src": self.name("o", self.op_keys[:, 0]),
            "dst": self.name("p", self.op_keys[:, 1]),
        })

    def e_co(self) -> pd.DataFrame:
        return pd.DataFrame({
            "src": self.name("p", self.co_keys[:, 0]),
            "dst": self.name("p", self.co_keys[:, 1]),
        })

    def e_cust(self) -> pd.DataFrame:
        return pd.DataFrame({
            "src": self.name("c", self.cust_keys[:, 0]),
            "dst": self.name("o", self.cust_keys[:, 1]),
        })


def hash_sample(keys: np.ndarray, share: float) -> np.ndarray:
    """Boolean mask picking about ``share`` of the rows of an integer key
    array by a fixed hash of the unsalted keys, so every seed picks the same
    structural edges and the update stays isomorphic across seeds."""
    h = pd.util.hash_pandas_object(pd.DataFrame(keys), index=False)
    return (h.to_numpy() % np.uint64(10_000)) < int(share * 10_000)


def component_labels(edges: pd.DataFrame) -> dict[str, str]:
    """vertex -> smallest vertex id of its component (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["src"], edges["dst"]):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def triangle_total(edges: pd.DataFrame) -> int:
    """Exact undirected triangle count by degree-ordered wedge closing."""
    und = {(min(a, b), max(a, b)) for a, b in zip(edges["src"], edges["dst"]) if a != b}
    deg: dict[str, int] = defaultdict(int)
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    rank = {v: (d, v) for v, d in deg.items()}
    out: dict[str, set] = defaultdict(set)
    for a, b in und:
        lo, hi = (a, b) if rank[a] < rank[b] else (b, a)
        out[lo].add(hi)
    return sum(len(hi & out.get(b, set())) for hi in out.values() for b in hi)


def pagerank_reference(edges: pd.DataFrame, alpha: float = 0.85,
                       tol: float = 1e-14) -> dict[str, float]:
    """Power iteration with uniform teleport and uniformly spread dangling
    mass over every endpoint, iterated until the L1 change is below
    ``tol``."""
    codes, verts = pd.factorize(pd.concat([edges["src"], edges["dst"]]), sort=True)
    n = len(verts)
    src, dst = codes[: len(edges)], codes[len(edges):]
    out_deg = np.bincount(src, minlength=n).astype(float)
    dangling = out_deg == 0
    w = 1.0 / out_deg[src]
    rank = np.full(n, 1.0 / n)
    for _ in range(10_000):
        nxt = (1.0 - alpha) / n + alpha * rank[dangling].sum() / n
        nxt = nxt + alpha * np.bincount(dst, weights=rank[src] * w, minlength=n)
        done = np.abs(nxt - rank).sum() < tol
        rank = nxt
        if done:
            break
    return dict(zip(verts.tolist(), rank.tolist()))
