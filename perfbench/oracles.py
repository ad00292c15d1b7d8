"""Independent oracles for the benchmark's output checks.

Everything here works from the generated SNAP files and numpy (plus the
engine's pure-python reference ports ``tree.serial_tree_oracle`` and
``evaluate.evaluate_oracle``); nothing reuses the engine's Spark code.
"""

from __future__ import annotations

import numpy as np

from gen import read_pairs


class Graph:
    """The simple undirected graph a SNAP file denotes: self loops
    dropped, duplicate pairs merged, isolated ids absent."""

    def __init__(self, path: str):
        src, dst = read_pairs(path)
        keep = src != dst
        lo = np.minimum(src[keep], dst[keep])
        hi = np.maximum(src[keep], dst[keep])
        pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
        self.lo, self.hi = pairs[:, 0], pairs[:, 1]
        self.vid, inv = np.unique(np.concatenate([self.lo, self.hi]), return_inverse=True)
        self.degree = np.bincount(inv, minlength=self.vid.size)
        # sheep's sequence: rank by (degree asc, vid asc)
        order = np.lexsort((self.vid, self.degree))
        self.pos = np.empty(self.vid.size, dtype=np.int64)
        self.pos[order] = np.arange(self.vid.size)
        self.ilo, self.ihi = inv[: self.lo.size], inv[self.lo.size:]

    @property
    def n_edges(self) -> int:
        return int(self.lo.size)

    def pos_of(self) -> dict[int, int]:
        return dict(zip(self.vid.tolist(), self.pos.tolist()))

    def edge_list(self) -> list[tuple[int, int]]:
        return list(zip(self.lo.tolist(), self.hi.tolist()))


def tree_oracle(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """(parent, pst_weight) indexed by jnid, parent -1 for roots."""
    from sheep_spark.tree import serial_tree_oracle

    parent, pst = serial_tree_oracle(g.edge_list(), g.pos_of())
    return np.array([-1 if p is None else p for p in parent], dtype=np.int64), np.array(pst, dtype=np.int64)


def metrics_oracle(g: Graph, part_by_index: np.ndarray) -> dict:
    from sheep_spark.evaluate import evaluate_oracle

    part = dict(zip(g.vid.tolist(), part_by_index.tolist()))
    return evaluate_oracle(g.edge_list(), g.pos_of(), part)


def down_parts(g: Graph, part_by_index: np.ndarray) -> np.ndarray:
    """Each canonical edge's part under down-assignment: the part of its
    lower-pos endpoint."""
    lo_owns = g.pos[g.ilo] < g.pos[g.ihi]
    return np.where(lo_owns, part_by_index[g.ilo], part_by_index[g.ihi])


def pagerank(g: Graph, n_iter: int, damping: float = 0.85) -> tuple[np.ndarray, float]:
    """``n_iter`` synchronous power-iteration steps of the engine's
    formulation (uniform start, no dangling term: the graph is
    symmetrized). Returns (ranks by dense index, L1 delta of the last
    step)."""
    n = g.vid.size
    src = np.concatenate([g.ilo, g.ihi])
    dst = np.concatenate([g.ihi, g.ilo])
    deg = g.degree.astype(np.float64)
    rank = np.full(n, 1.0 / n)
    delta = float("inf")
    for _ in range(n_iter):
        new = (1.0 - damping) / n + damping * np.bincount(dst, weights=(rank / deg)[src], minlength=n)
        delta = float(np.abs(new - rank).sum())
        rank = new
    return rank, delta


def components(g: Graph) -> np.ndarray:
    """Min vid of each vertex's component, by dense index (union-find)."""
    parent = np.arange(g.vid.size)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(g.ilo.tolist(), g.ihi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # dense index order == vid order
    roots = np.array([find(i) for i in range(g.vid.size)], dtype=np.int64)
    return g.vid[roots]


def triangles(g: Graph) -> int:
    """Exact triangle count: orient every edge low → high pos and count,
    per edge (a, b), the out-neighbours a and b share."""
    a = np.where(g.pos[g.ilo] < g.pos[g.ihi], g.ilo, g.ihi)
    b = np.where(g.pos[g.ilo] < g.pos[g.ihi], g.ihi, g.ilo)
    out: list[set[int]] = [set() for _ in range(g.vid.size)]
    for x, y in zip(a.tolist(), b.tolist()):
        out[x].add(y)
    return sum(len(out[x] & out[y]) for x, y in zip(a.tolist(), b.tolist()))
