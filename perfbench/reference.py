"""Reference results computed without the engine: numpy, networkx and
plain Python sets over the generator's own edge list.

Semantics follow the engine's documented contracts:

* vertex ids are the rank of the repo name in sorted order over every
  edge endpoint (``vertices.build_vertex_dictionary`` over the names);
* PageRank: damping 0.85, uniform teleport, dangling mass spread
  uniformly, stop when the L1 delta is at most ``tol`` or after
  ``max_iter`` supersteps;
* connected components label each vertex with the minimum id of its
  undirected component;
* synchronous label propagation: each round every vertex takes the most
  frequent label among its neighbours, ties to the smallest label, until
  no label changes or ``max_iter`` rounds;
* triangle and k-clique counts are over the ``sid < tid`` pair set
  (the reference engine's per-alias filter).
"""

from __future__ import annotations

from dataclasses import dataclass

import networkx as nx
import numpy as np
import pandas as pd


@dataclass
class Graph:
    names: np.ndarray   # vertex id -> repo name
    sid: np.ndarray     # distinct directed edges, encoded
    tid: np.ndarray

    @property
    def n(self) -> int:
        return len(self.names)


def encode(expected_edges: pd.DataFrame) -> Graph:
    src = expected_edges["src_repo"].to_numpy(str)
    dst = expected_edges["dst_repo"].to_numpy(str)
    names = np.unique(np.concatenate([src, dst]))
    sid = np.searchsorted(names, src).astype(np.int64)
    tid = np.searchsorted(names, dst).astype(np.int64)
    pairs = np.unique(sid * len(names) + tid)
    return Graph(names, pairs // len(names), pairs % len(names))


def pagerank(g: Graph, max_iter: int, tol: float = 1e-6,
             damping: float = 0.85) -> np.ndarray:
    """Rank per vertex id after the engine's stop rule."""
    n = g.n
    outdeg = np.bincount(g.sid, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    p = 1.0 / n
    share = 1.0 / outdeg[g.sid]
    rank = np.full(n, p)
    d_mass = dangling.sum() / n
    for _ in range(max_iter):
        contrib = np.bincount(g.tid, weights=rank[g.sid] * share, minlength=n)
        new = (1.0 - damping) * p + damping * (contrib + d_mass * p)
        delta = np.abs(new - rank).sum()
        d_mass = new[dangling].sum()
        rank = new
        if delta <= tol:
            break
    return rank


def components(g: Graph) -> np.ndarray:
    """Minimum vertex id of each vertex's undirected component."""
    graph = nx.Graph()
    graph.add_nodes_from(range(g.n))
    graph.add_edges_from(zip(g.sid.tolist(), g.tid.tolist()))
    label = np.empty(g.n, dtype=np.int64)
    for comp in nx.connected_components(graph):
        members = np.fromiter(comp, dtype=np.int64)
        label[members] = members.min()
    return label


def label_propagation(g: Graph, max_iter: int) -> np.ndarray:
    """Synchronous LPA label per vertex id (every vertex has an edge)."""
    n = g.n
    keep = g.sid != g.tid
    both = np.unique(np.concatenate([g.sid[keep] * n + g.tid[keep],
                                     g.tid[keep] * n + g.sid[keep]]))
    v, nbr = both // n, both % n
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        # label(v) is a vote cast at nbr
        key, cnt = np.unique(nbr * n + label[v], return_counts=True)
        tv, lab = key // n, key % n
        order = np.lexsort((lab, -cnt, tv))
        first = order[np.r_[True, tv[order][1:] != tv[order][:-1]]]
        new = label.copy()
        new[tv[first]] = lab[first]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return label


def _oriented_out(g: Graph) -> tuple[list[set[int]], np.ndarray, np.ndarray]:
    """Degree-oriented out-sets over the ``sid < tid`` pair set."""
    lt = g.sid < g.tid
    a, b = g.sid[lt], g.tid[lt]
    deg = np.bincount(a, minlength=g.n) + np.bincount(b, minlength=g.n)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    src, dst = np.where(fwd, a, b), np.where(fwd, b, a)
    out: list[set[int]] = [set() for _ in range(g.n)]
    for s, t in zip(src.tolist(), dst.tolist()):
        out[s].add(t)
    return out, src, dst


def clique_counts(g: Graph, with_k4: bool) -> dict[int, int]:
    """Triangle count, and the 4-clique count when asked."""
    out, src, dst = _oriented_out(g)
    tri = k4 = 0
    for u, v in zip(src.tolist(), dst.tolist()):
        common = out[u] & out[v]
        tri += len(common)
        if with_k4:
            for w in common:
                k4 += len(common & out[w])
    return {3: tri, 4: k4} if with_k4 else {3: tri}


def properties(g: Graph, n_files: int) -> dict[str, float]:
    """Input properties that decide the engine's ``auto`` plans."""
    _, src, _ = _oriented_out(g)
    d = np.bincount(src, minlength=g.n).astype(np.float64)
    e = len(src)
    return {
        "files": n_files,
        "vertices": g.n,
        "edges": len(g.sid),
        "lt_pairs": e,
        "wedge_edge_ratio": float((d * (d - 1) / 2).sum() / e) if e else 0.0,
        "max_in_degree": int(np.bincount(g.tid, minlength=g.n).max()),
    }
