"""Reference results computed with numpy, pandas and networkx on the same
inputs the engine receives. Every function returns plain Python or pandas
objects that the workloads compare against the engine's ``to_values()``.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd


# -- graph algorithms --------------------------------------------------------

def _digraph(n, i, j) -> nx.DiGraph:
    g = nx.DiGraph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(i.tolist(), j.tolist()))
    return g


def bfs_levels(n, i, j, src) -> dict:
    return dict(nx.single_source_shortest_path_length(_digraph(n, i, j), src))


def components(n, i, j) -> np.ndarray:
    """Weak components, each vertex labelled by the smallest id in its
    component."""
    labels = np.arange(n)
    for comp in nx.weakly_connected_components(_digraph(n, i, j)):
        members = np.fromiter(comp, dtype=np.int64)
        labels[members] = members.min()
    return labels


def loop_rounds(n, i, j, src) -> tuple[int, int]:
    """Rounds (``vxm`` calls) that the engine's ``bfs_level`` and
    ``connected_components`` loops take on this graph: the same frontier
    rules, including the last round that finds nothing new and the
    pointer-jumping round every ``jump_every``-th round of components."""
    jump_every = 4
    level = np.full(n, -1)
    level[src] = 0
    frontier, bfs = np.array([src]), 0
    while frontier.size:
        bfs += 1
        nxt = np.unique(j[np.isin(i, frontier)])
        frontier = nxt[level[nxt] < 0]
        level[frontier] = bfs

    a, b = np.concatenate([i, j]), np.concatenate([j, i])
    label = np.arange(n)
    changed, cc = np.ones(n, bool), 0
    while changed.any():
        cc += 1
        m = changed[a]
        cand = np.full(n, n)
        np.minimum.at(cand, b[m], label[a[m]])
        new = np.minimum(label, cand)
        if cc % jump_every == 0:
            new = np.minimum(new, new[new])
        changed = new < label
        label = new
    return bfs, cc


def pagerank(n, i, j, damping: float, iters: int) -> np.ndarray:
    """Power iteration: each vertex spreads its rank evenly over its
    out-edges, and the rank of vertices with no out-edge is spread evenly
    over all vertices."""
    outdeg = np.bincount(i, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        np.add.at(contrib, j, r[i] / outdeg[i])
        r = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return r


# -- core GraphBLAS operations -----------------------------------------------
# Matrices are DataFrames with columns i, j, v; vectors are Series indexed by
# vertex id.

def mxv_plus_times(A: pd.DataFrame, x: pd.Series) -> pd.Series:
    m = A[A.j.isin(x.index)]
    return (m.v * x.loc[m.j].to_numpy()).groupby(m.i.to_numpy()).sum()


def mxv_min_plus(A: pd.DataFrame, x: pd.Series) -> pd.Series:
    m = A[A.j.isin(x.index)]
    return (m.v + x.loc[m.j].to_numpy()).groupby(m.i.to_numpy()).min()


def masked_accum(w: pd.Series, t: pd.Series, skip) -> pd.Series:
    """``w(~S, accum=plus) << t`` where ``S`` is the index set ``skip``."""
    t = t[~t.index.isin(skip)]
    return w.add(t, fill_value=0).sort_index()


def mxm_plus_pair_masked(A: pd.DataFrame) -> pd.DataFrame:
    """``C<A.S> = A @ A`` over plus_pair: for each edge (i, j), the number
    of k with edges (i, k) and (k, j); entries with no such k are absent."""
    wedges = A[["i", "j"]].merge(A[["i", "j"]], left_on="j", right_on="i",
                                 suffixes=("", "_2"))
    counts = wedges.groupby(["i", "j_2"]).size().rename("v").reset_index()
    counts = counts.rename(columns={"j_2": "j"})
    return counts.merge(A[["i", "j"]], on=["i", "j"])


def ewise_add_transpose(A: pd.DataFrame) -> pd.DataFrame:
    T = A.rename(columns={"i": "j", "j": "i"})
    return (pd.concat([A, T]).groupby(["i", "j"], as_index=False).v.sum())


def reduce_rowwise(A: pd.DataFrame) -> pd.Series:
    return A.groupby("i").v.sum()


def extract(A: pd.DataFrame, rows, cols) -> pd.DataFrame:
    rpos = pd.Series(np.arange(len(rows)), index=rows)
    cpos = pd.Series(np.arange(len(cols)), index=cols)
    m = A[A.i.isin(rows) & A.j.isin(cols)]
    return pd.DataFrame({"i": rpos.loc[m.i].to_numpy(),
                         "j": cpos.loc[m.j].to_numpy(),
                         "v": m.v.to_numpy()})


def assign_accum(C: pd.DataFrame, rows, cols, B: pd.DataFrame,
                 mask: pd.DataFrame | None = None) -> pd.DataFrame:
    """``C[rows, cols](mask.S, accum=plus) << B`` as a sub-assign: ``mask``
    (if given) is in B's coordinates; entries of C outside the region, or
    masked out, keep their values."""
    if mask is not None:
        B = B.merge(mask[["i", "j"]], on=["i", "j"])
    T = pd.DataFrame({"i": np.asarray(rows)[B.i.to_numpy()],
                      "j": np.asarray(cols)[B.j.to_numpy()],
                      "v": B.v.to_numpy()})
    return pd.concat([C, T]).groupby(["i", "j"], as_index=False).v.sum()
