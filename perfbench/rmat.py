"""Seeded R-MAT graph generator (Chakrabarti, Zhan, Faloutsos 2004).

Every output byte is a function of ``(scale, edge_factor, seed)``: edges
are drawn with one ``numpy.random.Generator`` seeded from ``seed``,
vertex ids are scrambled by a seeded permutation (as Graph500 does, so
hub ids are not the low ids), duplicates and self-loops are dropped, the
edge list is sorted, and the parquet file is written with fixed writer
settings. The same seed therefore gives a byte-identical file and a
different seed gives a different one (``test_rmat.py`` checks both).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Graph500 quadrant probabilities; the fourth is 1 - A - B - C
A, B, C = 0.57, 0.19, 0.19
MAX_WEIGHT = 16


def rmat_edges(scale: int, edge_factor: int, seed):
    """Return ``(i, j, w)`` numpy arrays: distinct directed edges of a
    ``2**scale``-vertex R-MAT graph, no self-loops, sorted by ``(i, j)``,
    with integer-valued float64 weights in ``[1, MAX_WEIGHT]`` (integer
    weights keep every shortest-path sum exact in float64). ``seed`` is
    an int or a sequence of ints, as ``numpy.random.default_rng`` takes."""
    rng = np.random.default_rng(seed)
    n = 1 << scale
    m = n * edge_factor
    i = np.zeros(m, dtype=np.int64)
    j = np.zeros(m, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(m)
        down = r >= A + B            # quadrants C and D set the row bit
        right = ((r >= A) & (r < A + B)) | (r >= A + B + C)
        i |= down.astype(np.int64) << bit
        j |= right.astype(np.int64) << bit
    perm = rng.permutation(n).astype(np.int64)
    i, j = perm[i], perm[j]
    keep = i != j
    key = np.unique(i[keep] * n + j[keep])
    i, j = key // n, key % n
    w = rng.integers(1, MAX_WEIGHT + 1, size=key.size).astype(np.float64)
    return i, j, w


def write_edges(path: str, i, j, w) -> None:
    """Write an edge list as parquet with columns ``i``, ``j``, ``v``."""
    table = pa.table({"i": pa.array(i, pa.int64()),
                      "j": pa.array(j, pa.int64()),
                      "v": pa.array(w, pa.float64())})
    pq.write_table(table, path, compression="snappy",
                   use_dictionary=False, write_statistics=True)
