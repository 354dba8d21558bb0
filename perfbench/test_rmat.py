"""The input generators are pure functions of their seed.

    python3 -m pytest perfbench/test_rmat.py
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reference  # noqa: E402
import rmat  # noqa: E402
from graph_algos import LOOP_ROUNDS, GraphAlgos  # noqa: E402


def _file_bytes(tmp_path, name, seed, scale=8, edge_factor=8) -> bytes:
    path = tmp_path / f"{name}.parquet"
    rmat.write_edges(str(path), *rmat.rmat_edges(scale, edge_factor, seed))
    return path.read_bytes()


def test_same_seed_gives_identical_file(tmp_path):
    assert _file_bytes(tmp_path, "a", 7) == _file_bytes(tmp_path, "b", 7)


def test_different_seed_gives_different_file(tmp_path):
    assert _file_bytes(tmp_path, "a", 7) != _file_bytes(tmp_path, "b", 8)


def test_edges_are_distinct_sorted_and_in_range():
    scale = 8
    i, j, w = rmat.rmat_edges(scale, 8, 3)
    n = 1 << scale
    key = i * n + j
    assert np.all(np.diff(key) > 0)          # sorted, no duplicates
    assert np.all(i != j)                    # no self-loops
    assert i.min() >= 0 and max(i.max(), j.max()) < n
    assert np.all((w >= 1) & (w <= rmat.MAX_WEIGHT) & (w == np.round(w)))


def test_graph_algos_input_is_seeded_and_takes_fixed_rounds(tmp_path):
    files = []
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        (tmp_path / name).mkdir()
        inputs = GraphAlgos().generate(str(tmp_path / name), seed)
        args = (inputs[k] for k in ("n", "i", "j", "src"))
        assert reference.loop_rounds(*args) == LOOP_ROUNDS
        files.append((tmp_path / name / "edges.parquet").read_bytes())
    assert files[0] == files[1] != files[2]


def test_degree_distribution_is_skewed():
    # R-MAT's point: a few hubs hold a large share of the edges
    i, _, _ = rmat.rmat_edges(10, 8, 5)
    deg = np.sort(np.bincount(i, minlength=1 << 10))[::-1]
    assert deg[:10].sum() > 10 * deg.mean() * 5
