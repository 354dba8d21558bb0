"""Driver cost of building core GraphBLAS writes, ewise ops and extracts.

Building a plan is paid on the driver on every call, in py4j round trips
(every PySpark Column call is one or more). The descriptor merge, the
scatter and the gather build their expressions once per JVM gateway and
name the rest in SQL strings (``plans/memo.py``), so a steady build sends
a bounded number of commands from the main thread. The bounds are a third
of what these builds sent when every call built its own Columns (in
parentheses, per build)."""

import threading

import numpy as np

import dask_grblas_spark as gb
from dask_grblas_spark import binary, monoid, semiring

BUDGET = {
    "mxv_masked_accum": 121,        # (365)
    "ewise_add_transpose": 144,     # (434)
    "extract_list": 100,            # (301)
    "subassign_masked_accum": 435,  # (1306)
    "assign_accum_block": 309,      # (928)
}


def _matrix(rng, n, nnz, dtype="FP64"):
    flat = rng.choice(n * n, nnz, replace=False)
    return gb.Matrix.from_values(flat // n, flat % n,
                                 rng.integers(1, 10, nnz), nrows=n, ncols=n,
                                 dtype=dtype)


def _vector(rng, n, nnz):
    idx = np.sort(rng.choice(n, nnz, replace=False))
    return gb.Vector.from_values(idx, rng.integers(1, 10, nnz), size=n,
                                 dtype="FP64")


def test_core_builds_stay_within_command_budget(spark, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    main, sent = threading.main_thread(), [0]
    send_command = ClientServerConnection.send_command

    def count(self, *args, **kwargs):
        sent[0] += threading.current_thread() is main
        return send_command(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", count)
    rng = np.random.default_rng(7)
    A = _matrix(rng, 16, 48).wait()
    u, v = _vector(rng, 16, 6).wait(), _vector(rng, 16, 5).wait()
    C, B = _matrix(rng, 8, 16).wait(), _matrix(rng, 4, 6).wait()
    M = _matrix(rng, 4, 6, dtype="BOOL").wait()
    rows, cols, idx = [1, 2, 5, 6], [0, 3, 4, 7], [0, 3, 5, 8, 9, 12]
    big = _matrix(rng, 6, 12).wait()

    def mxv_masked_accum():
        out = u.dup()
        out(~v.S, accum=binary.plus) << A.mxv(v, semiring.min_plus)
        return out

    def subassign_masked_accum():
        out = C.dup()
        out[rows, cols](M.S, accum=binary.plus) << B
        return out

    def assign_accum_block():
        out = A.dup()
        out[idx, idx](accum=binary.plus) << big
        return out

    builds = {
        "mxv_masked_accum": mxv_masked_accum,
        "ewise_add_transpose": lambda: A.ewise_add(A.T, monoid.plus).new(),
        "extract_list": lambda: A[idx, idx].new(),
        "subassign_masked_accum": subassign_masked_accum,
        "assign_accum_block": assign_accum_block,
    }
    used = {}
    for name, build in builds.items():
        build().wait()  # the first build makes the memoized expressions
        sent[0] = 0
        out = build()
        used[name] = sent[0]
        out.wait()
    over = {k: (n, BUDGET[k]) for k, n in used.items() if n > BUDGET[k]}
    assert not over, (over, used)
