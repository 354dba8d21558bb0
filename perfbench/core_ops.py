"""Workload ``core_ops``: the GraphBLAS API on one seeded R-MAT matrix.

Reads: ``mxv``, a masked and accumulated ``mxv``, a masked ``mxm``,
``ewise_add`` with the transpose, ``reduce_rowwise`` and an extract.
Writes: a small masked, accumulated sub-assign on a 16x16 matrix and one
large accumulated block assign into a copy of the matrix. Both kinds go
through the ``plans/`` merge path; reads cost data volume, writes cost
jobs, so a merge change that helps one and costs the other shows up as
the two groups moving apart.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference
import rmat

SCALE = 12          # 4096 vertices
EDGE_FACTOR = 8     # ~30k distinct edges
SMALL = 16          # the small sub-assign target is SMALL x SMALL
REGION = 4          # ... and its region REGION x REGION


class CoreOps:
    name = "core_ops"
    calls = [("mxv", "read"), ("mxv_masked_accum", "read"),
             ("mxm_masked", "read"), ("ewise_add", "read"),
             ("reduce_rowwise", "read"), ("extract", "read"),
             ("subassign_small", "write"), ("assign_large", "write")]

    def generate(self, indir: str, seed: int) -> dict:
        i, j, w = rmat.rmat_edges(SCALE, EDGE_FACTOR, seed)
        n = 1 << SCALE
        A = pd.DataFrame({"i": i, "j": j, "v": w})
        apath = os.path.join(indir, "A.parquet")
        rmat.write_edges(apath, i, j, w)
        rng = np.random.default_rng([seed, 1])

        def sparse_vector(name):
            idx = np.sort(rng.choice(n, n // 8, replace=False))
            vals = rng.integers(1, 10, idx.size).astype(np.float64)
            path = os.path.join(indir, f"{name}.parquet")
            pq.write_table(pa.table({"i": idx, "v": vals}), path)
            return path, pd.Series(vals, index=idx)

        vpath, v = sparse_vector("v")
        upath, u = sparse_vector("u")
        I = np.sort(rng.choice(n, n // 16, replace=False))
        k = I.size
        big = _coo(rng, k, k, 4 * k)
        C = _coo(rng, SMALL, SMALL, 4 * SMALL)
        B = _coo(rng, REGION, REGION, 2 * REGION)
        M = _coo(rng, REGION, REGION, 2 * REGION)
        rows = np.sort(rng.choice(SMALL, REGION, replace=False))
        cols = np.sort(rng.choice(SMALL, REGION, replace=False))
        return {"n": n, "A": A, "apath": apath, "v": v, "vpath": vpath,
                "u": u, "upath": upath, "I": I, "big": big, "C": C, "B": B,
                "M": M, "rows": rows, "cols": cols}

    def load(self, inputs: dict, timer) -> dict:
        from dask_grblas_spark import Matrix
        from dask_grblas_spark.sources import io

        n = inputs["n"]
        with timer("sources.matrix_from_parquet"):
            A = io.matrix_from_parquet(inputs["apath"], nrows=n, ncols=n)
        A.wait()
        v = io.vector_from_parquet(inputs["vpath"], size=n).wait()
        u = io.vector_from_parquet(inputs["upath"], size=n).wait()

        def matrix(df, nrows, dtype=None):
            return Matrix.from_values(df.i.to_numpy(), df.j.to_numpy(),
                                      df.v.to_numpy(), nrows=nrows,
                                      ncols=nrows, dtype=dtype)

        k = inputs["I"].size
        return {"A": A, "v": v, "u": u, "I": inputs["I"].tolist(),
                "big": matrix(inputs["big"], k),
                "C": matrix(inputs["C"], SMALL),
                "B": matrix(inputs["B"], REGION),
                "M": matrix(inputs["M"], REGION, dtype="BOOL"),
                "rows": inputs["rows"].tolist(),
                "cols": inputs["cols"].tolist()}

    def run(self, s: dict, name: str):
        from dask_grblas_spark import binary, monoid, semiring

        A = s["A"]
        if name == "mxv":
            out = A.mxv(s["v"], semiring.plus_times).new()
        elif name == "mxv_masked_accum":
            out = s["u"].dup()
            out(~s["v"].S, accum=binary.plus) << A.mxv(s["v"], semiring.min_plus)
        elif name == "mxm_masked":
            out = A.mxm(A, semiring.plus_pair).new(mask=A.S)
        elif name == "ewise_add":
            out = A.ewise_add(A.T, monoid.plus).new()
        elif name == "reduce_rowwise":
            out = A.reduce_rowwise(monoid.plus).new()
        elif name == "extract":
            out = A[s["I"], s["I"]].new()
        elif name == "subassign_small":
            out = s["C"].dup()
            out[s["rows"], s["cols"]](s["M"].S, accum=binary.plus) << s["B"]
        else:
            out = A.dup()
            out[s["I"], s["I"]](accum=binary.plus) << s["big"]
        return out

    def check(self, inputs: dict, name: str, values) -> bool:
        A, v = inputs["A"], inputs["v"]
        if name == "mxv":
            return _same_vector(values, reference.mxv_plus_times(A, v))
        if name == "mxv_masked_accum":
            want = reference.masked_accum(
                inputs["u"], reference.mxv_min_plus(A, v), v.index)
            return _same_vector(values, want)
        if name == "mxm_masked":
            want = reference.mxm_plus_pair_masked(A)
        elif name == "ewise_add":
            want = reference.ewise_add_transpose(A)
        elif name == "reduce_rowwise":
            return _same_vector(values, reference.reduce_rowwise(A))
        elif name == "extract":
            want = reference.extract(A, inputs["I"], inputs["I"])
        elif name == "subassign_small":
            want = reference.assign_accum(inputs["C"], inputs["rows"],
                                          inputs["cols"], inputs["B"],
                                          mask=inputs["M"])
        else:
            want = reference.assign_accum(A, inputs["I"], inputs["I"],
                                          inputs["big"])
        return _same_matrix(values, want)


def _coo(rng, nrows: int, ncols: int, nnz: int) -> pd.DataFrame:
    """``nnz`` distinct random positions with integer values in [1, 9]."""
    flat = np.sort(rng.choice(nrows * ncols, nnz, replace=False))
    return pd.DataFrame({"i": flat // ncols, "j": flat % ncols,
                         "v": rng.integers(1, 10, nnz).astype(np.float64)})


def _same_vector(values, want: pd.Series) -> bool:
    idx, vals = values
    got = pd.Series(np.asarray(vals, dtype=np.float64), index=np.asarray(idx))
    want = want.sort_index()
    return (np.array_equal(got.index, want.index)
            and np.allclose(got.to_numpy(), want.to_numpy(), rtol=1e-12))


def _same_matrix(values, want: pd.DataFrame) -> bool:
    i, j, vals = values
    got = pd.DataFrame({"i": np.asarray(i), "j": np.asarray(j),
                        "v": np.asarray(vals, dtype=np.float64)})
    got = got.sort_values(["i", "j"], ignore_index=True)
    want = want.sort_values(["i", "j"], ignore_index=True)
    return (len(got) == len(want)
            and np.array_equal(got[["i", "j"]].to_numpy(),
                               want[["i", "j"]].to_numpy())
            and np.allclose(got.v.to_numpy(), want.v.to_numpy(), rtol=1e-12))
