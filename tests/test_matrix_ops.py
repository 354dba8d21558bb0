"""Matrix operator semantics vs the model: mxm/mxv/vxm (+ masks, transpose),
reductions, diag, kronecker (reference pattern: tests/test_matrix.py:752-1092)."""

import pytest

import dask_grblas_spark as gb
from dask_grblas_spark import binary, monoid, semiring

from tests import model
from tests.conftest import (A_DATA, MSM_DATA, MVM_DATA, V_DATA, W_DATA,
                            mask_variants, mat_from, vec_from)

PLUS = lambda a, b: a + b  # noqa: E731
TIMES = lambda a, b: a * b  # noqa: E731
MIN = min


def test_mxv_plus_times(A, v):
    got = A.mxv(v, semiring.plus_times).new()
    assert got.to_dict() == model.mxv(A_DATA, V_DATA, PLUS, TIMES)
    assert got.size == 7


def test_mxv_min_plus(A, v):
    got = A.mxv(v, semiring.min_plus).new()
    assert got.to_dict() == model.mxv(A_DATA, V_DATA, MIN, PLUS)


def test_mxv_min_second(A, v):
    got = A.mxv(v, semiring.min_second).new()
    assert got.to_dict() == model.mxv(A_DATA, V_DATA, MIN, lambda a, b: b)


def test_vxm(A, v):
    got = v.vxm(A, semiring.plus_times).new()
    assert got.to_dict() == model.vxm(V_DATA, A_DATA, PLUS, TIMES)


def test_mxm(A):
    got = A.mxm(A, semiring.plus_times).new()
    assert got.to_dict() == model.mxm(A_DATA, A_DATA, PLUS, TIMES)


def test_mxm_transposed_left(A):
    at = {(j, i): v for (i, j), v in A_DATA.items()}
    got = A.T.mxm(A, semiring.plus_times).new()
    assert got.to_dict() == model.mxm(at, A_DATA, PLUS, TIMES)


def test_mxm_transposed_right(A):
    at = {(j, i): v for (i, j), v in A_DATA.items()}
    got = A.mxm(A.T, semiring.plus_times).new()
    assert got.to_dict() == model.mxm(A_DATA, at, PLUS, TIMES)


def test_transpose_is_lazy_view_and_roundtrips(A):
    at = A.T
    assert at.nrows == A.ncols and at.ncols == A.nrows
    assert at.T is A
    m = at.new()
    assert m.to_dict() == {(j, i): v for (i, j), v in A_DATA.items()}
    with pytest.raises(TypeError):
        at << A  # view is read-only


@pytest.mark.parametrize("mask_idx", [1, 2, 3, 4])
def test_masked_mxm_pushdown_semantics(A, msm, mask_idx):
    """Masked matmul: mask applied to OUTPUT keys (pushed pre-agg)."""
    engine_mask, model_keys, complement = mask_variants(msm, MSM_DATA)[mask_idx]
    out = gb.Matrix.new("INT64", 7, 7)
    out(mask=engine_mask) << A.mxm(A, semiring.plus_times)
    full = model.mxm(A_DATA, A_DATA, PLUS, TIMES)
    exp = {k: val for k, val in full.items()
           if model.mask_pass(k, model_keys, complement)}
    assert out.to_dict() == exp


def test_masked_mxv(A, v, vm):
    out = gb.Vector.new("INT64", 7)
    out(mask=vm.V) << A.mxv(v, semiring.plus_times)
    full = model.mxv(A_DATA, V_DATA, PLUS, TIMES)
    keys = model.mask_keys_of({k: x for k, x in vm.to_dict().items()}, True)
    exp = {k: val for k, val in full.items() if k in keys}
    assert out.to_dict() == exp


def test_reduce_rowwise_columnwise(A):
    got = A.reduce_rowwise(monoid.plus).new()
    assert got.to_dict() == model.reduce_rowwise(A_DATA, PLUS)
    got = A.reduce_columnwise(monoid.plus).new()
    assert got.to_dict() == model.reduce_columnwise(A_DATA, PLUS)
    got = A.reduce_rowwise(monoid.max).new()
    assert got.to_dict() == model.reduce_rowwise(A_DATA, max)


def test_reduce_scalar(A):
    assert A.reduce_scalar(monoid.plus).new().value == sum(A_DATA.values())


def test_reduce_rowwise_argmax(A):
    got = A.reduce_rowwise(gb.agg.argmax).new()
    # GraphBLAS argmax on ties returns ANY maximizing index — accept any
    best = {}
    for (i, j), val in A_DATA.items():
        best.setdefault(i, set())
        mx = max(v2 for (i2, _), v2 in A_DATA.items() if i2 == i)
        if val == mx:
            best[i].add(j)
    assert {i: True for i in got.to_dict()} == {i: True for i in best}
    for i, j in got.to_dict().items():
        assert j in best[i]


def test_kronecker(spark):
    X = mat_from({(0, 0): 1, (0, 1): 2}, nrows=1, ncols=2)
    Y = mat_from({(0, 0): 10, (1, 1): 20}, nrows=2, ncols=2)
    got = X.kronecker(Y, binary.times).new()
    exp = {}
    for (ia, ja), av in {(0, 0): 1, (0, 1): 2}.items():
        for (ib, jb), bv in {(0, 0): 10, (1, 1): 20}.items():
            exp[(ia * 2 + ib, ja * 2 + jb)] = av * bv
    assert got.to_dict() == exp
    assert (got.nrows, got.ncols) == (2, 4)


def test_diag_roundtrip(v):
    D = v.diag()
    assert (D.nrows, D.ncols) == (7, 7)
    assert D.to_dict() == {(k, k): x for k, x in V_DATA.items()}
    back = D.diag(0)
    assert back.to_dict() == V_DATA
    # off-diagonal
    D1 = v.diag(1)
    assert D1.to_dict() == {(k, k + 1): x for k, x in V_DATA.items()}
    assert D1.nrows == 8


def test_matrix_diag_extract(A):
    got = mat_from(A_DATA).diag(1)
    exp = {i: v for (i, j), v in A_DATA.items() if j - i == 1}
    assert got.to_dict() == exp


def test_dimension_mismatch_is_eager(A):
    vv = vec_from(V_DATA, size=9)
    with pytest.raises(gb.DimensionMismatch):
        A.mxv(vv)  # error at BUILD time, before any action
    with pytest.raises(gb.DimensionMismatch):
        A.ewise_add(mat_from(A_DATA, nrows=8))


def test_outer_and_inner(v, w):
    got = v.inner(w, semiring.plus_times).new()
    exp = model.reduce_scalar(model.ewise_mult(V_DATA, W_DATA, TIMES), PLUS)
    assert got.value == pytest.approx(exp)
    o = v.outer(w, binary.times).new()
    assert o.nvals == len(V_DATA) * len(W_DATA)
    assert (o.nrows, o.ncols) == (7, 7)


def test_mxm_positional_semiring(A):
    # min_secondj: value = column index of B entry — used by BFS parents
    got = A.mxm(A, semiring.min_secondj).new()
    # positional multiply: mult(a[i,j], b[j,k]) = k
    exp = {}
    for (i, j), _ in A_DATA.items():
        for (j2, k), _b in A_DATA.items():
            if j == j2:
                exp[(i, k)] = min(exp.get((i, k), 10**9), k)
    assert got.to_dict() == exp


def test_contains_rejects_non_scalar_index(A):
    # entry (3, 0) exists, so a silent False would be a wrong answer
    assert (3, 0) in A and (0, 0) not in A
    for index in (([3], 0), (slice(None), 0)):
        with pytest.raises(TypeError, match="single elements"):
            index in A


def test_vector_input_mask_rejected_on_2d_extract(A):
    # a Vector input_mask is defined for a row or column extract only; on
    # a 2-D extract it used to filter the rows silently
    m = vec_from({1: True}, dtype="BOOL")
    with pytest.raises(TypeError, match="Mask object must be type Matrix"):
        A[[0, 1, 2], [0, 1, 2]].new(input_mask=m.S)
    # a row extract keeps it, on the kept (column) axis
    got = A[0, :].new(input_mask=m.S)
    assert got.to_dict() == {1: A_DATA[(0, 1)]}
