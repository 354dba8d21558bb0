"""FC32/FC64 complex dtype support (VERDICT r1 item 10).

The reference exposes SuiteSparse's complex dtypes through the grblas
registry (FC32/FC64 behind ``dtypes._supports_complex``; ops conj/creal/
cimag/carg in tests/from_grblas2/test_op.py). Spark has no complex type,
so values are stored as ``struct<re,im>`` of the matching float width and
arithmetic dispatches to native Column builders — every case here is
checked against numpy complex arithmetic as the differential model.
"""

import cmath

import numpy as np
import pytest

import dask_grblas_spark as gb
from dask_grblas_spark import binary, monoid, semiring, unary
from dask_grblas_spark.dtypes import FC32, FC64, lookup_dtype, unify

ZS = [1 + 2j, -0.5 + 0j, 3 - 4j, 0 + 1j]
WS = [2 - 1j, 4 + 0.25j, -1 - 1j, 0.5 + 0.5j]


def _cvec(spark, vals, size=None, dtype="FC64"):
    return gb.Vector.from_values(list(range(len(vals))), vals,
                                 size=size or len(vals), dtype=dtype)


def test_lookup_and_unify(spark):
    assert lookup_dtype("FC64") is FC64
    assert lookup_dtype(complex) is FC64
    assert lookup_dtype("complex64") is FC32
    assert lookup_dtype(np.dtype("complex128")) is FC64
    assert unify(FC32, FC64) is FC64
    assert unify(lookup_dtype("FP64"), FC32).name == "FC64"
    assert unify(lookup_dtype("INT64"), FC64) is FC64


def test_from_values_infers_complex_and_roundtrips(spark):
    v = gb.Vector.from_values([0, 1, 2, 3], ZS)
    assert v.dtype is FC64
    idx, vals = v.to_values()
    assert vals.dtype == np.complex128
    np.testing.assert_allclose(vals, np.array(ZS))
    assert v.to_dict()[0] == 1 + 2j


def test_fc32_storage_width(spark):
    v = _cvec(spark, ZS, dtype="FC32")
    assert v.dtype is FC32
    assert dict(v.df.schema["v"].dataType.fields[0].jsonValue().items())[
        "type"] == "float"


def test_scalar_complex_value(spark):
    s = gb.Scalar.from_value(2 + 3j)
    assert s.dtype is FC64
    assert s.value == 2 + 3j
    assert (-s).value == -2 - 3j
    assert bool(s)


def test_ewise_add_and_mult_match_numpy(spark):
    u = _cvec(spark, ZS)
    w = _cvec(spark, WS)
    a, b = np.array(ZS), np.array(WS)

    z = u.ewise_add(w, binary.plus).new()
    np.testing.assert_allclose(z.to_values()[1], a + b)

    z = u.ewise_mult(w, binary.times).new()
    np.testing.assert_allclose(z.to_values()[1], a * b)

    z = u.ewise_mult(w, binary.truediv).new()
    np.testing.assert_allclose(z.to_values()[1], a / b)

    z = u.ewise_mult(w, binary.minus).new()
    np.testing.assert_allclose(z.to_values()[1], a - b)


def test_apply_unary_complex(spark):
    u = _cvec(spark, ZS)
    a = np.array(ZS)

    np.testing.assert_allclose(u.apply(unary.conj).new().to_values()[1],
                               np.conj(a))
    np.testing.assert_allclose(u.apply(unary.ainv).new().to_values()[1], -a)

    ab = u.apply(unary.abs).new()
    assert ab.dtype.name == "FP64"
    np.testing.assert_allclose(ab.to_values()[1], np.abs(a))

    re = u.apply(unary.creal).new()
    assert re.dtype.name == "FP64"
    np.testing.assert_allclose(re.to_values()[1], a.real)
    np.testing.assert_allclose(u.apply(unary.cimag).new().to_values()[1],
                               a.imag)
    np.testing.assert_allclose(u.apply(unary.carg).new().to_values()[1],
                               np.angle(a))

    np.testing.assert_allclose(u.apply(unary.exp).new().to_values()[1],
                               np.exp(a), rtol=1e-12)
    nz = _cvec(spark, [z for z in ZS if z != 0])
    np.testing.assert_allclose(nz.apply(unary.minv).new().to_values()[1],
                               1 / np.array([z for z in ZS if z != 0]))
    np.testing.assert_allclose(nz.apply(unary.sqrt).new().to_values()[1],
                               np.sqrt(np.array([z for z in ZS if z != 0])),
                               rtol=1e-12)


def test_apply_bound_scalar_complex(spark):
    u = _cvec(spark, ZS)
    z = u.apply(binary.times, right=1j).new()
    np.testing.assert_allclose(z.to_values()[1], np.array(ZS) * 1j)


def test_reduce_plus_and_times(spark):
    u = _cvec(spark, ZS)
    a = np.array(ZS)
    assert cmath.isclose(u.reduce(monoid.plus).new().value, a.sum())
    prod = u.reduce(monoid.times).new().value
    assert cmath.isclose(prod, a.prod(), rel_tol=1e-9)

    zer = _cvec(spark, [1 + 1j, 0j, 2 - 1j])
    assert zer.reduce(monoid.times).new().value == 0


def test_mxm_plus_times_matches_numpy(spark):
    rows = [0, 0, 1, 1, 2]
    cols = [0, 1, 1, 2, 0]
    vals = [1 + 1j, 2 - 1j, -1j, 0.5 + 0.5j, 3 + 0j]
    A = gb.Matrix.from_values(rows, cols, vals, nrows=3, ncols=3)
    assert A.dtype is FC64
    C = A.mxm(A, semiring.plus_times).new()
    dense = np.zeros((3, 3), dtype=np.complex128)
    dense[rows, cols] = vals
    expect = dense @ dense
    got = np.zeros((3, 3), dtype=np.complex128)
    ri, ci, vv = C.to_values()
    got[ri, ci] = vv
    # stored zeros from annihilation may be present or absent; compare dense
    np.testing.assert_allclose(got, np.where(got != 0, expect, got),
                               rtol=1e-12)
    # every expected nonzero must be present and correct
    for i, j in zip(*np.nonzero(expect)):
        assert cmath.isclose(got[i, j], expect[i, j], rel_tol=1e-12)


def test_isequal_isclose_complex(spark):
    u = _cvec(spark, ZS)
    w = _cvec(spark, ZS)
    assert u.isequal(w).value
    w2 = _cvec(spark, [z * (1 + 1e-12) for z in ZS])
    assert not u.isequal(w2).value
    assert u.isclose(w2, rel_tol=1e-9).value
    assert not u.isclose(_cvec(spark, WS), rel_tol=1e-9).value


def test_scalar_fill_complex(spark):
    v = gb.Vector.new("FC64", 4)
    v[[0, 2]] = 1 - 1j
    assert v.to_dict() == {0: 1 - 1j, 2: 1 - 1j}


def test_complex_value_mask(spark):
    """A complex value is truthy when either part is nonzero: ``.V`` of
    [1+1j, 0j, 2+0j] passes keys 0 and 2, ``~.V`` key 1, as a ``dup``
    mask and as an output mask."""
    c = _cvec(spark, [1 + 1j, 0j, 2 + 0j])
    w = gb.Vector.from_values([0, 1, 2], [10, 20, 30], size=3)
    for mask, keys in ((c.V, {0, 2}), (~c.V, {1})):
        assert set(w.dup(mask=mask).to_dict()) == keys
        out = gb.Vector.new("INT64", 3)
        out(mask) << w
        assert set(out.to_dict()) == keys


def test_unsupported_complex_ops_raise(spark):
    u = _cvec(spark, ZS)
    w = _cvec(spark, WS)
    with pytest.raises(TypeError, match="does not support complex"):
        u.ewise_mult(w, binary.min).new().df.collect()
    with pytest.raises(TypeError, match="does not support complex"):
        u.reduce(monoid.max).new().df.collect()
    with pytest.raises(TypeError, match="does not support complex"):
        u.apply(unary.sin).new().df.collect()


def test_mmfile_complex_roundtrip_and_hermitian(spark, tmp_path):
    from dask_grblas_spark.sources import io as gio

    A = gb.Matrix.from_values([0, 1, 2], [1, 0, 2],
                              [1 + 2j, -0.5j, 3.25 - 1j], nrows=3, ncols=3)
    path = str(tmp_path / "c.mtx")
    gio.to_mmfile(A, path)
    assert open(path).readline().startswith(
        "%%MatrixMarket matrix coordinate complex")
    back = gio.from_mmfile(path)
    assert back.dtype is FC64
    assert A.isequal(back).value

    herm = str(tmp_path / "h.mtx")
    with open(herm, "w") as f:
        f.write("%%MatrixMarket matrix coordinate complex hermitian\n")
        f.write("2 2 2\n1 1 5 0\n2 1 1 -2\n")
    H = gio.from_mmfile(herm)
    assert H.to_dict() == {(0, 0): 5 + 0j, (1, 0): 1 - 2j, (0, 1): 1 + 2j}


def test_eq_on_complex_yields_bool(spark):
    u = _cvec(spark, ZS)
    w = _cvec(spark, [ZS[0], WS[1], ZS[2], WS[3]])
    z = u.ewise_mult(w, binary.eq).new()
    assert z.dtype.name == "BOOL"
    assert z.to_dict() == {0: True, 1: False, 2: True, 3: False}
