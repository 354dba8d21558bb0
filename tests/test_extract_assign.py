"""Extract (X1-X5) and assign/subassign (A3-A7) semantics
(reference pattern: tests/test_vector.py:405-1886)."""

import pytest

import dask_grblas_spark as gb
from dask_grblas_spark import binary, monoid

from tests import model
from tests.conftest import A_DATA, V_DATA, VM_DATA, mask_variants, vec_from


# ---------------------------------------------------------------- extract
def test_extract_list_with_duplicates(v):
    got = v[[0, 5, 5, 1]].new()
    assert got.to_dict() == {0: 0, 3: -20}  # v[5] absent; dup fans out
    assert got.size == 4


def test_extract_slice_variants(v):
    assert v[1:7:2].new().to_dict() == {0: -20}          # idx 1,3,5 -> only 1
    assert v[::-1].new().to_dict() == {6 - k: x for k, x in V_DATA.items()}
    assert v[:].new().to_dict() == V_DATA
    assert v[4:].new().to_dict() == {0: 40, 2: 50}
    assert v[:3].new().to_dict() == {0: 0, 1: -20, 2: 30}


def test_extract_single_element(v):
    assert v[1].new().value == -20
    assert v[3].new().is_empty
    assert v[-1].new().value == 50  # negative index


def test_extract_out_of_bounds(v):
    with pytest.raises(gb.IndexOutOfBound):
        v[[0, 9]]
    with pytest.raises(gb.IndexOutOfBound):
        v[7]


def test_extract_unknown_size_rejects_uint64_past_int64(spark):
    """A from_dataframe wrapper has no size, so no bounds check; a uint64
    index of 2**63 or more must still not wrap to a negative int64."""
    import numpy as np
    from pyspark.sql import functions as F

    u = gb.Vector.from_dataframe(
        spark.range(3).select(F.col("id").alias("i"), F.col("id").alias("v")))
    with pytest.raises(gb.IndexOutOfBound):
        u[np.array([1, 2**63], dtype="uint64")].new()
    assert u[np.array([1, 2], dtype="uint64")].new().to_dict() == {0: 1, 1: 2}


def test_matrix_extract_forms(A):
    M = gb.Matrix.from_values([k[0] for k in A_DATA], [k[1] for k in A_DATA],
                              list(A_DATA.values()), nrows=7, ncols=7)
    # row extract -> vector over columns
    got = M[6, :].new()
    assert got.to_dict() == {j: v for (i, j), v in A_DATA.items() if i == 6}
    # column extract
    got = M[:, 2].new()
    assert got.to_dict() == {i: v for (i, j), v in A_DATA.items() if j == 2}
    # submatrix by lists (with reorder)
    got = M[[6, 0], [2, 3]].new()
    exp = {}
    for pi, i in enumerate([6, 0]):
        for pj, j in enumerate([2, 3]):
            if (i, j) in A_DATA:
                exp[(pi, pj)] = A_DATA[(i, j)]
    assert got.to_dict() == exp
    # single element
    assert M[3, 0].new().value == 3
    assert M[0, 0].new().is_empty


def test_extract_with_mask_and_accum(v, vm):
    # w(mask) << v[idx]
    w = vec_from({0: 1.0, 1: 1.0, 2: 1.0}, size=7)
    w(mask=vm.V) << v[[0, 1, 2, 3, 4, 5, 6]]
    # mask passes {0,3,4}: inside: extract values at those positions;
    # outside: old kept
    assert w.to_dict() == {0: 0.0, 4: 40.0, 1: 1.0, 2: 1.0}


def test_extract_with_input_mask(v, vm):
    # input_mask filters the SOURCE before extraction (X3)
    out = gb.Vector.new("INT64", 7)
    out(input_mask=vm.V) << v[:]
    assert out.to_dict() == {k: v_ for k, v_ in V_DATA.items() if VM_DATA.get(k)}


# ---------------------------------------------------------------- assign
def test_assign_last_wins(v):
    u = v.dup()
    u[[0, 5, 5, 1]] = gb.Vector.from_values([0, 1, 2, 3], [100, 200, 300, 400])
    exp = dict(V_DATA)
    exp.update({0: 100, 5: 300, 1: 400})  # pos1 (200) overwritten by pos2
    assert u.to_dict() == exp


def test_assign_replaces_region_entries(v):
    # non-accum assign: region entries not in obj are DELETED
    u = v.dup()
    u[[0, 1, 2]] = gb.Vector.from_values([1], [99], size=3)
    exp = {k: x for k, x in V_DATA.items() if k not in (0, 1, 2)}
    exp[1] = 99
    assert u.to_dict() == exp


def test_assign_slice_scalar_fill(v):
    u = v.dup()
    u[1:4] = 7
    exp = dict(V_DATA)
    exp.update({1: 7, 2: 7, 3: 7})
    assert u.to_dict() == exp


def test_assign_full_scalar_fill_densifies(spark):
    u = gb.Vector.new("INT64", 5)
    u[:] = 9
    assert u.to_dict() == {k: 9 for k in range(5)}


def test_assign_with_accum(v):
    u = v.dup()
    u(accum=binary.plus)[[0, 1]] = gb.Vector.from_values([0, 1], [5, 5])
    exp = dict(V_DATA)
    exp[0] += 5
    exp[1] += 5
    assert u.to_dict() == exp


@pytest.mark.parametrize("nparts", [1, 3, 17])
@pytest.mark.parametrize("replace", [False, True])
@pytest.mark.parametrize("mask_idx", [0, 1, 2, 3, 4])
def test_assign_descriptor_grid(v, vm, mask_idx, replace, nparts):
    """GrB_assign: mask in TARGET coords; replace prunes whole target.
    Run under the reference's multi-chunking variants (1/3/17 parts)."""
    v = v.rechunk(nparts)
    vm = vm.rechunk(nparts)
    engine_mask, model_keys, complement = mask_variants(vm, VM_DATA)[mask_idx]
    idx = [0, 2, 4]
    obj_data = {0: 111, 2: 333}  # pos coords; pos1 (->tgt 2) empty
    u = v.dup()
    if replace and engine_mask is None:
        with pytest.raises(TypeError, match="only be True if a mask"):
            u(mask=None, replace=True)
        return
    u(mask=engine_mask, replace=replace)[idx] = \
        gb.Vector.from_values(list(obj_data), list(obj_data.values()), size=3)
    new_in_tgt = {idx[p]: x for p, x in obj_data.items()}
    exp = model.merge(V_DATA, new_in_tgt, mask_keys=model_keys,
                      complement=complement, replace=replace,
                      region=set(idx))
    assert u.to_dict() == exp


@pytest.mark.parametrize("nparts", [1, 3, 17])
@pytest.mark.parametrize("replace", [False, True])
@pytest.mark.parametrize("mask_idx", [0, 1, 2])
def test_subassign_descriptor_grid(v, mask_idx, replace, nparts):
    """GxB_subassign: mask in SUBREGION coords; replace scoped to region.
    Run under the reference's multi-chunking variants (1/3/17 parts)."""
    v = v.rechunk(nparts)
    submask_data = {0: True, 1: False, 2: True}
    submask = vec_from(submask_data, size=3,
                       dtype="BOOL").rechunk(nparts)
    engine_mask, model_pos_keys, complement = \
        mask_variants(submask, submask_data)[mask_idx]
    idx = [0, 2, 4]
    obj_data = {0: 111, 1: 222}
    u = v.dup()
    if replace and engine_mask is None:
        with pytest.raises(TypeError, match="only be True if a mask"):
            u[idx](mask=None, replace=True)
        return
    u[idx](mask=engine_mask, replace=replace) << \
        gb.Vector.from_values(list(obj_data), list(obj_data.values()), size=3)
    new_in_tgt = {idx[p]: x for p, x in obj_data.items()}
    tgt_mask_keys = (None if model_pos_keys is None
                     else {idx[p] for p in model_pos_keys})
    exp = model.subassign_merge(V_DATA, new_in_tgt, mask_keys=tgt_mask_keys,
                                complement=complement, replace=replace,
                                region=set(idx))
    assert u.to_dict() == exp


def test_row_col_assign(A):
    B = A.dup()
    B[3, :] = gb.Vector.from_values([0, 6], [99, 98], size=7)
    exp = {k: v for k, v in A_DATA.items() if k[0] != 3}
    exp.update({(3, 0): 99, (3, 6): 98})
    assert B.to_dict() == exp
    C = A.dup()
    C[:, 2] = gb.Vector.from_values([1], [55], size=7)
    exp = {k: v for k, v in A_DATA.items() if k[1] != 2}
    exp[(1, 2)] = 55
    assert C.to_dict() == exp


def test_row_assign_with_vector_mask_band_scope(A, vm):
    # A4: vector mask applies only to that row; replace prunes only the band
    B = A.dup()
    B(mask=vm.V, replace=True)[6, :] = gb.Vector.from_values([2, 4], [1, 1], size=7)
    vm_keys = {k for k, x in VM_DATA.items() if x}  # {0,3,4}
    exp = {k: v for k, v in A_DATA.items() if k[0] != 6}
    # row 6 old: {(6,2):5,(6,3):7,(6,4):3}; new at j in {2,4} gated by mask:
    # j=2 not in mask -> old (6,2) kept (no... replace deletes unmasked);
    for j, val in {2: 5, 3: 7, 4: 3}.items():
        if j in vm_keys:
            pass  # replaced by new if present
    # mask passes {0,3,4}: new (6,4)->1 lands; old (6,3) in mask but not in
    # new -> deleted; old (6,2) outside mask + replace -> deleted
    exp[(6, 4)] = 1
    assert B.to_dict() == exp


def test_matrix_element_assign_and_del(A):
    B = A.dup()
    B[0, 0] = 42
    assert B[0, 0].new().value == 42
    del B[0, 0]
    assert B[0, 0].new().is_empty
    del B[3, 0]
    assert (3, 0) not in B


def test_scalar_element_assign(v):
    u = v.dup()
    u[3] = 77
    assert u[3].new().value == 77
    u[0] = -5
    assert u[0].new().value == -5
    assert u.nvals == 6


def test_reduce_assign(v):
    u = v.dup()
    rhs = gb.Vector.from_values([0, 1, 2, 3, 4, 5], [1, 2, 3, 4, 5, 6])
    u.reduce_assign([0, 5, 5, 1, 2, 0], rhs, dup_op=monoid.plus)
    # tgt 0 <- pos0+pos5 = 1+6=7; tgt5 <- pos1+pos2=5; tgt1 <- pos3=4; tgt2 <- pos4=5
    exp = dict(V_DATA)
    exp.update({0: 7, 5: 5, 1: 4, 2: 5})
    assert u.to_dict() == exp
    u2 = v.dup()
    u2.reduce_assign([0, 5, 5, 1, 2, 0], rhs, dup_op="first")
    exp2 = dict(V_DATA)
    exp2.update({0: 1, 5: 2, 1: 4, 2: 5})
    assert u2.to_dict() == exp2


def test_assign_empty_scalar_raises(v):
    with pytest.raises(gb.EmptyObject):
        v[[0]] = gb.Scalar.new("INT64")


def test_extract_slice_huge_indices_exact(spark):
    """Slice position arithmetic must stay exact beyond 2^53 (double
    division rounds there); positions route through decimal division."""
    base = 1 << 60
    idx = [base + 3 * k for k in (0, 1, 2, 5, 7)]
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, float(k)) for k, i in enumerate(idx)],
                               "i long, v double")
    u = gb.Vector.from_dataframe(df, size=(1 << 62), dtype="FP64")
    got = u[base::3].new()
    assert got.to_dict() == {0: 0.0, 1: 1.0, 2: 2.0, 5: 3.0, 7: 4.0}
