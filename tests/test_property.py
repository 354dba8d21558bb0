"""Property-based differential tests (hypothesis): random sparse data and
random descriptors, engine vs the pure-Python model.

Extends the reference's differential-oracle methodology (SURVEY.md
section 5.1) from fixed fixtures to generated ones. Each property drives
the FULL pipeline: plan construction, merge/mask/accum descriptor
handling, and Spark execution, then compares against tests/model.py.

Spark actions are slow (~100ms each), so examples are capped low but
cover the space far better than hand-picked fixtures; deadline disabled
(Spark's first action JIT-compiles).
"""

from __future__ import annotations

import operator

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import dask_grblas_spark as gb
from dask_grblas_spark import binary, monoid, semiring

from tests import model

SETTINGS = dict(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])

# values: small ints keep every monoid exact in FP64 and INT64 alike
values = st.integers(min_value=-8, max_value=8)
vec = st.dictionaries(st.integers(0, 9), values, max_size=8)
mat = st.dictionaries(st.tuples(st.integers(0, 5), st.integers(0, 5)),
                      values, max_size=12)

BINOPS = {"plus": operator.add, "times": operator.mul,
          "min": min, "max": max, "first": lambda a, b: a,
          "second": lambda a, b: b}
MONOIDS = {"plus": operator.add, "min": min, "max": max}


def _v(d, size=10):
    ks = sorted(d)
    return gb.Vector.from_values(ks, [d[k] for k in ks], size=size,
                                 dtype="INT64")


def _m(d, n=6):
    ks = sorted(d)
    return gb.Matrix.from_values([k[0] for k in ks], [k[1] for k in ks],
                                 [d[k] for k in ks], n, n, dtype="INT64")


@pytest.mark.usefixtures("spark")
class TestEwiseProperties:
    @given(a=vec, b=vec, op=st.sampled_from(sorted(BINOPS)))
    @settings(**SETTINGS)
    def test_ewise_add(self, a, b, op):
        got = _v(a).ewise_add(_v(b), binary[op], require_monoid=False) \
            .new().to_dict()
        assert got == model.ewise_add(a, b, BINOPS[op])

    @given(a=vec, b=vec, op=st.sampled_from(sorted(BINOPS)))
    @settings(**SETTINGS)
    def test_ewise_mult(self, a, b, op):
        got = _v(a).ewise_mult(_v(b), binary[op]).new().to_dict()
        assert got == model.ewise_mult(a, b, BINOPS[op])


@pytest.mark.usefixtures("spark")
class TestMatmulProperties:
    @given(A=mat, d=vec, mon=st.sampled_from(sorted(MONOIDS)),
           mul=st.sampled_from(sorted(BINOPS)))
    @settings(**SETTINGS)
    def test_mxv(self, A, d, mon, mul):
        v = {k: x for k, x in d.items() if k < 6}
        sr = getattr(semiring, f"{mon}_{mul}")
        got = _m(A).mxv(_v(v, 6), sr).new().to_dict()
        assert got == model.mxv(A, v, MONOIDS[mon], BINOPS[mul])

    @given(A=mat, B=mat, mon=st.sampled_from(sorted(MONOIDS)))
    @settings(**SETTINGS)
    def test_mxm_plus_and_monoids(self, A, B, mon):
        sr = getattr(semiring, f"{mon}_times")
        got = _m(A).mxm(_m(B), sr).new()
        want = model.mxm(A, B, MONOIDS[mon], operator.mul)
        assert {(i, j): v for (i, j), v in got.to_dict().items()} == want


@pytest.mark.usefixtures("spark")
class TestMergeProperties:
    @given(old=vec, new=vec, mask=vec,
           complement=st.booleans(), replace=st.booleans(),
           use_accum=st.booleans(), value_mask=st.booleans())
    @settings(**SETTINGS)
    def test_masked_update_full_descriptor_space(self, old, new, mask,
                                                 complement, replace,
                                                 use_accum, value_mask):
        w = _v(old)
        m = _v(mask)
        mk = gb.mask.ValueMask(m) if value_mask else gb.mask.StructuralMask(m)
        if complement:
            mk = ~mk
        accum = binary.plus if use_accum else None
        w(mask=mk, accum=accum, replace=replace) << _v(new)
        want = model.merge(
            old, new, accum=operator.add if use_accum else None,
            mask_keys=model.mask_keys_of(mask, value_mask),
            complement=complement, replace=replace)
        assert w.to_dict() == want

    @given(a=vec, mon=st.sampled_from(sorted(MONOIDS)))
    @settings(**SETTINGS)
    def test_reduce(self, a, mon):
        s = _v(a).reduce(monoid[mon]).new()
        if not a:
            assert s.is_empty
        else:
            acc = None
            for x in a.values():
                acc = x if acc is None else MONOIDS[mon](acc, x)
            assert s.value == acc


@pytest.mark.usefixtures("spark")
class TestExtractAssignProperties:
    @given(a=vec, idx=st.lists(st.integers(0, 9), min_size=1, max_size=6))
    @settings(**SETTINGS)
    def test_extract_list(self, a, idx):
        got = _v(a)[idx].new().to_dict()
        want = {p: a[t] for p, t in enumerate(idx) if t in a}
        assert got == want

    @given(a=vec, obj=vec,
           idx=st.lists(st.integers(0, 9), min_size=1, max_size=6,
                        unique=True))
    @settings(**SETTINGS)
    def test_assign_region_semantics(self, a, obj, idx):
        # w[idx] << obj(extracted shape): region gets exactly obj's
        # entries mapped through idx; entries OUTSIDE idx untouched
        w = _v(a)
        o = {p: v for p, v in obj.items() if p < len(idx)}
        w[idx] << _v(o, size=len(idx))
        want = {k: v for k, v in a.items() if k not in idx}
        for p, t in enumerate(idx):
            if p in o:
                want[t] = o[p]
        assert w.to_dict() == want

    @pytest.mark.parametrize("subassign", [True, False],
                             ids=["subassign", "assign"])
    @given(old=vec, obj=vec, mask=vec,
           idx=st.lists(st.integers(0, 9), min_size=1, max_size=6),
           use_mask=st.booleans(), value_mask=st.booleans(),
           repeat_mask=st.booleans(), complement=st.booleans(),
           use_accum=st.booleans(), replace=st.booleans())
    # a new entry failing the mask must not win, accum or not
    @example(old={0: 1, 2: 5}, obj={0: 3, 1: 4, 2: 6}, mask={0: 1},
             idx=[2, 0, 2], use_mask=True, value_mask=False,
             repeat_mask=False, complement=False, use_accum=True,
             replace=False)
    # a mask whose keys repeat, on old entries in and out of the region
    @example(old={0: 1, 2: 5, 4: 2}, obj={0: 3, 1: 4}, mask={0: 1, 2: 1, 4: 1},
             idx=[0, 2], use_mask=True, value_mask=False,
             repeat_mask=True, complement=False, use_accum=True,
             replace=False)
    @settings(**SETTINGS)
    def test_assign_full_descriptor_space(self, subassign, old, obj, mask,
                                          idx, use_mask, value_mask,
                                          repeat_mask, complement,
                                          use_accum, replace):
        """Region x mask x accum x replace at random, duplicate indices
        included. GxB_subassign `w[idx](desc) << obj` takes the mask in
        region (position) coordinates and prunes only the region;
        GrB_assign `w(desc)[idx] << obj` takes it in target coordinates
        and its replace prunes the whole target. A mask wrapping a
        relation whose keys repeat (`from_dataframe` over a multigraph
        edge list) must not repeat output entries."""
        obj = {p % len(idx): x for p, x in obj.items()}
        replace = replace and use_mask
        kw = {"accum": binary.plus if use_accum else None,
              "replace": replace}
        mask_keys = None
        if use_mask:
            if subassign:
                mask = {p % len(idx): x for p, x in mask.items()}
            m = _v(mask, size=len(idx) if subassign else 10)
            if repeat_mask:
                m = gb.Vector.from_dataframe(m.df.unionByName(m.df),
                                             size=m.size)
            mk = gb.mask.ValueMask(m) if value_mask \
                else gb.mask.StructuralMask(m)
            kw["mask"] = ~mk if complement else mk
            mask_keys = model.mask_keys_of(mask, value_mask)
            if subassign:
                mask_keys = {idx[p] for p in mask_keys}
        w = _v(old)
        if subassign:
            w[idx](**kw) << _v(obj, size=len(idx))
        else:
            w(**kw)[idx] << _v(obj, size=len(idx))
        # duplicate targets: the last position wins, even where the
        # object has no entry
        last = {t: p for p, t in enumerate(idx)}
        new = {t: obj[p] for t, p in last.items() if p in obj}
        merge = model.subassign_merge if subassign else model.merge
        want = merge(old, new, accum=operator.add if use_accum else None,
                     mask_keys=mask_keys, complement=complement,
                     replace=replace, region=set(idx))
        assert w.to_dict() == want
        assert w.df.count() == len(want)


def _row(obj, r):
    """Index r of a vector, or of column 0 of an n x 1 matrix."""
    if obj.kind == "vector":
        return r
    return (r, 0) if isinstance(r, int) else (r, slice(None))


def _subassign_accum(x, y, i, idx):
    # y's kind, sized to the region
    region = y[_row(y, list(range(len(idx))))].new()
    x[_row(x, idx)](accum=binary.plus) << region
    return x


def _delitem(x, y, i, idx):
    del x[_row(x, i)]
    return x


def _resize(x, y, i, idx):
    x.resize(i + 1, *x.shape[1:])
    return x


# each takes (obj, other, int index, index list) of one kind
RANK_OPS = {
    "ewise_add": lambda x, y, i, idx: x.ewise_add(y, monoid.plus).new(),
    "ewise_mult": lambda x, y, i, idx: x.ewise_mult(y, binary.times).new(),
    "extract_int": lambda x, y, i, idx: x[_row(x, i)].new(),
    "extract_slice": lambda x, y, i, idx: x[_row(x, slice(i, None, 2))].new(),
    "extract_list": lambda x, y, i, idx: x[_row(x, idx + idx[:1])].new(),
    "contains": lambda x, y, i, idx: _row(x, i) in x,
    "delitem": _delitem,
    "to_values": lambda x, y, i, idx: [a.tolist() for a in x.to_values()],
    "resize": _resize,
    "subassign_accum": _subassign_accum,
}


def _read(out):
    """A result as plain data; an n x 1 matrix is read on column 0."""
    if isinstance(out, (bool, list)):
        return out
    if out.kind == "scalar":
        return out.value
    d = out.to_dict()
    if out.kind == "matrix":
        assert out.shape[1] == 1 and all(j == 0 for _, j in d)
        d = {i: x for (i, _), x in d.items()}
    return out.shape[0], d


@pytest.mark.usefixtures("spark")
class TestRankTwinProperties:
    """Vector and Matrix share one implementation per op, generic in the
    key columns: each op on a vector v of size n must equal the same op
    on v as an n x 1 matrix, read back on column 0."""

    @pytest.mark.parametrize("op", sorted(RANK_OPS))
    @given(a=vec, b=vec, i=st.integers(0, 9),
           idx=st.lists(st.integers(0, 9), min_size=1, max_size=5))
    @settings(**dict(SETTINGS, max_examples=2))
    def test_vector_equals_n_by_1_matrix(self, op, a, b, i, idx):
        f = RANK_OPS[op]
        got_v = _read(f(_v(a), _v(b), i, idx))
        got_m = _read(f(_v(a)._as_matrix(), _v(b)._as_matrix(), i, idx))
        if op == "to_values":  # (i, v) against (i, j, v)
            assert got_m[1] == [0] * len(got_m[0])
            del got_m[1]
        assert got_v == got_m


@pytest.mark.usefixtures("spark")
class TestAlgorithmProperties:
    @given(edges=st.sets(st.tuples(st.integers(0, 11), st.integers(0, 11)),
                         max_size=16))
    @settings(**SETTINGS)
    def test_connected_components_vs_union_find(self, edges):
        """FastSV hybrid CC (frontier rounds + periodic pointer jumps)
        vs a driver-side union-find on random edge sets — including
        self-loops, singletons, and multi-component topologies."""
        from dask_grblas_spark import algorithms as alg

        n = 12
        es = [(i, j) for i, j in edges if i != j]
        if es:
            # one entry per key: (i, j) and (j, i) may both be drawn
            sym = sorted(set(es) | {(j, i) for i, j in es})
            A = gb.Matrix.from_values([e[0] for e in sym], [e[1] for e in sym],
                                      [1] * len(sym), nrows=n, ncols=n)
        else:
            A = gb.Matrix.new("INT64", n, n)
        got = alg.connected_components(A).to_dict()

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, j in es:
            parent[find(i)] = find(j)
        # expected label = component MINIMUM
        comp_min = {}
        for v in range(n):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        expect = {v: comp_min[find(v)] for v in range(n)}
        assert got == expect


@given(idx=st.lists(st.integers(0, 5), min_size=1, max_size=12))
@example(idx=[3, 1, 3, 3, 0, 1])
@settings(**dict(SETTINGS, max_examples=5))
def test_driver_last_wins_equals_window(spark, idx):
    """The numpy last-wins dedup of a literal index list gives the same
    (pos, idx) pairs as the window that dedups a DataFrame index."""
    from dask_grblas_spark.plans.extract import (dedup_last_wins,
                                                 last_wins_pairs)

    pos, tgt = last_wins_pairs(np.asarray(idx, dtype="int64"))
    df = spark.createDataFrame(list(enumerate(idx)), "pos long, idx long")
    got = sorted((r.pos, r.idx) for r in dedup_last_wins(df).collect())
    assert got == sorted(zip(pos.tolist(), tgt.tolist()))


@pytest.mark.parametrize("dtype, top, over", [("INT8", 127, 300),
                                             ("UINT64", 2**63 - 1, 2**63)])
def test_from_values_checks_storage_range(spark, dtype, top, over):
    """A value past the storage type's range raises instead of wrapping
    (INT8 is stored as tinyint, UINT64 as bigint)."""
    assert gb.Vector.from_values([0], [top], size=1,
                                 dtype=dtype).to_dict() == {0: top}
    with pytest.raises(ValueError):
        gb.Vector.from_values([0], [over], size=1, dtype=dtype)


# ---- pipeline-layer properties (round 4 ops) ----------------------------

_doc_text = st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
                     min_size=0, max_size=40).map(" ".join)
_corpus = st.dictionaries(st.integers(0, 30), _doc_text,
                          min_size=1, max_size=12)


@given(docs=_corpus, chunk=st.integers(2, 12), overlap=st.integers(0, 4))
@settings(**SETTINGS)
def test_chunking_covers_every_token_exactly(spark, docs, chunk, overlap):
    """Dropping each chunk's leading `overlap` tokens (except chunk 0)
    and concatenating reconstructs the original token stream — i.e.
    windows tile the document exactly, no token lost or duplicated
    beyond the declared overlap."""
    from dask_grblas_spark.functions.packing import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    df = spark.createDataFrame(list(docs.items()),
                               "doc_id long, text string")
    rows = chunk_documents(df, chunk, overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = \
            r["chunk_text"].split()
    for doc_id, text in docs.items():
        want = text.split()
        got = by_doc[doc_id]
        assert sorted(got) == list(range(len(got)))
        rebuilt = []
        for cid in sorted(got):
            toks = got[cid]
            rebuilt.extend(toks if cid == 0 else toks[overlap:])
        assert rebuilt == want, (doc_id, chunk, overlap)


@given(docs=_corpus, budget=st.integers(1, 30),
       shards=st.integers(1, 4))
@settings(**SETTINGS)
def test_packing_respects_budget_and_partitions_rows(spark, docs, budget,
                                                     shards):
    from dask_grblas_spark.functions.packing import pack_sequences

    df = spark.createDataFrame(list(docs.items()),
                               "doc_id long, text string")
    rows = pack_sequences(df, budget=budget, n_shards=shards).collect()
    assert len(rows) == len(docs)  # every doc assigned exactly once
    sums = {}
    singles = {}
    for r in rows:
        key = (r["shard"], r["pack_id"])
        sums[key] = sums.get(key, 0) + r["tok_len"]
        singles.setdefault(key, []).append(r["tok_len"])
    for key, s in sums.items():
        # a pack either fits the budget or is a single oversize doc
        assert s <= budget or len(singles[key]) == 1, (key, s)


@given(docs=_corpus)
@settings(**SETTINGS)
def test_unigram_logprob_bounds(spark, docs):
    """avg_nll is within [ -ln(max_p), -ln(min_p) ] of the corpus
    distribution and n_tokens matches the tokenization."""
    import math

    from dask_grblas_spark.functions.text import unigram_logprob

    df = spark.createDataFrame(list(docs.items()),
                               "doc_id long, text string")
    all_toks = [t for text in docs.values() for t in text.split()]
    if not all_toks:
        return
    from collections import Counter
    cnt = Counter(all_toks)
    total = len(all_toks)
    lo = -math.log(max(cnt.values()) / total)
    hi = -math.log(min(cnt.values()) / total)
    for r in unigram_logprob(df).collect():
        assert lo - 1e-6 <= r["avg_nll"] <= hi + 1e-6
        assert r["n_tokens"] == len(docs[r["doc_id"]].split())
