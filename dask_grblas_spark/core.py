"""Core sparse collections: GrScalar, GrVector, GrMatrix (+ transpose view).

Reference data model (/root/reference/dask_grblas/scalar.py:52, vector.py:77,
matrix.py:43; SURVEY.md section 1): sparse COO collections where ABSENCE OF
ROW means absence of entry (never a stored zero). Spark layout:

- Vector: DataFrame (i BIGINT, v <T>) + logical ``size`` metadata
- Matrix: DataFrame (i BIGINT, j BIGINT, v <T>) + (nrows, ncols) metadata
- Scalar: 0-or-1-row DataFrame (v <T>) — empty row set == empty scalar

Wrappers are mutable and point at immutable DataFrames (the reference's
__init__-rebind pattern, vector.py:182-198, becomes "wrapper points at a
new DF"). All expressions stay lazy Catalyst plans; shapes/dtypes are
validated eagerly at expression build time like the reference's _meta
checks. Dims may be None (unknown) in pipeline contexts — checks involving
them are then skipped rather than forcing an eager aggregation.
"""

from __future__ import annotations

import operator
from functools import reduce as _reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dtypes import (BOOL, FP64, INT64, GbType, cast_v, from_storage,
                     infer_from_values, lookup_dtype, sql_storage, to_storage)
from .exceptions import (DimensionMismatch, EmptyObject, IndexOutOfBound,
                         InvalidValue, OutputNotEmpty)
from .expr import (AmbiguousAssignOrExtract, Assigner, Expr, Updater,
                   _normalize_call_args, _scalar_merge)
from .mask import StructuralMask, ValueMask, resolve_mask
from .operators import (Aggregator, BinaryOp, Monoid, Semiring, binary,
                        get_typed_op, monoid, semiring, unary)
from .plans import assign as assign_plans
from .plans import ewise as ewise_plans
from .plans import extract as extract_plans
from .plans import matmul as matmul_plans
from .plans import reduce as reduce_plans
from .plans.local import local_df
from .plans.merge import apply_mask

__all__ = ["GrScalar", "GrVector", "GrMatrix", "TransposedMatrix",
           "Vector", "Matrix", "Scalar", "get_session",
           "concat_vectors", "row_stack", "column_stack", "diag"]

# Force-broadcast hint cap for mxv/vxm vector operands. Kept well under
# typical executor memory (500k (i,v) rows ~ 12 MB); bigger sides get no
# hint — AQE still converts to broadcast at runtime when the ACTUAL size
# qualifies, and co-partitioned shuffle joins take over beyond that.
_BROADCAST_NVALS_LIMIT = 500_000


def get_session() -> SparkSession:
    """Active session, or a scale-minded local default (AQE on, shuffle
    partitions sized to cores — see /opt-documented PySpark guidance)."""
    s = SparkSession.getActiveSession()
    if s is not None:
        return s
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    return (SparkSession.builder
            .master(f"local[{cpus}]")
            .appName("dask_grblas_spark")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def _schema(keys: list[str], dtype: GbType) -> T.StructType:
    """(keys..., v): a keyed entry's value is never null, an empty
    scalar's is."""
    return T.StructType([T.StructField(k, T.LongType(), False) for k in keys]
                        + [T.StructField("v", dtype.spark_type, not keys)])


def _scalar_df_from_value(value, dtype: GbType) -> DataFrame:
    return local_df(get_session(), _schema([], dtype),
                    [[] if value is None else [value]])


def _dup_agg(dup_op, col, dtype: GbType):
    """Map a dup_op (BinaryOp/Monoid/name) to an aggregate for combining
    duplicate indices in from_values/build (reference vector.py:100-160)."""
    if isinstance(dup_op, str):
        dup_op, _ = get_typed_op(dup_op, dtype)
    if isinstance(dup_op, Monoid):
        return dup_op.agg(col, dtype)
    if isinstance(dup_op, BinaryOp):
        if dup_op.name in monoid._registry:
            return monoid._registry[dup_op.name].agg(col, dtype)
        raise ValueError(
            f"dup_op {dup_op.name!r} is not associative-aggregatable; "
            f"use a monoid")
    raise TypeError(f"Invalid dup_op: {dup_op!r}")


def _check_unique(coords, keys):
    """Raise InvalidValue on a key given twice: every merge, mask and
    nvals counts one entry per key."""
    order = np.lexsort(coords[::-1])
    keyed = [c[order] for c in coords]
    repeat = np.flatnonzero(np.logical_and.reduce(
        [k[1:] == k[:-1] for k in keyed]))
    if repeat.size:
        at = tuple(int(k[repeat[0]]) for k in keyed)
        raise InvalidValue(
            f"{dict(zip(keys, at))} is given more than once; pass dup_op "
            f"to combine repeated entries")


def plan_leaves(df: DataFrame) -> int:
    """Leaf count of df's logical plan, counting the plans of its
    subqueries too (the merge's mask and index membership tests)."""
    lp = df._jdf.queryExecution().logical()
    subs = lp.subqueriesAll()
    return lp.collectLeaves().size() + sum(
        subs.apply(k).collectLeaves().size() for k in range(subs.size()))


class BaseType:
    """Shared wrapper behavior (reference /root/reference/dask_grblas/
    base.py)."""

    kind: str = ""
    _key_cols: list[str] = []
    # the dimension attributes, one per key column
    _dims: tuple[str, ...] = ()

    def __init__(self):
        self._df: DataFrame = None
        self.dtype: GbType = None
        self.name = None
        self._nvals_cache = None

    def __array__(self, *args, **kwargs):
        raise TypeError(
            f"{type(self).__name__} cannot be converted to a numpy array "
            "implicitly; use to_values() for an explicit (sorted) export")

    # -- plumbing ----------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    # In-place updates stack merge plans: the descriptor merge reads the
    # previous plan once and adds its own new/mask/index leaves, so chained
    # updates grow the Catalyst tree linearly (masked vector sub-assigns by
    # a list: 5, 9, 13, 17, 21 leaves after 1-5 of them with accum, 8, 15,
    # 22, 29, 36 without). A loop of assigns still grows without limit, and
    # planning and task serialization cost grows with it, so cut lineage
    # whenever the plan's leaf count crosses a bound (after about 11 of the
    # first kind, 6 of the second); the reference gets the same effect from dask's per-op
    # materialization boundaries. The bound looks at the actual plan, as
    # ops differ in how many leaves they add.
    _MAX_PLAN_LEAVES = 48

    def _set_df(self, df: DataFrame):
        try:
            n_leaves = plan_leaves(df)
        except Exception:
            n_leaves = 0
        if n_leaves > self._MAX_PLAN_LEAVES:
            df = df.localCheckpoint(eager=True)
        self._df = df
        self._nvals_cache = None

    @property
    def shape(self):
        return tuple(getattr(self, d) for d in self._dims)

    def _set_shape(self, shape):
        for dim, n in zip(self._dims, shape):
            setattr(self, dim, n)

    def _rebuild(self, df, dtype, name=None):
        return _BY_RANK[len(self._dims)](df, dtype, *self.shape, name=name)

    def _as_expr(self) -> Expr:
        df = self._df  # snapshot: wrapper may be rebound later
        return _out_expr(self.shape, self.dtype, lambda mask: df)

    # -- descriptor entry point --------------------------------------------
    def __call__(self, *args, mask=None, accum=None, replace=False,
                 input_mask=None):
        mask, accum, replace = _normalize_call_args(args, mask, accum, replace)
        return Updater(self, mask=mask, accum=accum, replace=replace,
                       input_mask=input_mask)

    def __lshift__(self, rhs):
        self.update(rhs)

    def update(self, rhs):
        Updater(self).update(rhs)

    # -- bookkeeping ops (reference base.py:94-136, 198-224) ----------------
    @property
    def nvals(self) -> int:
        if self._nvals_cache is None:
            self._nvals_cache = self._df.count()
        return self._nvals_cache

    def clear(self):
        self._set_df(self._df.limit(0))
        self._nvals_cache = 0

    def dup(self, dtype=None, *, mask=None, name=None):
        out_dtype = lookup_dtype(dtype) if dtype is not None else self.dtype
        df = self._df
        mask_t = resolve_mask(mask)
        if mask_t is not None:
            df = apply_mask(df, self._key_cols, mask_t[0], mask_t[1])
        if out_dtype != self.dtype:
            df = df.selectExpr(*self._key_cols, cast_v(out_dtype))
        return self._rebuild(df, out_dtype, name=name)

    # -- masks --------------------------------------------------------------
    @property
    def S(self):
        return StructuralMask(self)

    @property
    def V(self):
        return ValueMask(self)

    # -- materialization (reference base.py:336-349) -------------------------
    def persist(self):
        self._df = self._df.persist()
        return self

    def unpersist(self):
        self._df.unpersist()
        return self

    def checkpoint(self, eager: bool = True, compact: bool = False):
        """Cut lineage (mandatory inside iterative algorithms — reference
        persists each iteration; SURVEY.md section 4).

        compact=True first repartitions by the entry keys: iterative
        unions concatenate partitions (32 per iteration), so task counts
        — and per-iteration wall clock — grow linearly without a
        periodic collapse; the AQE-sized shuffle resets them."""
        old_df = self._df
        if compact:
            keys = [c for c in self._df.columns if c != "v"]
            self._df = self._df.repartition(*keys)
        self._df = self._df.localCheckpoint(eager=eager)
        # An eager checkpoint supersedes any cache entry on the old plan,
        # but Spark's CacheManager holds superseded entries FOREVER (it
        # is keyed by plan, not GC'd) — release it here or every loop
        # iteration leaks storage memory and the session degrades
        # run-over-run. Lazy checkpoints must keep the cache: the
        # materialization hasn't happened yet.
        if eager:
            try:
                if old_df.is_cached:
                    old_df.unpersist()
            except Exception:
                pass
        return self

    def compute(self):
        return self.to_values()

    def wait(self):
        """Compute the object's entries; no job when its ``nvals`` is
        known already (a loop's result is a checkpoint whose size the
        loop observed)."""
        if self._nvals_cache is None:
            self._nvals_cache = self._df.count()
        return self

    def visualize(self, mode: str = "formatted"):
        return self._df.explain(mode)

    def rechunk(self, n_partitions: int):
        self._df = self._df.repartition(n_partitions)
        return self

    # -- comparisons (reference base.py:35-92) -------------------------------
    def isequal(self, other, *, check_dtype=False) -> "GrScalar":
        return self._compare(other, check_dtype=check_dtype, mode="equal")

    def isclose(self, other, *, rel_tol=1e-7, abs_tol=0.0, check_dtype=False):
        return self._compare(other, check_dtype=check_dtype, mode="close",
                             rel_tol=rel_tol, abs_tol=abs_tol)

    def _compare(self, other, *, check_dtype, mode, rel_tol=0.0, abs_tol=0.0):
        if type(other) is not type(self) and not (
                isinstance(self, GrMatrix) and isinstance(other, GrMatrix)):
            return GrScalar.from_value(False, BOOL)
        if self.shape != other.shape:
            return GrScalar.from_value(False, BOOL)
        if check_dtype and self.dtype != other.dtype:
            return GrScalar.from_value(False, BOOL)
        keys = self._key_cols
        if not keys:  # scalar
            a, b = self.value, other.value
            if a is None or b is None:
                return GrScalar.from_value(a is None and b is None, BOOL)
            if mode == "equal":
                return GrScalar.from_value(bool(a == b), BOOL)
            # numpy-style closeness (|l-r| <= abs_tol + rel_tol*|r|), the
            # same rule the distributed branch uses, so v.isclose(w) agrees
            # with the scalar case (and with the reference's np.isclose).
            return GrScalar.from_value(
                bool(abs(a - b) <= abs_tol + rel_tol * abs(b)), BOOL)
        l = self._df.alias("l")
        r = other._df.alias("r")
        cond = None
        for k in keys:
            c = F.col(f"l.{k}") == F.col(f"r.{k}")
            cond = c if cond is None else (cond & c)
        j = l.join(r, cond, "full_outer")
        lv, rv = F.col("l.v"), F.col("r.v")
        if mode == "equal":
            ok = lv.isNotNull() & rv.isNotNull() & (lv == rv)
        elif self.dtype.is_complex or other.dtype.is_complex:
            # complex closeness: |l-r| and |r| are vector magnitudes of the
            # struct<re,im> encoding — same numpy rule, same tolerance.
            dre = lv["re"].cast("double") - rv["re"].cast("double")
            dim = lv["im"].cast("double") - rv["im"].cast("double")
            rmag = F.sqrt(rv["re"].cast("double") * rv["re"].cast("double")
                          + rv["im"].cast("double") * rv["im"].cast("double"))
            ok = (lv.isNotNull() & rv.isNotNull()
                  & (F.sqrt(dre * dre + dim * dim)
                     <= F.lit(abs_tol) + F.lit(rel_tol) * rmag))
        else:
            # numpy-style: |l-r| <= abs_tol + rel_tol*|r| (r = other);
            # mirrored exactly by the local-scalar branch above.
            ok = (lv.isNotNull() & rv.isNotNull()
                  & (F.abs(lv - rv)
                     <= F.lit(abs_tol) + F.lit(rel_tol) * F.abs(rv)))
        out = j.agg(F.coalesce(F.bool_and(ok), F.lit(True)).alias("v"))
        return GrScalar(out, BOOL)

    # -- construction bodies: the subclasses keep the signatures -------------
    @classmethod
    def _empty(cls, dtype, shape, name):
        dt = lookup_dtype(dtype)
        df = local_df(get_session(), _schema(cls._key_cols, dt),
                      [[]] * (len(cls._key_cols) + 1))
        return cls(df, dt, *shape, name=name)

    @classmethod
    def _coo_df(cls, coords, values, shape, trust_shape, dup_op, dtype):
        """The body of from_values and build: one coordinate array per key
        column. A None dimension is inferred from its coordinates
        (reference vector.py:120-126, matrix.py:141-150); a known one is
        bounds-checked unless trusted. Without dup_op a repeated key is
        an error (GrB_INVALID_VALUE). Returns (df, dtype, shape)."""
        words, inputs, source = cls._coo_names
        coords = [np.asarray(c, dtype="int64") for c in coords]
        values = np.asarray(values)
        if values.ndim == 0:
            values = np.broadcast_to(values, coords[0].shape)
        if any(c.shape != values.shape for c in coords):
            raise ValueError(f"{inputs} must have the same length")
        dt = lookup_dtype(dtype) if dtype is not None else infer_from_values(values)
        shape = list(shape)
        for k, (c, dim, word) in enumerate(zip(coords, cls._dims, words)):
            if shape[k] is None:
                if c.size == 0:
                    raise ValueError(
                        f"No {dim} given and no {source} to infer from")
                shape[k] = int(c.max()) + 1
            elif not trust_shape and c.size and int(c.max()) >= shape[k]:
                raise IndexOutOfBound(
                    f"{word} {int(c.max())} >= {dim} {shape[k]}")
        if dup_op is None:
            _check_unique(coords, cls._key_cols)
        df = local_df(get_session(), _schema(cls._key_cols, dt),
                      [*coords, values])
        if dup_op is not None:
            df = df.groupBy(*cls._key_cols).agg(
                _dup_agg(dup_op, F.col("v"), dt).cast(dt.spark_type).alias("v"))
        return df, dt, shape

    @classmethod
    def _from_df(cls, df, cols, value_col, shape, dtype, name):
        dt = lookup_dtype(dtype) if dtype is not None \
            else lookup_dtype(df.schema[value_col].dataType)
        out = df.select(*[F.col(c).cast("bigint").alias(k)
                          for c, k in zip(cols, cls._key_cols)],
                        F.col(value_col).cast(dt.spark_type).alias("v"))
        return cls(out, dt, *shape, name=name)

    def _build(self, coords, values, shape, dup_op, clear):
        """Populate a must-be-empty object (reference vector.py:448-504)."""
        if not clear and self.nvals > 0:
            raise OutputNotEmpty(f"{self.kind} must be empty before build()")
        shape = [n if n is not None else cur for n, cur in zip(shape, self.shape)]
        df, _, _ = self._coo_df(coords, values, shape, False, dup_op,
                                self.dtype)
        self._set_shape(shape)
        self._set_df(df)

    def _resize(self, shape):
        """Grow = metadata-only; shrink drops out-of-range entries
        (reference vector.py:236-270). An unknown current dimension (None)
        must filter too: entries beyond the new bound may exist."""
        cut = [F.col(k) < n for k, old, n in zip(self._key_cols, self.shape, shape)
               if old is None or n < old]
        if cut:
            self._set_df(self._df.filter(_reduce(operator.and_, cut)))
        self._set_shape(shape)

    # -- element-wise (E1-E3) -----------------------------------------------
    def ewise_add(self, other, op=None, *, require_monoid=True) -> Expr:
        other = _as_kind(other, self.kind)
        _check_same_shape(self, other)
        op = _resolve_binary(op, default=monoid.plus)
        op = op.binaryop if isinstance(op, Monoid) else op
        out_dt = op.out_dtype(self.dtype, other.dtype)
        a_df, b_df, keys = self._df, other._df, self._key_cols
        a_dt, b_dt = self.dtype, other.dtype
        build = lambda mask: ewise_plans.ewise_add(a_df, b_df, keys, op, out_dt,  # noqa: E731
                                                   a_dt, b_dt)
        return _out_expr(self.shape, out_dt, build)

    def ewise_mult(self, other, op=None) -> Expr:
        other = _as_kind(other, self.kind)
        _check_same_shape(self, other)
        op = _resolve_binary(op, default=binary.times)
        op = op.binaryop if isinstance(op, Monoid) else op
        out_dt = op.out_dtype(self.dtype, other.dtype)
        a_df, b_df, keys = self._df, other._df, self._key_cols
        build = lambda mask: ewise_plans.ewise_mult(a_df, b_df, keys, op, out_dt)  # noqa: E731
        return _out_expr(self.shape, out_dt, build)

    def _reduce_scalar(self, op=None) -> Expr:
        op = _resolve_reduce_op(op, self.dtype)
        out_dt = reduce_plans.out_dtype_of(op, self.dtype)
        df, dtype = self._df, self.dtype
        build = lambda mask: reduce_plans.reduce_scalar(df, op, dtype, ["i"])  # noqa: E731
        return Expr("scalar", out_dt, build)

    # -- extract / assign (X1-X5, A3-A7) --------------------------------------
    def _resolve_indices(self, index):
        if len(self._key_cols) == 1:
            index = (index,)
        elif not isinstance(index, tuple) or len(index) != len(self._key_cols):
            raise TypeError("Matrix indexing requires A[rows, cols]")
        spark = get_session()
        return [extract_plans.resolve_index(ix, n, spark)
                for ix, n in zip(index, self.shape)]

    def _extract_expr(self, resolved, input_mask=None) -> Expr:
        """Filter the int axes, gather the others; the result has one axis
        per gathered one, named i then j: a scalar, vector or matrix."""
        axes = list(zip(self._key_cols, resolved))
        ints = [(k, rx) for k, rx in axes if rx.kind == "int"]
        gathered = [(k, rx) for k, rx in axes if rx.kind != "int"]
        out_keys = GrMatrix._key_cols[:len(gathered)]
        df = self._df
        mask_t = resolve_mask(input_mask)
        if mask_t is not None:  # X3: filter the SOURCE before extraction
            mk, complement = mask_t
            keys = self._key_cols
            if len(mk.columns) < len(keys):
                # a Vector input_mask on a row/col extract (reference
                # expr.py:1296-1351) applies to the axis that is kept
                if len(gathered) != 1:
                    raise TypeError("Mask object must be type Matrix")
                keys = [gathered[0][0]]
                mk = mk.withColumnRenamed("i", keys[0])
            df = apply_mask(df, keys, mk, complement)
        if ints:
            df = df.where(_at(ints)).drop(*[k for k, _ in ints])
        for (k, rx), out in zip(gathered, out_keys):
            if k != out:
                df = df.withColumnRenamed(k, out)
            df = extract_plans.axis_gather(df, out, rx, out)
        out = df.selectExpr(*out_keys, "v")
        return _out_expr(tuple(rx.out_size for _, rx in gathered), self.dtype,
                         lambda mask: out)

    def __getitem__(self, index):
        return AmbiguousAssignOrExtract(self, index)

    def __setitem__(self, index, obj):
        Assigner(Updater(self), self._resolve_indices(index),
                 subassign=False).update(obj)

    def _point(self, index, what) -> str:
        resolved = self._resolve_indices(index)
        if any(rx.kind != "int" for rx in resolved):
            raise TypeError(f"{what} only supports single elements")
        return _at(zip(self._key_cols, resolved))

    def __delitem__(self, index):
        self._set_df(self._df.where(f"NOT {self._point(index, 'del')}"))

    def __contains__(self, index):
        pred = self._point(index, "membership")
        return self._df.where(pred).limit(1).count() > 0

    def __iter__(self):
        keys = self._key_cols
        for row in self._df.select(*keys).sort(*keys).toLocalIterator():
            yield row[0] if len(keys) == 1 else tuple(row)

    def _assign(self, resolved, obj, updater: Updater, subassign: bool):
        _generic_assign(self, list(zip(self._key_cols, resolved, self.shape)),
                        obj, updater, subassign)

    # -- export (C17) ---------------------------------------------------------
    def to_values(self, dtype=None):
        keys = self._key_cols
        rows = self._df.sort(*keys).collect()
        dt = lookup_dtype(dtype) if dtype is not None else self.dtype
        n = len(rows)
        coords = [np.fromiter((r[k] for r in rows), dtype="int64", count=n)
                  for k in keys]
        vals = np.fromiter((from_storage(r["v"], self.dtype) for r in rows),
                           dtype=dt.np_name, count=n)
        return (*coords, vals)

    def to_dict(self) -> dict:
        keys = self._key_cols
        return {(r[keys[0]] if len(keys) == 1 else tuple(r[k] for k in keys)):
                from_storage(r["v"], self.dtype) for r in self._df.collect()}

    def __repr__(self):  # pragma: no cover
        nm = f" {self.name!r}" if self.name else ""
        return f"<{type(self).__name__}{nm} {self.dtype.name} shape={self.shape}>"


# ===========================================================================
# Scalar
# ===========================================================================

class GrScalar(BaseType):
    """Reference: /root/reference/dask_grblas/scalar.py:52-202."""

    kind = "scalar"
    _key_cols: list[str] = []
    # a scalar has no keys to index, test or iterate
    __getitem__ = __setitem__ = __delitem__ = __contains__ = __iter__ = None

    def __init__(self, df: DataFrame, dtype: GbType, name=None):
        super().__init__()
        self._df = df
        self.dtype = dtype
        self.name = name

    @classmethod
    def new(cls, dtype, *, name=None) -> "GrScalar":
        return cls._empty(dtype, (), name)

    @classmethod
    def from_value(cls, value, dtype=None, *, name=None) -> "GrScalar":
        if isinstance(value, GrScalar):
            dt = lookup_dtype(dtype) if dtype is not None else value.dtype
            return value.dup(dt, name=name)
        if dtype is None:
            dt = lookup_dtype(type(value))
        else:
            dt = lookup_dtype(dtype)
        return cls(_scalar_df_from_value(value, dt), dt, name=name)

    @property
    def value(self):
        rows = self._df.take(1)
        if not rows:
            return None
        return from_storage(rows[0][0], self.dtype)

    @value.setter
    def value(self, val):
        self._set_df(_scalar_df_from_value(val, self.dtype))

    def __int__(self):
        v = self.value
        if v is None:
            raise TypeError("cannot cast empty Scalar to int")
        return int(v)

    def __float__(self):
        v = self.value
        if v is None:
            raise TypeError("cannot cast empty Scalar to float")
        return float(v)

    def __complex__(self):
        v = self.value
        if v is None:
            raise TypeError("cannot cast empty Scalar to complex")
        return complex(v)

    def __index__(self):
        if not (self.dtype.name.startswith("INT")
                or self.dtype.name.startswith("UINT")):
            raise TypeError("only integer Scalars support __index__")
        return int(self)

    @property
    def is_empty(self) -> bool:
        return self.value is None

    @property
    def nvals(self) -> int:
        return 0 if self.is_empty else 1

    def __bool__(self):
        v = self.value
        return bool(v) if v is not None else False

    def __eq__(self, other):
        if isinstance(other, GrScalar):
            other = other.value
        return self.value == other

    def __hash__(self):  # pragma: no cover
        return id(self)

    def __neg__(self):
        if self.dtype.is_complex:
            neg = F.struct((-F.col("v")["re"]).alias("re"),
                           (-F.col("v")["im"]).alias("im"))
            df = self._df.select(neg.cast(self.dtype.spark_type).alias("v"))
        else:
            df = self._df.select(
                (-F.col("v")).cast(self.dtype.spark_type).alias("v"))
        return GrScalar(df, self.dtype)

    def __invert__(self):
        if not self.dtype.is_bool:
            raise TypeError("__invert__ requires BOOL scalar")
        return GrScalar(self._df.select((~F.col("v")).alias("v")), BOOL)

    def to_values(self):
        return self.value

    def _as_vector(self) -> "GrVector":
        """Cast to size-1 Vector (reference scalar.py:184-193)."""
        df = self._df.select(F.lit(0).cast("bigint").alias("i"), F.col("v"))
        return GrVector(df, self.dtype, 1)


# ===========================================================================
# Vector
# ===========================================================================

class GrVector(BaseType):
    """Reference: /root/reference/dask_grblas/vector.py:77-592."""

    kind = "vector"
    _key_cols = ["i"]
    _dims = ("size",)
    # from_values wording: coordinate names, the inputs, what sizes come from
    _coo_names = (("index",), "indices and values", "indices")

    def __init__(self, df: DataFrame, dtype: GbType, size, name=None):
        super().__init__()
        self._df = df
        self.dtype = dtype
        self.size = size
        self.name = name

    # -- construction (C1, C4, C6) ------------------------------------------
    @classmethod
    def new(cls, dtype, size=0, *, name=None, **_ignored) -> "GrVector":
        return cls._empty(dtype, (size,), name)

    @classmethod
    def from_values(cls, indices, values, size=None, *, trust_size=False,
                    dup_op=None, dtype=None, name=None, **_ignored):
        df, dt, shape = cls._coo_df([indices], values, [size], trust_size,
                                    dup_op, dtype)
        return cls(df, dt, *shape, name=name)

    @classmethod
    def from_dataframe(cls, df: DataFrame, size=None, *, index_col="i",
                       value_col="v", dtype=None, name=None) -> "GrVector":
        """Wrap an existing DataFrame as a sparse vector (the scale path —
        parquet/SQL results become vectors with zero data movement)."""
        return cls._from_df(df, [index_col], value_col, (size,), dtype, name)

    @property
    def ss(self):
        """SuiteSparse-extension surface (reference _ss/vector.py; the
        upstream ops it XFAILs live in dask_grblas_spark/ss.py)."""
        from .ss import VectorSS
        return VectorSS(self)

    def build(self, indices, values, *, dup_op=None, clear=False, size=None,
              **_ignored):
        self._build([indices], values, [size], dup_op, clear)

    def resize(self, size):
        self._resize((size,))

    def apply(self, op, right=None, *, left=None) -> Expr:
        return _apply(self, op, right, left)

    # -- matmul (M3) -----------------------------------------------------------
    def vxm(self, other, op=None) -> Expr:
        if not isinstance(other, GrMatrix):
            raise TypeError("vxm requires a Matrix")
        return _matmul(self, other, op,
                       "vxm: vector size {} != matrix nrows {}")

    def __matmul__(self, other):
        return self.vxm(other)

    # -- reduce (R1) -------------------------------------------------------------
    reduce = BaseType._reduce_scalar

    def inner(self, other, op=None) -> Expr:
        """vector·vector inner product (reference stub vector.py:371-421 —
        implemented here)."""
        op = _resolve_semiring(op)
        other = _as_kind(other, "vector")
        _check_same_shape(self, other)
        mult = op.binaryop
        prod = self.ewise_mult(other, mult)
        mult_dt = mult.out_dtype(self.dtype, other.dtype)
        out_dt = op.monoid.out_dtype(mult_dt, mult_dt)
        prod_df = prod.build(None)
        build = lambda mask: reduce_plans.reduce_scalar(  # noqa: E731
            prod_df, op.monoid, mult_dt, ["i"])
        return Expr("scalar", out_dt, build)

    def outer(self, other, op=None) -> Expr:
        """vector·vector outer product -> Matrix (reference stub)."""
        op = _resolve_binary(op, default=binary.times)
        op = op.binaryop if isinstance(op, Monoid) else op
        other = _as_kind(other, "vector")
        out_dt = op.out_dtype(self.dtype, other.dtype)
        a = self._df.alias("A")
        b = other._df.alias("B")
        val = op(F.col("A.v"), F.col("B.v"), out_dt)
        df = a.crossJoin(b).select(F.col("A.i").alias("i"),
                                   F.col("B.i").alias("j"),
                                   val.cast(out_dt.spark_type).alias("v"))
        build = lambda mask: df  # noqa: E731
        return Expr("matrix", out_dt, build, nrows=self.size, ncols=other.size)

    # -- reshapes ---------------------------------------------------------------
    def diag(self, k: int = 0) -> "GrMatrix":
        """Vector -> diagonal matrix (reference ss.diag, SURVEY C13); an
        unknown size gives unknown dims."""
        n = None if self.size is None else self.size + abs(k)
        df = self._df.select((F.col("i") + max(0, -k)).alias("i"),
                             (F.col("i") + max(0, k)).alias("j"), "v")
        return GrMatrix(df, self.dtype, n, n)

    def _as_matrix(self) -> "GrMatrix":
        """Cast to an n-by-1 Matrix (reference vector.py:202-218)."""
        df = self._df.select("i", F.lit(0).cast("bigint").alias("j"), "v")
        return GrMatrix(df, self.dtype, self.size, 1)

    def reduce_assign(self, indices, rhs: "GrVector", *, dup_op=None,
                      mask=None, accum=None, replace=False):
        """Scatter rhs through `indices`, combining duplicate targets with
        dup_op (monoid or 'first'/'last'). Reference expr.py:697-776 does
        this as a matmul against an iso CSC selection matrix; in Spark it
        is a groupBy(target).agg — no matmul needed (SURVEY A6)."""
        spark = get_session()
        rx = extract_plans.resolve_index(indices, self.size, spark)
        if rx.kind != "df":
            raise TypeError("reduce_assign requires an explicit index list")
        if dup_op is None:
            dup_op = "last"
        if isinstance(dup_op, str) and dup_op not in ("first", "last"):
            dup_op, _ = get_typed_op(dup_op, rhs.dtype)
        if isinstance(dup_op, BinaryOp):
            dup_op = monoid._registry[dup_op.name]
        new_df = assign_plans.reduce_assign_build(rhs.df, rx, dup_op, self.dtype)
        Updater(self, mask=mask, accum=accum, replace=replace)._merge(
            new_df, resolve_mask(mask), [("i", rx)])


# ===========================================================================
# Matrix
# ===========================================================================

class GrMatrix(BaseType):
    """Reference: /root/reference/dask_grblas/matrix.py:43-677."""

    kind = "matrix"
    _key_cols = ["i", "j"]
    _dims = ("nrows", "ncols")
    _coo_names = (("row", "col"), "rows, columns, values", "values")

    def __init__(self, df: DataFrame, dtype: GbType, nrows, ncols, name=None):
        super().__init__()
        self._df = df
        self.dtype = dtype
        self.nrows = nrows
        self.ncols = ncols
        self.name = name

    # -- construction (C2, C5, C6) -----------------------------------------
    @classmethod
    def new(cls, dtype, nrows=0, ncols=0, *, name=None, **_ignored):
        return cls._empty(dtype, (nrows, ncols), name)

    @classmethod
    def from_values(cls, rows, columns, values, nrows=None, ncols=None, *,
                    trust_shape=False, dup_op=None, dtype=None, name=None,
                    **_ignored):
        df, dt, shape = cls._coo_df([rows, columns], values, [nrows, ncols],
                                    trust_shape, dup_op, dtype)
        return cls(df, dt, *shape, name=name)

    @classmethod
    def from_dataframe(cls, df: DataFrame, nrows=None, ncols=None, *,
                       row_col="i", col_col="j", value_col="v", dtype=None,
                       name=None) -> "GrMatrix":
        """Wrap an existing DataFrame as a sparse matrix — THE ingestion
        path at scale (a parquet scan or SQL result becomes a matrix with
        zero data movement; dims may stay None/unknown)."""
        return cls._from_df(df, [row_col, col_col], value_col, (nrows, ncols),
                            dtype, name)

    @property
    def ss(self):
        from .ss import MatrixSS
        return MatrixSS(self)

    def build(self, rows, columns, values, *, dup_op=None, clear=False,
              nrows=None, ncols=None, **_ignored):
        self._build([rows, columns], values, [nrows, ncols], dup_op, clear)

    def resize(self, nrows, ncols):
        self._resize((nrows, ncols))

    # -- transpose (lazy view; reference matrix.py:682-754) -------------------
    @property
    def T(self) -> "TransposedMatrix":
        return TransposedMatrix(self)

    def apply(self, op, right=None, *, left=None) -> Expr:
        return _apply(self, op, right, left)

    # -- matmul (M1, M2, M6) -----------------------------------------------------
    def mxm(self, other, op=None) -> Expr:
        if not isinstance(other, GrMatrix):
            raise TypeError("mxm requires a Matrix")
        return _matmul(self, other, op, "mxm: A.ncols {} != B.nrows {}")

    def mxv(self, other, op=None) -> Expr:
        if not isinstance(other, GrVector):
            raise TypeError("mxv requires a Vector")
        return _matmul(self, other, op, "mxv: A.ncols {} != v.size {}")

    def __matmul__(self, other):
        if isinstance(other, GrVector):
            return self.mxv(other)
        return self.mxm(other)

    def kronecker(self, other, op=None) -> Expr:
        """Implemented for full parity — the reference declares kronecker
        but cannot execute it (matrix.py:461-464, dispatch gap
        expr.py:278-279; SURVEY M6)."""
        other = _as_kind(other, "matrix")
        op = _resolve_binary(op, default=binary.times)
        op = op.binaryop if isinstance(op, Monoid) else op
        out_dt = op.out_dtype(self.dtype, other.dtype)
        if other.nrows is None or other.ncols is None:
            raise ValueError("kronecker needs known dims on the right operand")
        a_df, b_df = self.df, other.df
        bn, bm = other.nrows, other.ncols
        build = lambda mask: matmul_plans.kronecker(  # noqa: E731
            a_df, b_df, op, self.dtype, other.dtype, bn, bm)
        nrows = None if self.nrows is None else self.nrows * bn
        ncols = None if self.ncols is None else self.ncols * bm
        return Expr("matrix", out_dt, build, nrows=nrows, ncols=ncols)

    # -- reductions (R2, R3) -------------------------------------------------------
    def reduce_rowwise(self, op=None) -> Expr:
        op = _resolve_reduce_op(op, self.dtype)
        out_dt = reduce_plans.out_dtype_of(op, self.dtype)
        df = self.df
        build = lambda mask: reduce_plans.reduce_rowwise(df, op, self.dtype)  # noqa: E731
        return Expr("vector", out_dt, build, size=self.nrows)

    def reduce_columnwise(self, op=None) -> Expr:
        op = _resolve_reduce_op(op, self.dtype)
        out_dt = reduce_plans.out_dtype_of(op, self.dtype)
        df = self.df
        build = lambda mask: reduce_plans.reduce_columnwise(df, op, self.dtype)  # noqa: E731
        return Expr("vector", out_dt, build, size=self.ncols)

    reduce_scalar = BaseType._reduce_scalar

    def diag(self, k: int = 0) -> "GrVector":
        """Extract the k-th diagonal as a Vector (reference matrix.py:314-373)."""
        df = (self._df.filter(F.col("j") - F.col("i") == k)
                      .select((F.col("i") - max(0, -k)).alias("i"), "v"))
        if self.nrows is None or self.ncols is None:
            size = None
        elif k >= 0:
            size = max(0, min(self.nrows, self.ncols - k))
        else:
            size = max(0, min(self.nrows + k, self.ncols))
        return GrVector(df, self.dtype, size)


class TransposedMatrix(GrMatrix):
    """Lazy transpose view — zero-cost column swap projection; no data
    movement until consumed (reference matrix.py:682-754). Mutation is
    blocked; ``.new()`` materializes a real Matrix."""

    def __init__(self, parent: GrMatrix):
        df = parent.df.selectExpr("j AS i", "i AS j", "v")
        super().__init__(df, parent.dtype, parent.ncols, parent.nrows)
        self._parent = parent

    @property
    def T(self) -> GrMatrix:
        return self._parent

    def new(self, dtype=None, *, mask=None, name=None) -> GrMatrix:
        return self.dup(dtype, mask=mask, name=name)

    def _set_df(self, df):
        raise TypeError("TransposedMatrix is a read-only view; use .new()")


# convenient aliases matching the grblas-facing names
Vector = GrVector
Matrix = GrMatrix
Scalar = GrScalar

# python-graphblas (2022+) spellings of the COO constructors/exports —
# the API the reference's grblas dependency later renamed to
GrVector.from_coo = GrVector.from_values
GrVector.to_coo = GrVector.to_values
GrMatrix.from_coo = GrMatrix.from_values
GrMatrix.to_coo = GrMatrix.to_values

_BY_RANK = (GrScalar, GrVector, GrMatrix)


# ===========================================================================
# shared helpers
# ===========================================================================

def _check_same_shape(a, b):
    for x, y in zip(a.shape, b.shape):
        if x is not None and y is not None and x != y:
            raise DimensionMismatch(f"shape mismatch: {a.shape} vs {b.shape}")


def _as_kind(x, kind: str):
    if isinstance(x, BaseType) and x.kind == kind:
        return x
    raise TypeError(f"Expected {kind.capitalize()}, got {type(x).__name__}")


def _out_expr(shape, dtype: GbType, build, **kw) -> Expr:
    """An Expr whose kind follows from its rank: scalar, vector, matrix."""
    cls = _BY_RANK[len(shape)]
    return Expr(cls.kind, dtype, build, **dict(zip(cls._dims, shape)), **kw)


def _at(axes) -> str:
    """key == index on every (key, int ResolvedIndex) axis, as SQL."""
    return _reduce(lambda a, b: f"({a} AND {b})",
                   [f"({k} = {rx.value})" for k, rx in axes])


def _resolve_binary(op, default):
    if op is None:
        return default
    if isinstance(op, str):
        op, _ = get_typed_op(op, FP64)
    if isinstance(op, (BinaryOp, Monoid)):
        return op
    raise TypeError(f"Expected BinaryOp or Monoid, got {op!r}")


def _resolve_semiring(op) -> Semiring:
    if op is None:
        return semiring.plus_times
    if isinstance(op, str):
        return getattr(semiring, op.split(".")[-1])
    if isinstance(op, Semiring):
        return op
    raise TypeError(f"Expected Semiring, got {op!r}")


def _resolve_reduce_op(op, dtype):
    if op is None:
        return monoid.lor if dtype.is_bool else monoid.plus
    if isinstance(op, str):
        name = op.split(".")[-1]
        if name in monoid._registry:
            return monoid._registry[name]
        from .operators import _AGG

        if name in _AGG:
            return _AGG[name]
        raise ValueError(f"Unknown reduce op {op!r}")
    if isinstance(op, (Monoid, Aggregator)):
        return op
    if isinstance(op, BinaryOp) and op.name in monoid._registry:
        return monoid._registry[op.name]
    raise TypeError(f"reduce needs a Monoid or Aggregator, got {op!r}")


def _broadcastable(obj) -> bool:
    n = obj._nvals_cache
    if n is not None:
        return n <= _BROADCAST_NVALS_LIMIT
    if obj.kind == "vector" and obj.size is not None:
        return obj.size <= _BROADCAST_NVALS_LIMIT
    if obj.kind == "matrix" and obj.nrows is not None and obj.ncols is not None:
        return False  # unknown density: do not risk broadcasting a matrix
    return False


def _matmul(a, b, op, mismatch: str) -> Expr:
    """a (+).(x) b over a's last axis and b's first: the body of mxm, mxv
    and vxm. The right side is broadcast when it is small, else the left;
    a matrix facing a vector never is (the vector is the small side of a
    frontier step)."""
    op = _resolve_semiring(op)
    n, m = a.shape[-1], b.shape[0]
    if None not in (n, m) and n != m:
        raise DimensionMismatch(mismatch.format(n, m))
    rank_a, rank_b = len(a._key_cols), len(b._key_cols)
    hint_b = rank_b <= rank_a and _broadcastable(b)
    hint_a = rank_a <= rank_b and not hint_b and _broadcastable(a)
    out_dt = op.out_dtype(a.dtype, b.dtype)
    args = (a.df, b.df, a._key_cols, b._key_cols, op, a.dtype, b.dtype)
    build = lambda mask: matmul_plans.contract(  # noqa: E731
        *args, mask=mask, broadcast_a=hint_a, broadcast_b=hint_b)
    return _out_expr(a.shape[:-1] + b.shape[1:], out_dt, build, pushdown=True)


def _apply(parent, op, right, left) -> Expr:
    """apply(unary) / apply(binary, right=s) / apply(binary, left=s)
    (reference vector.py:430-442, matrix.py:466-478)."""
    if isinstance(op, str):
        op, _ = get_typed_op(op, parent.dtype)
    if isinstance(op, Monoid):
        op = op.binaryop
    keys = parent._key_cols
    df = parent.df
    if right is None and left is None:
        if isinstance(op, BinaryOp):
            raise TypeError("binary op apply needs left= or right= scalar")
        out_dt = op.out_dtype(parent.dtype)
        build = lambda mask: ewise_plans.apply_unary(df, keys, op, out_dt,  # noqa: E731
                                                     parent.dtype)
        return _out_expr(parent.shape, out_dt, build)
    if not isinstance(op, BinaryOp):
        raise TypeError("unary op apply does not take left=/right=")
    if right is not None and left is not None:
        raise TypeError("apply takes only one of left=/right=")
    scalar = right if right is not None else left
    on_left = left is not None
    if isinstance(scalar, GrScalar):
        s_dt = scalar.dtype
        kw = {"scalar_df": scalar.df}
    else:
        s_dt = lookup_dtype(type(scalar))
        kw = {"scalar_lit": scalar}
    out_dt = (op.out_dtype(s_dt, parent.dtype) if on_left
              else op.out_dtype(parent.dtype, s_dt))
    build = lambda mask: ewise_plans.apply_bound(df, keys, op, out_dt,  # noqa: E731
                                                 scalar_on_left=on_left, **kw)
    return _out_expr(parent.shape, out_dt, build)


def _scatter(df: DataFrame, axes, cols: list[str], dedup: bool = True):
    """``df`` scattered through every (key_col, ResolvedIndex, size) of
    ``axes`` to target coordinates, with columns ``cols``."""
    for col, rx, _size in axes:
        df = assign_plans.axis_scatter(df, col, rx, dedup)
    return df if df.columns == cols else df.selectExpr(*cols)


def _generic_assign(parent, axes, obj, updater: Updater, subassign: bool):
    """Shared assign/subassign pipeline (SURVEY section 2.6 A3-A5).

    axes: list of (key_col, ResolvedIndex, axis_size). The object's
    coordinates (positions in the extracted region) are translated to
    target coordinates, then merged through the descriptor pipeline with
    the addressed region scoping replace/deletion correctly."""
    dtype = parent.dtype
    keys = parent._key_cols
    int_axes = [a for a in axes if a[1].kind == "int"]
    open_axes = [a for a in axes if a[1].kind != "int"]
    # open axes are rewritten to targets, then int axes prepended
    scatter_axes = open_axes + int_axes

    # ---- build the new-values DataFrame in target coordinates ----
    if isinstance(obj, AmbiguousAssignOrExtract):
        obj = obj._extract_expr()
    if isinstance(obj, Expr):
        obj = obj.new()
    if isinstance(obj, GrScalar):
        if obj.is_empty:
            raise EmptyObject("cannot assign an empty scalar")
        obj = obj.value
    mask_t = resolve_mask(updater.mask)
    if isinstance(obj, BaseType):
        expected = tuple(a[1].out_size for a in open_axes)
        if len(expected) != len(obj.shape):
            raise DimensionMismatch(
                f"assign: object rank {len(obj.shape)} != region rank "
                f"{len(expected)}")
        for want, got in zip(expected, obj.shape):
            if want is not None and got is not None and want != got:
                raise DimensionMismatch(
                    f"assign: object shape {obj.shape} != region shape {expected}")
        new_df = obj.df
        if obj.dtype != dtype:
            new_df = new_df.selectExpr(*obj._key_cols, cast_v(dtype))
        # object axis columns are positions: vector obj -> 'i'; matrix -> i,j
        if len(open_axes) == 1 and len(axes) == 2:
            # vector assigned into a row/col band: object coord maps to the
            # open axis; rename to that axis name first
            open_col = open_axes[0][0]
            if open_col != "i":
                new_df = new_df.withColumnRenamed("i", open_col)
        new_df = _scatter(new_df, scatter_axes, keys + ["v"])
    elif (mask_t is not None and not mask_t[1] and not subassign
            and len(mask_t[0].columns) == len(keys)):
        # scalar broadcast fill (A5) under a non-complemented
        # target-coords mask: the mask bounds the fill set exactly, so
        # build rows from the mask keys restricted to the addressed
        # region instead of densifying the axis. At scale a
        # range(size)-then-semi-join fill is a catastrophic densify;
        # this is also the only resolvable plan when the logical size is
        # unknown (from_dataframe wrappers).
        fill = mask_t[0]
        for col, rx, _size in axes:
            if rx.kind == "int":
                fill = fill.where(f"{col} = {rx.value}")
            elif rx.kind == "pred":
                fill = fill.where(rx.pred(col))
            elif rx.kind == "df":
                tgt = rx.last_wins().selectExpr(f"idx AS {col}")
                fill = fill.join(tgt, on=col, how="left_semi")
            # "all": no restriction
        new_df = fill.selectExpr(*keys, f"{sql_storage(obj, dtype)} AS v")
    else:
        # unmasked / complement-masked scalar fill densifies by design
        new_df = assign_plans.scalar_fill(
            get_session(), to_storage(obj, dtype), dtype,
            [(rx, size, col) for col, rx, size in axes])

    # ---- mask: translate coords for subassign / band assigns ----
    band_vector_mask = False
    if mask_t is not None:
        mk, comp = mask_t
        if subassign:
            # mask addresses the extracted sub-region (GxB_subassign,
            # reference expr.py:1446-1447): translate through index maps
            if len(mk.columns) == 1 and len(open_axes) == 1:
                open_col = open_axes[0][0]
                mk = mk.withColumnRenamed("i", open_col)
            mk = _scatter(mk, scatter_axes, keys, dedup=False)
        elif len(mk.columns) == 1 and len(axes) == 2:
            # GrB_Row/Col_assign: vector mask in TARGET coords of the open
            # axis, band-scoped (reference expr.py:1756-1765)
            band_vector_mask = True
            open_col = open_axes[0][0]
            if open_col != "i":
                mk = mk.withColumnRenamed("i", open_col)
            mk = _scatter(mk, int_axes, keys)
        mask_t = (mk, comp)

    scope = "region" if subassign else "target"
    # GrB_Row/Col_assign with a VECTOR mask: mask and replace are
    # band-scoped (the mask only covers the row/col, reference
    # tests/test_matrix.py:2201 semantics). A full MATRIX outer mask on a
    # row/col band is plain GrB_Matrix_assign — replace prunes mask
    # failures across the whole target.
    if band_vector_mask:
        scope = "region"

    updater._merge(new_df, mask_t, [(col, rx) for col, rx, _size in axes],
                   scope)


# ===========================================================================
# stacking / construction helpers (reference construction.py:7-33)
# ===========================================================================

def concat_vectors(vectors) -> GrVector:
    offset = 0
    parts = []
    dtype = vectors[0].dtype
    for v in vectors:
        if v.size is None:
            raise ValueError("concat_vectors requires known sizes")
        parts.append(v.df.select((F.col("i") + offset).alias("i"),
                                 F.col("v").cast(dtype.spark_type).alias("v")))
        offset += v.size
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return GrVector(df, dtype, offset)


def row_stack(items) -> GrMatrix:
    """Stack vectors (as rows) or matrices vertically."""
    parts = []
    offset = 0
    dtype = items[0].dtype
    ncols = items[0].size if isinstance(items[0], GrVector) else items[0].ncols
    for x in items:
        if isinstance(x, GrVector):
            parts.append(x.df.select(F.lit(offset).cast("bigint").alias("i"),
                                     F.col("i").alias("j"),
                                     F.col("v").cast(dtype.spark_type).alias("v")))
            offset += 1
        else:
            parts.append(x.df.select((F.col("i") + offset).alias("i"), "j",
                                     F.col("v").cast(dtype.spark_type).alias("v")))
            offset += x.nrows
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return GrMatrix(df, dtype, offset, ncols)


def column_stack(items) -> GrMatrix:
    parts = []
    offset = 0
    dtype = items[0].dtype
    nrows = items[0].size if isinstance(items[0], GrVector) else items[0].nrows
    for x in items:
        if isinstance(x, GrVector):
            parts.append(x.df.select(F.col("i"),
                                     F.lit(offset).cast("bigint").alias("j"),
                                     F.col("v").cast(dtype.spark_type).alias("v")))
            offset += 1
        else:
            parts.append(x.df.select("i", (F.col("j") + offset).alias("j"),
                                     F.col("v").cast(dtype.spark_type).alias("v")))
            offset += x.ncols
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return GrMatrix(df, dtype, nrows, offset)


def diag(x, k: int = 0):
    """ss.diag parity (reference ss/_core.py:15-57): Vector -> diagonal
    Matrix; Matrix -> k-diagonal Vector."""
    return x.diag(k)
