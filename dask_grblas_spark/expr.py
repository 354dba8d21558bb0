"""Lazy expression layer: Expr (GbDelayed), Updater, Assigner,
AmbiguousAssignOrExtract.

Reference: GbDelayed /root/reference/dask_grblas/expr.py:26-416, Updater
expr.py:566-649, AmbiguousAssignOrExtract expr.py:1248-1460, Assigner
expr.py:1506-1788. Catalyst already gives us an unevaluated plan for free
(SURVEY.md section 1.1), so Expr here is a thin object carrying:

- eager output metadata (shape/dtype), validated at BUILD time like the
  reference's `_meta` checks (errors surface immediately, not at compute);
- a build(mask) callable producing the result DataFrame — matmul exprs
  accept the mask for pre-aggregation pushdown (SURVEY.md section 4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dtypes import GbType, cast_v, lookup_dtype
from .exceptions import DimensionMismatch
from .mask import Mask, check_mask_keys, resolve_mask
from .operators import BinaryOp, Monoid, get_typed_op
from .plans import extract as extract_plans
from .plans.merge import apply_mask, merge_into


def _scalar_merge(old_df, new_df, combine):
    """accum-merge for scalars (0-or-1-row frames): full outer on TRUE."""
    l = old_df.select(F.col("v").alias("_o"))
    r = new_df.select(F.col("v").alias("_n"))
    j = l.join(r, F.lit(True), "full_outer")
    lv, rv = F.col("_o"), F.col("_n")
    val = (F.when(lv.isNotNull() & rv.isNotNull(), combine(lv, rv))
            .when(lv.isNotNull(), lv).otherwise(rv))
    return j.select(val.alias("v")).filter(F.col("v").isNotNull())


class Expr:
    """An unevaluated GraphBLAS expression with eagerly-known output meta."""

    def __init__(self, kind: str, dtype: GbType, build, *, size=None,
                 nrows=None, ncols=None, pushdown: bool = False):
        self.kind = kind  # 'scalar' | 'vector' | 'matrix'
        self.dtype = dtype
        self._build = build
        self.size = size
        self.nrows = nrows
        self.ncols = ncols
        self.pushdown = pushdown

    @property
    def shape(self):
        if self.kind == "vector":
            return (self.size,)
        if self.kind == "matrix":
            return (self.nrows, self.ncols)
        return ()

    def build(self, mask=None):
        if self.pushdown:
            return self._build(mask)
        return self._build(None)

    def new(self, dtype=None, *, mask=None, name=None):
        from . import core

        out_dtype = lookup_dtype(dtype) if dtype is not None else self.dtype
        mask_t = resolve_mask(mask)
        keys = ["i", "j"][:len(self.shape)]
        if mask_t is not None and self.pushdown:
            # the mask joins below the aggregation (plans/matmul.py): its
            # keys are checked here, from the Mask, with no schema read
            check_mask_keys(mask.key_cols, keys)
        df = self.build(mask_t)
        if mask_t is not None and not self.pushdown and keys:
            df = apply_mask(df, keys, mask_t[0], mask_t[1])
        if out_dtype != self.dtype:
            df = df.selectExpr(*keys, cast_v(out_dtype))
        return core._BY_RANK[len(keys)](df, out_dtype, *self.shape, name=name)

    dup = new

    def __lshift__(self, other):  # pragma: no cover - exprs are not targets
        raise TypeError("Cannot assign into an expression; use obj << expr")


class _ReplaceSentinel:
    """The grblas ``replace`` singleton: passable positionally to
    ``obj(...)`` descriptors (reference test_resolving.py:83-86)."""

    def __bool__(self):
        return True

    def __repr__(self):
        return "replace"

    __str__ = __repr__


replace = _ReplaceSentinel()


class Updater:
    """Carries the output descriptor (mask, accum, replace, input_mask)
    created by ``obj(...)`` call syntax (reference base.py:141-177)."""

    def __init__(self, parent, mask=None, accum=None, replace=False,
                 input_mask=None):
        if mask is not None and not isinstance(mask, Mask):
            raise TypeError(f"Invalid mask: {mask!r}")
        if accum is not None:
            if isinstance(accum, str):
                accum, _ = get_typed_op(accum, parent.dtype)
            if isinstance(accum, Monoid):
                accum = accum.binaryop
            if not isinstance(accum, BinaryOp):
                raise TypeError(f"Invalid accum: {accum!r}")
        if replace and mask is None and input_mask is None:
            # grblas contract (reference test_resolving.py:71-80): replace
            # is a mask-scoped deletion directive; without a mask it would
            # silently wipe the target
            raise TypeError(
                "'replace' argument may only be True if a mask is provided")
        self.parent = parent
        self.mask = mask
        self.accum = accum
        self.replace = bool(replace)
        self.input_mask = input_mask

    # -- plumbing ----------------------------------------------------------
    def _merge(self, new_df, mask_t, region=None, mask_scope="target"):
        """parent(mask, accum, replace)[region] << new_df, with the mask
        already resolved to target coordinates (plans/merge.py)."""
        parent = self.parent
        parent._set_df(merge_into(parent.df, new_df, parent._key_cols,
                                  accum=self.accum, dtype=parent.dtype,
                                  mask=mask_t, replace=self.replace,
                                  region=region, mask_scope=mask_scope))

    def update(self, rhs):
        from . import core

        parent = self.parent
        if isinstance(rhs, AmbiguousAssignOrExtract):
            rhs = rhs._extract_expr(input_mask=self.input_mask)
        elif self.input_mask is not None:
            raise TypeError("input_mask is only valid when the right-hand "
                            "side is an extract expression v[index]")

        if isinstance(parent, core.GrScalar):
            return self._update_scalar(rhs)

        if isinstance(rhs, core.GrScalar) or (
                not isinstance(rhs, (Expr, core.BaseType))
                and isinstance(rhs, (bool, int, float, complex))):
            # Bare `M << s` (no mask, no accum) densifies nrows x ncols —
            # refuse like the reference (base.py:242-251): at scale an
            # accidental dense fill is a catastrophe. `M(M.S) << s` and the
            # explicit `M[:, :] = s` forms remain available.
            if (parent.kind == "matrix" and self.mask is None
                    and self.accum is None):
                raise TypeError(
                    "updating a Matrix with a scalar without a mask will "
                    "make the Matrix dense. Perhaps you meant:"
                    "\n\n    M(M.S) << s\n\n"
                    "If you do wish to make a dense matrix, be explicit:"
                    "\n\n    M[:, :] = s")
            # masked/accum scalar broadcast: w(mask) << s == w[:](mask) << s
            # (grblas semantics; reference test_vector.py test_assign_scalar_mask)
            full = (slice(None) if isinstance(parent, core.GrVector)
                    else (slice(None), slice(None)))
            return Assigner(self, parent._resolve_indices(full),
                            subassign=False).update(rhs)

        if isinstance(rhs, core.BaseType):
            rhs = rhs._as_expr()
        if not isinstance(rhs, Expr):
            raise TypeError(f"Cannot update from {rhs!r}")
        if rhs.shape != parent.shape:
            raise DimensionMismatch(
                f"output shape {parent.shape} != expression shape {rhs.shape}")

        mask_t = resolve_mask(self.mask)
        new_df = rhs.build(mask_t)
        if rhs.dtype != parent.dtype:
            new_df = new_df.selectExpr(*parent._key_cols, cast_v(parent.dtype))
        self._merge(new_df, mask_t)

    def _update_scalar(self, rhs):
        from . import core

        parent = self.parent
        if isinstance(rhs, Expr):
            new_df = rhs.build(None)
            src_dtype = rhs.dtype
        elif isinstance(rhs, core.GrScalar):
            new_df = rhs.df
            src_dtype = rhs.dtype
        else:  # python literal
            new_df = core._scalar_df_from_value(rhs, parent.dtype)
            src_dtype = parent.dtype
        if src_dtype != parent.dtype:
            new_df = new_df.select(F.col("v").cast(parent.dtype.spark_type).alias("v"))
        if self.accum is None:
            parent._set_df(new_df)
        else:
            dtype, op = parent.dtype, self.accum
            parent._set_df(_scalar_merge(
                parent.df, new_df,
                lambda o, n: op(o, n, dtype).cast(dtype.spark_type)))

    def __lshift__(self, rhs):
        self.update(rhs)

    def __getitem__(self, index):
        return Assigner(self, index, subassign=False)

    def __setitem__(self, index, obj):
        Assigner(self, index, subassign=False).update(obj)

    def __delitem__(self, index):
        # reference Updater.__delitem__ expr.py:585-593 (single element)
        self.parent.__delitem__(index)


class AmbiguousAssignOrExtract:
    """``v[index]`` — extract if read, (sub)assign if written.

    Reference: expr.py:1248-1460."""

    def __init__(self, parent, index):
        self.parent = parent
        self.index = index
        self.resolved = parent._resolve_indices(index)

    # -- extract side ------------------------------------------------------
    def _extract_expr(self, input_mask=None) -> Expr:
        return self.parent._extract_expr(self.resolved, input_mask=input_mask)

    def new(self, dtype=None, *, mask=None, input_mask=None, name=None):
        expr = self._extract_expr(input_mask=input_mask)
        return expr.new(dtype, mask=mask, name=name)

    @property
    def value(self):
        """Single-element extract convenience: v[3].value"""
        out = self.new()
        from . import core

        if isinstance(out, core.GrScalar):
            return out.value
        raise TypeError("`.value` is only available for single elements")

    # -- assign side -------------------------------------------------------
    def update(self, obj):
        Assigner(Updater(self.parent), self.resolved, subassign=True).update(obj)

    def __lshift__(self, obj):
        self.update(obj)

    def __call__(self, *args, mask=None, accum=None, replace=False):
        mask, accum, replace = _normalize_call_args(args, mask, accum, replace)
        upd = Updater(self.parent, mask=mask, accum=accum, replace=replace)
        return Assigner(upd, self.resolved, subassign=True)


class Assigner:
    """Executes ``target(mask, accum, replace)[index] << obj`` (GrB_assign,
    mask in target coords) or ``target[index](mask, ...) << obj``
    (GxB_subassign, mask in subregion coords). Reference split:
    expr.py:1446-1447, 1036-1071."""

    def __init__(self, updater: Updater, index, subassign: bool):
        self.updater = updater
        parent = updater.parent
        self.parent = parent
        is_pre_resolved = (isinstance(index, list) and index
                           and all(isinstance(r, extract_plans.ResolvedIndex)
                                   for r in index))
        self.resolved = (index if is_pre_resolved
                         else parent._resolve_indices(index))
        self.subassign = subassign

    def update(self, obj):
        self.parent._assign(self.resolved, obj, self.updater, self.subassign)

    def __lshift__(self, obj):
        self.update(obj)


def _normalize_call_args(args, mask, accum, replace_):
    """Positional mask/accum/replace normalization (reference
    base.py:141-177 accepts them in flexible positions, including the
    ``replace`` sentinel)."""
    for a in args:
        if isinstance(a, Mask):
            if mask is not None:
                raise TypeError("got multiple values for argument 'mask'")
            mask = a
        elif isinstance(a, (bool, _ReplaceSentinel)):
            replace_ = bool(a)
        elif a is not None:
            if accum is not None:
                raise TypeError("got multiple values for argument 'accum'")
            accum = a
    return mask, accum, replace_
