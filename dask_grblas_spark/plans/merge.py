"""The single descriptor merge pipeline: mask x accum x replace x region.

Every mutating op in the reference funnels through `Updater.update`
(/root/reference/dask_grblas/expr.py:566-649) into the masked/accum merge
at base.py:279-334, with the GrB_assign vs GxB_subassign split at
expr.py:1036-1071. This module is the Spark analogue — ONE pass over
the old object that implements:

    C(mask, accum, replace)[region] << new

GraphBLAS spec semantics implemented here:
  Z = accum ? (old UNION-merge new, combining with accum) : new
  inside region : result = Z where mask passes;
                  old kept where mask fails unless replace (then deleted)
  outside region: old kept, except GrB_assign-style replace deletes old
                  entries failing the mask anywhere in C (mask_scope
                  'target'); GxB_subassign prunes only inside the region
                  (mask_scope 'region').

The plan reads the old relation exactly once, so a chain of k updates
grows the Catalyst plan linearly in k:
  1. new entries failing the mask are dropped (one semi or anti join);
  2. one filter on old keeps the entries that survive. Its membership
     tests are correlated EXISTS subqueries on the mask keys and on a
     list region's distinct targets, which Spark plans as semi, anti or
     existence joins (broadcast when small, never repeating an old row);
     an int, slice or all region is a Column predicate;
  3. without accum the survivors and the masked new entries have
     disjoint keys, so the result is their union and old is never
     shuffled; with accum, one full outer join (GraphX's
     `outerJoinVertices` shape) combines the two where both are present.
No densification, and nothing is collected to the client.

Building the plan is driver time, paid on every update, so the merge
follows the build-once rule of `memo.py`: what varies per call (key
names, an int index, a slice) is named in SQL strings, and the Columns
that depend only on (keys, op, dtype) come from builders memoized per
JVM gateway (`keyed`, `_correlated`, `accum_value`). A call builds only
the predicates its branch reads: with accum and no replace, the old
object is read whole, so the region and mask tests are never built.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dtypes import GbType
from ..mask import check_mask_keys
from .memo import per_gateway


@per_gateway
def keyed(keys: tuple[str, ...]):
    """The ``l``/``r`` join condition on ``keys`` and the coalesced keys
    of a full outer join."""
    cond = F.expr(" AND ".join(f"l.{k} = r.{k}" for k in keys))
    return cond, [F.expr(f"coalesce(l.{k}, r.{k}) AS {k}") for k in keys]


def union_case(combine, lift_l=None, lift_r=None) -> Column:
    """The value of a set-UNION merge of ``l.v`` and ``r.v``: both present
    -> combine(l, r); one present -> its value passes through UNCHANGED
    (the ewise_add / accum semantics, NOT coalesce-to-zero; SURVEY.md
    section 7 'What's hard').

    lift_l / lift_r: optional Column transforms applied to SINGLE-present
    values when the pass-through storage differs from combine's output
    storage (real inputs + complex output, e.g. binary.cmplx): a CASE
    WHEN cannot mix double and struct branches. For a memoized builder
    only: every call makes Columns."""
    lv, rv = F.col("l.v"), F.col("r.v")
    return (F.when(lv.isNotNull() & rv.isNotNull(), combine(lv, rv))
            .when(lv.isNotNull(), lift_l(lv) if lift_l is not None else lv)
            .otherwise(lift_r(rv) if lift_r is not None else rv))


@per_gateway
def accum_value(op, dtype: GbType) -> Column:
    """``v`` of an accumulated update: old (+) new, cast to the target's
    dtype, where both are present."""
    return union_case(
        lambda old, new: op(old, new, dtype).cast(dtype.spark_type)).alias("v")


def union_merge(a_df: DataFrame, b_df: DataFrame, keys: list[str],
                value: Column) -> DataFrame:
    """Set-UNION merge on keys: one full outer join of ``a_df`` as ``l``
    and ``b_df`` as ``r``, selecting the coalesced keys and ``value``, a
    memoized Column over ``l.v`` and ``r.v`` named ``v`` (`union_case`)."""
    cond, out_keys = keyed(tuple(keys))
    return (a_df.alias("l").join(b_df.alias("r"), cond, "full_outer")
            .select(*out_keys, value))


def apply_mask(df: DataFrame, keys: list[str], mask_keys: DataFrame,
               complement: bool) -> DataFrame:
    """Keep the rows passing the mask."""
    check_mask_keys(mask_keys.columns, keys)
    return df.join(mask_keys, on=keys,
                   how="left_anti" if complement else "left_semi")


@per_gateway
def _correlated(keys: tuple[str, ...]) -> Column:
    return _reduce(lambda a, b: a & b,
                   [F.col(f"__ks.{k}") == F.col(f"__old.{k}").outer()
                    for k in keys])


@per_gateway
def _true() -> Column:
    return F.lit(True)


def _exists(key_set: DataFrame, keys: list[str]) -> Column:
    """Is the `__old` row's key in `key_set`, as a correlated EXISTS.
    Spark plans it as a semi, anti or existence join, none of which
    repeats an outer row, so a key set with repeated keys is fine."""
    return key_set.alias("__ks").where(_correlated(tuple(keys))).exists()


def _inside(region) -> Column:
    """Is the `__old` row inside the region."""
    inside = _true()
    for col, rx in region or []:
        if rx.kind == "int":
            inside = inside & F.expr(f"{col} = {rx.value}")
        elif rx.kind == "df":
            # the distinct targets: the same last-wins map the scatter
            # joins (a LocalRelation for a literal list)
            ids = rx.last_wins().selectExpr(f"idx AS {col}")
            inside = inside & _exists(F.broadcast(ids), [col])
        else:  # 'all' / 'pred'
            inside = inside & F.expr(rx.pred(col))
    return inside


def _passes(mask, keys: list[str]) -> Column:
    """Does the `__old` row pass the mask."""
    if mask is None:
        return _true()
    passes = _exists(mask[0], keys)
    return ~passes if mask[1] else passes


def merge_into(old_df: DataFrame, new_df: DataFrame, keys: list[str], *,
               accum=None, dtype: GbType | None = None, mask=None,
               replace: bool = False, region=None,
               mask_scope: str = "target") -> DataFrame:
    """The descriptor merge (see module docstring).

    new_df must lie inside the region (the assign paths build it there).
    accum: a BinaryOp applied as accum(old, new) in the target's
    ``dtype``, or None.
    mask : (mask_keys_df, complement) in TARGET coordinates, or None.
    region: None (whole object) or [(key_col, ResolvedIndex)], one per
    restricted axis. mask_scope: 'target' (GrB_assign / whole-object
    update) or 'region' (GxB_subassign).
    """
    if mask is not None:
        # a new entry failing the mask never wins, accum or not
        new_df = apply_mask(new_df, keys, *mask)
    if region is None and accum is None and (mask is None or replace):
        # nothing of the old object survives: no need to read it
        return new_df

    # the old entries that stay: without accum, not where Z is taken; with
    # replace, not where the region fails the mask, and at GrB_assign
    # scope not where the mask fails anywhere
    if replace and mask_scope == "target":
        keep = _passes(mask, keys)
        if accum is None:
            keep = keep & ~_inside(region)
    elif replace:
        keep = ~_inside(region)
        if accum is not None:
            keep = keep | _passes(mask, keys)
    elif accum is None:
        keep = ~(_inside(region) & _passes(mask, keys))
    else:
        keep = None
    old = old_df if keep is None else old_df.alias("__old").filter(keep)
    if accum is None:
        return (new_df.selectExpr(*keys, "v")
                .unionByName(old.selectExpr(*keys, "v")))
    return union_merge(old, new_df, keys, accum_value(accum, dtype))
