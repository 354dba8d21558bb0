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
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..mask import check_mask_keys


def _join_cond(keys, left="l", right="r") -> Column:
    return _reduce(lambda a, b: a & b,
                   [F.col(f"{left}.{k}") == F.col(f"{right}.{k}") for k in keys])


def union_merge(a_df: DataFrame, b_df: DataFrame, keys: list[str],
                combine, value_col: str = "v",
                lift_l=None, lift_r=None) -> DataFrame:
    """Set-UNION merge on keys: both present -> combine(a, b); single
    present -> pass value through UNCHANGED (the ewise_add / accum
    semantics — NOT coalesce-to-zero; SURVEY.md section 7 'What's hard').

    lift_l / lift_r: optional Column transforms applied to SINGLE-present
    values when the pass-through storage differs from combine's output
    storage (real inputs + complex output, e.g. binary.cmplx) — a CASE
    WHEN cannot mix double and struct branches."""
    a = a_df.alias("l")
    b = b_df.alias("r")
    j = a.join(b, _join_cond(keys), "full_outer")
    lv, rv = F.col(f"l.{value_col}"), F.col(f"r.{value_col}")
    out_keys = [F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k) for k in keys]
    val = (F.when(lv.isNotNull() & rv.isNotNull(), combine(lv, rv))
            .when(lv.isNotNull(), lift_l(lv) if lift_l is not None else lv)
            .otherwise(lift_r(rv) if lift_r is not None else rv))
    return j.select(*out_keys, val.alias(value_col))


def apply_mask(df: DataFrame, keys: list[str], mask_keys: DataFrame,
               complement: bool) -> DataFrame:
    """Keep the rows passing the mask."""
    check_mask_keys(mask_keys.columns, keys)
    return df.join(mask_keys, on=keys,
                   how="left_anti" if complement else "left_semi")


def _exists(key_set: DataFrame, keys: list[str]) -> Column:
    """Is the `__old` row's key in `key_set`, as a correlated EXISTS.
    Spark plans it as a semi, anti or existence join, none of which
    repeats an outer row, so a key set with repeated keys is fine."""
    ks = key_set.alias("__ks")
    return ks.where(_reduce(lambda a, b: a & b,
                            [F.col(f"__ks.{k}") == F.col(f"__old.{k}").outer()
                             for k in keys])).exists()


def merge_into(old_df: DataFrame, new_df: DataFrame, keys: list[str], *,
               accum=None, mask=None, replace: bool = False,
               region=None, mask_scope: str = "target") -> DataFrame:
    """The descriptor merge (see module docstring).

    new_df must lie inside the region (the assign paths build it there).
    accum: callable (old_col, new_col) -> Column, already dtype-typed.
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

    inside = F.lit(True)
    for col, rx in region or []:
        if rx.kind == "int":
            inside = inside & (F.col(col) == rx.value)
        elif rx.kind == "df":
            # the distinct targets: the same last-wins map the scatter
            # joins (a LocalRelation for a literal list)
            ids = rx.last_wins().select(F.col("idx").alias(col))
            inside = inside & _exists(F.broadcast(ids), [col])
        else:  # 'all' / 'pred'
            inside = inside & rx.pred(F.col(col))
    passes = F.lit(True)
    if mask is not None:
        passes = _exists(mask[0], keys)
        if mask[1]:
            passes = ~passes

    # the old entries that stay: without accum, not where Z is taken; with
    # replace, not where the region fails the mask, and at GrB_assign
    # scope not where the mask fails anywhere
    if replace and mask_scope == "target":
        keep = passes & ~inside if accum is None else passes
    elif replace:
        keep = ~inside if accum is None else ~inside | passes
    else:
        keep = ~(inside & passes) if accum is None else None
    old = old_df if keep is None else old_df.alias("__old").filter(keep)
    if accum is None:
        return new_df.select(*keys, "v").unionByName(old.select(*keys, "v"))
    return union_merge(old, new_df, keys, accum)
