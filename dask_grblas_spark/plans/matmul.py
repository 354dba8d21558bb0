"""Semiring matrix-multiply plans: one contraction for mxm / mxv / vxm
(+ kronecker).

Reference semantics: C[i,k] = MONOID_j mult(A[i,j], B[j,k]) over stored
pairs only (/root/reference/dask_grblas/expr.py:86-164, 1961-2008). Spark
plan: equi-join on the contraction key + hash aggregate with the monoid's
aggregate expression (GraphX's mrTriplets shape: one keyed join, one
aggregate) — Catalyst gives partial (map-side) aggregation and
AQE picks broadcast vs shuffle join at runtime.

Mask pushdown (SURVEY.md section 4): a mask on the OUTPUT keys is applied
to the multiply pairs *before* the aggregation (semi/anti join on the
group keys). Catalyst will not invent this rewrite — done here by hand.
This both shrinks the shuffle and skips computing masked-out cells,
matching the reference's per-block masked matmul (expr.py:141-160).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dtypes import GbType
from ..operators import PositionalContext, Semiring
from .memo import per_gateway


def _maybe_broadcast(df: DataFrame, hint: bool) -> DataFrame:
    return F.broadcast(df) if hint else df


def _pushdown(pairs: DataFrame, keys: list[str], mask) -> DataFrame:
    """Mask pushdown below the aggregation. The broadcast decision is NOT
    made here: resolve_mask() already attached a broadcast hint iff the
    mask is provably small (core._BROADCAST_NVALS_LIMIT); a large/unknown
    mask joins as a plain shuffle semi-join — force-broadcasting a
    billion-key mask would be a 100x-scale driver OOM. The caller has
    checked that the mask's keys are the output's (``Expr.new``)."""
    if mask is None:
        return pairs
    mask_keys, complement = mask
    how = "left_anti" if complement else "left_semi"
    return pairs.join(mask_keys, on=keys, how=how)


@per_gateway
def _terms(sr: Semiring, a_dtype: GbType, b_dtype: GbType,
           a_keys: tuple[str, ...], b_keys: tuple[str, ...]):
    """The Columns of a contraction: (join condition, the pairs' select
    list, the output keys, their group-by Columns, the aggregate)."""
    mult_dtype = sr.binaryop.out_dtype(a_dtype, b_dtype)
    out_dtype = sr.monoid.out_dtype(mult_dtype, mult_dtype)
    ai, aj = F.col(f"A.{a_keys[0]}"), F.col(f"A.{a_keys[-1]}")
    bi, bj = F.col(f"B.{b_keys[0]}"), F.col(f"B.{b_keys[-1]}")
    ctx = PositionalContext(ai=ai, aj=aj, bi=bi, bj=bj)
    mult = sr.binaryop(F.col("A.v"), F.col("B.v"), mult_dtype, ctx)
    free = [ai][:len(a_keys) - 1] + [bj][:len(b_keys) - 1]
    keys = ["i", "j"][:len(free)]
    pairs = [c.alias(k) for c, k in zip(free, keys)] + [mult.alias("v")]
    return (aj == bi, pairs, keys, [F.col(k) for k in keys],
            sr.monoid.agg(F.col("v"), out_dtype).alias("v"))


def contract(a_df: DataFrame, b_df: DataFrame, a_keys: list[str],
             b_keys: list[str], sr: Semiring, a_dtype: GbType,
             b_dtype: GbType, mask=None, broadcast_a: bool = False,
             broadcast_b: bool = False) -> DataFrame:
    """C = A (+).(x) B joining A's last key to B's first: mxm (i, j)(i, j),
    mxv (i, j)(i) and vxm (i)(i, j). The output keys, named i then j, are
    A's other key and B's other key. Positional ops read each side's first
    and last key; a vector's one key is both. The hints force a broadcast
    of a side that is known to be small, like a frontier vector.

    The plan's expressions depend only on (semiring, dtypes, keys), so
    they are built once per JVM gateway (``_terms``): a loop that
    contracts every round makes no Column of its own, only the DataFrame
    operations of the plan."""
    cond, pairs, keys, group, agg = _terms(sr, a_dtype, b_dtype,
                                           tuple(a_keys), tuple(b_keys))
    a = _maybe_broadcast(a_df.alias("A"), broadcast_a)
    b = _maybe_broadcast(b_df.alias("B"), broadcast_b)
    joined = _pushdown(a.join(b, cond).select(*pairs), keys, mask)
    return joined.groupBy(*group).agg(agg)


def kronecker(a_df: DataFrame, b_df: DataFrame, op, a_dtype: GbType,
              b_dtype: GbType, b_nrows: int, b_ncols: int) -> DataFrame:
    """C[ia*bn + ib, ja*bm + jb] = op(A[ia,ja], B[ib,jb]).

    The reference DECLARES kronecker but cannot execute it (dispatch gap,
    /root/reference/dask_grblas/matrix.py:461-464, expr.py:278-279); we
    implement it for full parity — a crossJoin is natural in Spark."""
    out_dtype = op.out_dtype(a_dtype, b_dtype)
    a = a_df.alias("A")
    b = b_df.alias("B")
    val = op(F.col("A.v"), F.col("B.v"), out_dtype)
    return a.crossJoin(b).select(
        (F.col("A.i") * b_nrows + F.col("B.i")).alias("i"),
        (F.col("A.j") * b_ncols + F.col("B.j")).alias("j"),
        val.cast(out_dtype.spark_type).alias("v"))
