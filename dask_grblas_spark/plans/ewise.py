"""Element-wise plans: ewise_add (union), ewise_mult (intersection), apply.

Reference semantics: /root/reference/dask_grblas/vector.py:360-368,
matrix.py:439-447, exec kernels expr.py:1803-1841 (SURVEY.md section 2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dtypes import GbType, sql_storage
from ..operators import BinaryOp, PositionalContext, _cpx
from .memo import per_gateway
from .merge import keyed, union_case, union_merge


@per_gateway
def _add_value(op: BinaryOp, out_dtype: GbType, lift_l: bool,
               lift_r: bool):
    """``v`` of ewise_add, cast to ``out_dtype``. A real pass-through into
    a complex output is lifted to complex storage as (v, 0)."""
    def lift(c):
        return _cpx(out_dtype, c.cast("double"), F.lit(0.0))

    val = union_case(lambda lv, rv: op(lv, rv, out_dtype),
                     lift if lift_l else None, lift if lift_r else None)
    return val.cast(out_dtype.spark_type).alias("v")


def ewise_add(a_df: DataFrame, b_df: DataFrame, keys: list[str],
              op: BinaryOp, out_dtype: GbType,
              a_dtype: GbType | None = None,
              b_dtype: GbType | None = None) -> DataFrame:
    """UNION merge: both present -> op(a,b); single present -> value passes
    through the op UNUSED (must still cast to the unified output dtype).

    Real-input / complex-output ops (binary.cmplx): the single-present
    branch cannot `cast(double as struct)` — lift real pass-throughs to
    complex storage as (v, 0) instead."""
    if op.positional:
        return _ewise_positional(a_df, b_df, keys, op, out_dtype, how="full_outer")

    def lifted(dtype):
        return (out_dtype.is_complex and dtype is not None
                and not dtype.is_complex)

    return union_merge(a_df, b_df, keys,
                       _add_value(op, out_dtype, lifted(a_dtype),
                                  lifted(b_dtype)))


@per_gateway
def _mult_select(keys: tuple[str, ...], op: BinaryOp, out_dtype: GbType):
    val = op(F.col("l.v"), F.col("r.v"), out_dtype)
    return ([F.expr(f"l.{k} AS {k}") for k in keys]
            + [val.cast(out_dtype.spark_type).alias("v")])


def ewise_mult(a_df: DataFrame, b_df: DataFrame, keys: list[str],
               op: BinaryOp, out_dtype: GbType) -> DataFrame:
    """INTERSECTION merge: inner join on the entry keys."""
    if op.positional:
        return _ewise_positional(a_df, b_df, keys, op, out_dtype, how="inner")
    cond, _ = keyed(tuple(keys))
    return (a_df.alias("l").join(b_df.alias("r"), cond, "inner")
            .select(*_mult_select(tuple(keys), op, out_dtype)))


@per_gateway
def _positional_value(keys: tuple[str, ...], op: BinaryOp,
                      out_dtype: GbType):
    i_col = F.coalesce(F.col("l." + keys[0]), F.col("r." + keys[0]))
    j_col = (F.coalesce(F.col("l." + keys[1]), F.col("r." + keys[1]))
             if len(keys) > 1 else i_col)
    ctx = PositionalContext(ai=i_col, aj=j_col, bi=i_col, bj=j_col)
    val = op(F.col("l.v"), F.col("r.v"), out_dtype, ctx)
    return val.cast(out_dtype.spark_type).alias("v")


def _ewise_positional(a_df, b_df, keys, op, out_dtype, how):
    cond, out_keys = keyed(tuple(keys))
    return (a_df.alias("l").join(b_df.alias("r"), cond, how)
            .select(*out_keys, _positional_value(tuple(keys), op, out_dtype)))


def apply_unary(df: DataFrame, keys: list[str], op, out_dtype: GbType,
                in_dtype: GbType) -> DataFrame:
    if getattr(op, "positional", False):
        # positioni/positionj read the coordinate columns; on a vector the
        # single key serves as both axes (grblas semantics)
        from ..operators import PositionalContext

        ctx = PositionalContext(ai=F.col(keys[0]), aj=F.col(keys[-1]))
        val = op(F.col("v"), in_dtype, ctx)
    else:
        val = op(F.col("v"), in_dtype)
    return df.select(*keys, val.cast(out_dtype.spark_type).alias("v"))


def apply_bound(df: DataFrame, keys: list[str], op: BinaryOp, out_dtype: GbType,
                scalar_df: DataFrame | None = None, scalar_lit=None,
                scalar_on_left: bool = False) -> DataFrame:
    """apply(binary_op, left=/right=scalar). A *lazy* scalar operand stays a
    1-row DataFrame: broadcast crossJoin keeps the whole plan lazy
    (reference: bound lazy Scalar, vector.py:430-442)."""
    if scalar_df is not None:
        df = df.crossJoin(F.broadcast(scalar_df.select(F.col("v").alias("_s"))))
        s = F.col("_s")
    elif out_dtype.is_complex and not getattr(op, "real_inputs", False):
        s = F.expr(sql_storage(scalar_lit, out_dtype))
    else:
        # real_inputs ops (cmplx) take PLAIN real scalars even though the
        # output dtype is complex storage
        s = F.lit(scalar_lit)
    x, y = (s, F.col("v")) if scalar_on_left else (F.col("v"), s)
    if op.positional:
        i = F.col(keys[0])
        j = F.col(keys[1]) if len(keys) > 1 else i
        ctx = PositionalContext(ai=i, aj=j, bi=i, bj=j)
        val = op(x, y, out_dtype, ctx)
    else:
        val = op(x, y, out_dtype)
    return df.select(*keys, val.cast(out_dtype.spark_type).alias("v"))
