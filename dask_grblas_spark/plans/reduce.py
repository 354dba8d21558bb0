"""Reduction plans: monoid folds and composite Aggregators.

Reference: /root/reference/dask_grblas/expr.py:166-229, kernels 1844-1932
(SURVEY.md section 2.4). Catalyst performs partial (map-side) + final
aggregation automatically — the reference's hand-built
partial-per-chunk/ewise-combine tree is exactly what groupBy already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dtypes import GbType
from ..operators import Aggregator, Monoid
from .memo import per_gateway


def _agg_expr(op, vcol, dtype: GbType, icol=None):
    if isinstance(op, Aggregator):
        return op.agg(vcol, dtype, icol)
    if isinstance(op, Monoid):
        return op.agg(vcol, dtype)
    raise TypeError(f"reduce needs a Monoid or Aggregator, got {op!r}")


def out_dtype_of(op, dtype: GbType) -> GbType:
    if isinstance(op, Aggregator):
        return op.out_dtype(dtype)
    return op.out_dtype(dtype, dtype)


@per_gateway
def _fold(op, dtype: GbType, index: str | None):
    """The aggregate ``v``: the fold of ``v`` by ``op``, cast to its output
    dtype. An Aggregator that needs the index reads column ``index``."""
    out_dt = out_dtype_of(op, dtype)
    icol = F.col(index) if index else None
    return (_agg_expr(op, F.col("v"), out_dt, icol)
            .cast(out_dt.spark_type).alias("v"))


@per_gateway
def _by(key: str):
    return F.expr(key)


def reduce_scalar(df: DataFrame, op, dtype: GbType, keys: list[str]) -> DataFrame:
    """Fold all stored values -> 0-or-1-row scalar DataFrame. An empty
    input must give an EMPTY scalar, not the monoid identity (reference:
    empty ⇒ empty Scalar, SURVEY.md R1) — plain .agg() on an empty frame
    yields one NULL row, so filter it out."""
    out = df.agg(_fold(op, dtype, keys[0] if keys else None))
    return out.where("v IS NOT NULL")


def reduce_rowwise(df: DataFrame, op, dtype: GbType) -> DataFrame:
    return df.groupBy(_by("i")).agg(_fold(op, dtype, "j"))


def reduce_columnwise(df: DataFrame, op, dtype: GbType) -> DataFrame:
    return (df.groupBy(_by("j")).agg(_fold(op, dtype, "i"))
              .withColumnRenamed("j", "i"))
