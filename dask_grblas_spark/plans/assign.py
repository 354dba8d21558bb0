"""Assign / subassign scatter plans.

Reference: Assigner.update /root/reference/dask_grblas/expr.py:1506-1788,
final merge expr.py:1013-1073, last-wins dedup expr.py:1463-1499
(SURVEY.md section 2.6). The Spark shape: translate the assigned object's
output-position coordinates to target coordinates through the (pos, idx)
index map (broadcast join / pure arithmetic for slices), then hand the
result to the ONE descriptor merge pipeline with the addressed region.

reduce_assign (A6): the reference builds an iso-valued CSC selection
matrix and multiplies (scatter-as-matmul, expr.py:652-776); in Spark the
same semantics is just groupBy(target).agg(dup_op) — no matmul trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dtypes import GbType, sql_storage
from ..partitions import sized_range
from .extract import ResolvedIndex
from .memo import join_on, per_gateway


def axis_scatter(df: DataFrame, col: str, rx: ResolvedIndex,
                 dedup: bool = True) -> DataFrame:
    """Rewrite axis ``col`` of an assigned object, in place, from output
    positions to target coordinates. For 'int' axes the object lacks the
    axis entirely (dimension was dropped): the constant coordinate is
    prepended."""
    cols = df.columns
    if rx.kind == "int":
        return df.selectExpr(f"CAST({rx.value} AS BIGINT) AS {col}", *cols)
    if rx.kind == "all":
        tgt = f"CAST({col} AS BIGINT)"
    elif rx.kind == "pred":
        tgt = rx.tgt_of(col)
    else:
        idx = rx.last_wins() if dedup else rx.df
        idx = idx.selectExpr("pos AS __p", "idx AS __tgt")
        df, tgt = df.join(F.broadcast(idx), join_on(col, "__p")), "__tgt"
    return df.selectExpr(*[f"{tgt} AS {c}" if c == col else c for c in cols])


def axis_targets(rx: ResolvedIndex, spark: SparkSession, size: int,
                 col: str) -> DataFrame:
    """All target coordinates addressed by one axis, as a DataFrame —
    used for scalar broadcast fill (A5). Full-axis fill densifies by
    construction (the reference warns on it, base.py:243-252)."""
    if rx.kind == "int":
        return sized_range(spark, rx.value, rx.value + 1) \
            .selectExpr(f"id AS {col}")
    if rx.kind == "all":
        if size is None:
            raise ValueError(
                "unmasked full-axis scalar fill needs a known logical size "
                "(from_dataframe wrappers carry none); set .size/.nrows/"
                ".ncols or supply a bounding mask")
        return sized_range(spark, 0, size).selectExpr(f"id AS {col}")
    if rx.kind == "pred":
        if rx.out_size is None:
            raise ValueError(
                "unbounded slice scalar fill needs a known logical size; "
                "set .size/.nrows/.ncols or supply a bounding mask")
        return (sized_range(spark, 0, rx.out_size)
                .selectExpr(f"{rx.tgt_of('id')} AS {col}"))
    return rx.last_wins().selectExpr(f"idx AS {col}")


def scalar_fill(spark: SparkSession, value, dtype: GbType,
                axes: list[tuple[ResolvedIndex, int, str]]) -> DataFrame:
    """Build (keys..., v=value) rows for every addressed position."""
    df = None
    for rx, size, col in axes:
        part = axis_targets(rx, spark, size, col)
        df = part if df is None else df.crossJoin(part)
    return df.selectExpr(*[c for _, _, c in axes],
                         f"{sql_storage(value, dtype)} AS v")


def reduce_assign_build(rhs_df: DataFrame, rx: ResolvedIndex, dup_op,
                        dtype: GbType) -> DataFrame:
    """Scatter rhs through the index list combining duplicate targets with
    a monoid (or 'first'/'last' by position). Returns new-values DF keyed
    by target coordinate."""
    idx = rx.df.selectExpr("pos AS __p", "idx AS i_tgt")
    joined = (rhs_df.join(F.broadcast(idx), join_on("i", "__p"))
                    .selectExpr("i_tgt", "__p", "v"))
    return (joined.groupBy("i_tgt").agg(_dup_value(dup_op, dtype))
                  .withColumnRenamed("i_tgt", "i"))


@per_gateway
def _dup_value(dup_op, dtype: GbType):
    """``v`` of the entries scattered to one target: the first or last by
    position, or their fold by the monoid ``dup_op``."""
    if dup_op == "first":
        agg = F.min_by(F.col("v"), F.col("__p"))
    elif dup_op == "last":
        agg = F.max_by(F.col("v"), F.col("__p"))
    else:
        agg = dup_op.agg(F.col("v"), dtype)
    return agg.cast(dtype.spark_type).alias("v")
