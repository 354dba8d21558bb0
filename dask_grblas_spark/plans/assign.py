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

from ..dtypes import GbType
from ..partitions import sized_range
from .extract import ResolvedIndex


def axis_scatter(df: DataFrame, pos_col: str, rx: ResolvedIndex,
                 out_col: str, dedup: bool = True) -> DataFrame:
    """Rewrite one axis of an assigned object from output positions to
    target coordinates. For 'int' axes the object lacks the axis entirely
    (dimension was dropped) — the constant coordinate is appended."""
    others = [c for c in df.columns if c != pos_col]
    if rx.kind == "int":
        return df.select(F.lit(rx.value).cast("bigint").alias(out_col), *df.columns)
    if rx.kind == "all":
        return df.select(F.col(pos_col).cast("bigint").alias(out_col), *others)
    if rx.kind == "pred":
        return df.select(rx.tgt_of(F.col(pos_col)).alias(out_col), *others)
    idx = rx.last_wins() if dedup else rx.df
    idx = idx.select(F.col("pos").alias("__p"), F.col("idx").alias("__tgt"))
    return (df.join(F.broadcast(idx), df[pos_col] == F.col("__p"))
              .select(F.col("__tgt").alias(out_col),
                      *[df[c] for c in others]))


def axis_targets(rx: ResolvedIndex, spark: SparkSession, size: int,
                 col: str) -> DataFrame:
    """All target coordinates addressed by one axis, as a DataFrame —
    used for scalar broadcast fill (A5). Full-axis fill densifies by
    construction (the reference warns on it, base.py:243-252)."""
    if rx.kind == "int":
        return sized_range(spark, rx.value, rx.value + 1) \
            .select(F.col("id").alias(col))
    if rx.kind == "all":
        if size is None:
            raise ValueError(
                "unmasked full-axis scalar fill needs a known logical size "
                "(from_dataframe wrappers carry none); set .size/.nrows/"
                ".ncols or supply a bounding mask")
        return sized_range(spark, 0, size).select(F.col("id").alias(col))
    if rx.kind == "pred":
        if rx.out_size is None:
            raise ValueError(
                "unbounded slice scalar fill needs a known logical size; "
                "set .size/.nrows/.ncols or supply a bounding mask")
        return (sized_range(spark, 0, rx.out_size)
                .select(rx.tgt_of(F.col("id")).alias(col)))
    return rx.last_wins().select(F.col("idx").alias(col))


def scalar_fill(spark: SparkSession, value, dtype: GbType,
                axes: list[tuple[ResolvedIndex, int, str]]) -> DataFrame:
    """Build (keys..., v=value) rows for every addressed position."""
    df = None
    for rx, size, col in axes:
        part = axis_targets(rx, spark, size, col)
        df = part if df is None else df.crossJoin(part)
    from ..dtypes import lit_storage
    return df.select(*[c for _, _, c in axes],
                     lit_storage(value, dtype).alias("v"))


def reduce_assign_build(rhs_df: DataFrame, rx: ResolvedIndex, dup_op,
                        dtype: GbType) -> DataFrame:
    """Scatter rhs through the index list combining duplicate targets with
    a monoid (or 'first'/'last' by position). Returns new-values DF keyed
    by target coordinate."""
    idx = rx.df.select(F.col("pos").alias("__p"), F.col("idx").alias("i_tgt"))
    joined = (rhs_df.join(F.broadcast(idx), rhs_df["i"] == F.col("__p"))
                    .select(F.col("i_tgt"), F.col("__p"), F.col("v")))
    if dup_op == "first":
        agg = F.min_by(F.col("v"), F.col("__p"))
    elif dup_op == "last":
        agg = F.max_by(F.col("v"), F.col("__p"))
    else:
        agg = dup_op.agg(F.col("v"), dtype)
    return (joined.groupBy("i_tgt").agg(agg.cast(dtype.spark_type).alias("v"))
                  .withColumnRenamed("i_tgt", "i"))
