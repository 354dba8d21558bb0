"""Row-count-to-partition-count sizing: the one rule every relation the
engine sizes itself uses (loop adjacencies and loop state, the derived-
relation cache in ``sources/tpch.py``, ``spark.range`` vertex frames and
axis fills).

A persisted or checkpointed relation keeps the partitioning it was
materialized with, and AQE cannot coalesce a leaf ``Range``, so a
25-row relation left at ``defaultParallelism`` splits pays one task
launch per near-empty split on every read. Sizing by row count avoids
that at the small end and bounds per-task state at the large end.

Imports nothing from the package, so ``plans``, ``sources`` and
``algorithms`` can all use it without an import cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ROWS_PER_PARTITION = 1_000_000
MIN_ROWS_PER_PARTITION = 65_536

__all__ = ["partitions_for_rows", "sized_range"]


def partitions_for_rows(rows: int, cores: int | None = None) -> int:
    """Partition count for a relation of ``rows`` rows on ``cores`` cores
    (default: the active session's ``defaultParallelism``).

    Three regimes: tiny relations collapse to 1 partition (a fixpoint
    loop runs dozens of stages, and near-empty task launches would
    dominate); mid-size ones fan out to every core as soon as each task
    still gets >= 64k rows (a 2M-edge graph on 32 cores must not run as
    2 tasks); huge ones get ~1M rows per partition whatever the core
    count, so per-task state stays bounded on a large cluster."""
    if cores is None:
        cores = SparkSession.active().sparkContext.defaultParallelism
    rows = max(0, int(rows))
    fill_cores = min(-(-rows // MIN_ROWS_PER_PARTITION), cores)
    return max(1, fill_cores, -(-rows // ROWS_PER_PARTITION))


def sized_range(spark: SparkSession, start: int, end: int) -> DataFrame:
    """``spark.range(start, end)`` split by ``partitions_for_rows``
    instead of into ``defaultParallelism`` splits."""
    rows = int(end) - int(start)
    cores = spark.sparkContext.defaultParallelism
    return spark.range(start, end, 1,
                       numPartitions=partitions_for_rows(rows, cores))
