"""The row-count-to-partition-count rule (pure arithmetic, no session)."""

import pytest

from dask_grblas_spark.partitions import partitions_for_rows


@pytest.mark.parametrize("rows, cores, expected", [
    (25, 4, 1),                 # tiny: one partition whatever the cores
    (25, 32, 1),
    (2_000_000, 4, 4),          # mid-size: fill the cores...
    (2_000_000, 32, 31),        # ...while each task keeps >= 64k rows
    (10 ** 10, 4, 10_000),      # huge: ~1M rows per partition,
    (10 ** 10, 32, 10_000),     # independent of the core count
])
def test_partitions_for_rows(rows, cores, expected):
    assert partitions_for_rows(rows, cores) == expected


def test_partitions_for_rows_empty_relation():
    assert partitions_for_rows(0, 8) == 1
