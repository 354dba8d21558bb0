"""Driver-side literals as Spark LocalRelations.

Every relation the engine builds from values it already holds on the
driver goes through `local_df`: the coordinates and values of
from_values/build, an explicit index list, a scalar, an empty object.
Its columns go numpy -> pyarrow.Table -> createDataFrame(table, schema).
Spark keeps an Arrow table as a LocalRelation whether or not the session
turns Arrow on, so the optimizer knows its size: it broadcasts it, folds
an empty one away, and runs no job to build it. A Python list of rows
instead becomes a LogicalRDD, which Spark cannot size and plans with
shuffles and jobs.

What stays local is Spark's own choice,
`spark.sql.execution.arrow.localRelationThreshold` (48 MB by default):
a 1M-row (pos, idx) int64 table is a LocalRelation, a 4M-row one falls
back to a LogicalRDD (measured on PySpark 4.1.2).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..dtypes import lookup_dtype, to_storage_array


def local_df(spark: SparkSession, schema: T.StructType, columns) -> DataFrame:
    """One column of values per schema field, each converted to the
    field's storage type by `to_storage_array`."""
    arrays = [to_storage_array(c, lookup_dtype(f.dataType))
              for c, f in zip(columns, schema.fields)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema.names),
                                 schema)
