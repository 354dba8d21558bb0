"""dask_grblas_spark — a PySpark-native GraphBLAS-capability engine.

A from-scratch engine with the query and data-processing capabilities of
metagraph-dev/dask-grblas (reference, read-only at /root/reference), built
Spark-first: sparse Scalar/Vector/Matrix as COO DataFrames, GraphBLAS
operators compiled to Catalyst plans (joins/aggregations with semiring
expressions), masks as semi/anti joins, iterative graph algorithms as
Pregel-style DataFrame loops with checkpointing.

    from dask_grblas_spark import Matrix, Vector, semiring, monoid, binary
    A = Matrix.from_values([0, 1], [1, 2], [1.0, 2.0])
    w = A.mxv(v, semiring.min_plus).new()
"""

from .core import (GrMatrix, GrScalar, GrVector, Matrix, Scalar,
                   TransposedMatrix, Vector, column_stack, concat_vectors,
                   diag, get_session, row_stack)
from .dtypes import lookup_dtype
from .exceptions import (DimensionMismatch, EmptyObject, GrblasSparkException,
                         IndexOutOfBound, InvalidValue, OutputNotEmpty)
from .expr import replace
from .mask import (ComplementedStructuralMask, ComplementedValueMask,
                   StructuralMask, ValueMask)
from .operators import (agg, binary, from_string, get_semiring,
                        get_typed_op, monoid, register_binary,
                        register_monoid, register_semiring, register_unary,
                        semiring, unary)

__version__ = "0.1.0"

__all__ = [
    "Matrix", "Vector", "Scalar", "GrMatrix", "GrVector", "GrScalar",
    "TransposedMatrix", "concat_vectors", "row_stack", "column_stack",
    "diag", "get_session", "lookup_dtype",
    "unary", "binary", "monoid", "semiring", "agg", "get_semiring",
    "get_typed_op", "from_string", "register_unary", "register_binary",
    "register_monoid", "register_semiring",
    "StructuralMask", "ValueMask", "ComplementedStructuralMask",
    "ComplementedValueMask", "replace",
    "GrblasSparkException", "DimensionMismatch", "OutputNotEmpty",
    "IndexOutOfBound", "EmptyObject", "InvalidValue",
]
