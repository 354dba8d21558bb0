"""Error types mirroring the GraphBLAS error surface the reference raises
(via grblas): DimensionMismatch, OutputNotEmpty, IndexOutOfBound, EmptyObject,
InvalidValue.
Reference: build() error cases /root/reference/dask_grblas/vector.py:448-504.
"""


class GrblasSparkException(Exception):
    pass


class DimensionMismatch(GrblasSparkException):
    pass


class OutputNotEmpty(GrblasSparkException):
    pass


class IndexOutOfBound(GrblasSparkException, IndexError):
    pass


class EmptyObject(GrblasSparkException):
    pass


class InvalidValue(GrblasSparkException, ValueError):
    """GraphBLAS 2.0 GrB_INVALID_VALUE: e.g. from_values/build given the
    same index twice without a dup_op."""


class MonoidScaleWarning(UserWarning):
    """A monoid was registered without a native Spark aggregate — its
    reductions fall back to collect_list folding (O(group) memory per
    output cell), which does not scale past small groups."""
