"""GraphBLAS dtype registry mapped onto Spark SQL types.

Mirrors the reference's use of ``grblas.dtypes.lookup_dtype`` (see
/root/reference/dask_grblas/vector.py:7, matrix.py:8, utils.py:10-11):
BOOL, INT8/16/32/64, UINT8/16/32/64, FP32, FP64.

Spark has no unsigned integer types, so each UINT dtype is *stored* in the
next-wider signed Spark type (UINT8 -> ShortType, ..., UINT64 -> LongType
with documented wrap-around caveat) while the logical GraphBLAS dtype is
kept on the wrapper metadata so coercion rules stay faithful (SURVEY.md
section 1.2).

Spark also has no complex number type, so the SuiteSparse extension dtypes
FC32/FC64 (reference: grblas dtypes FC32/FC64 behind
``dtypes._supports_complex``) are *stored* as ``struct<re,im>`` of the
matching float width. Arithmetic on them is dispatched to complex-aware
Column builders in ``operators`` (a bounded op set — see
``operators._COMPLEX_BINARY`` / ``_COMPLEX_UNARY``); everything stays
JVM-side native expressions.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import types as T

__all__ = ["GbType", "lookup_dtype", "unify", "BOOL", "FP32", "FP64",
           "INT8", "INT16", "INT32", "INT64",
           "UINT8", "UINT16", "UINT32", "UINT64", "FC32", "FC64"]


class GbType:
    """A logical GraphBLAS dtype plus its physical Spark storage type."""

    __slots__ = ("name", "np_name", "spark_type", "is_bool", "is_float",
                 "is_signed", "is_complex")

    def __init__(self, name: str, np_name: str, spark_type: T.DataType):
        self.name = name
        self.np_name = np_name
        self.spark_type = spark_type
        self.is_bool = np_name == "bool"
        self.is_float = np_name in ("float32", "float64")
        self.is_complex = np_name.startswith("complex")
        self.is_signed = (np_name.startswith("int") or self.is_float
                          or self.is_complex)

    @property
    def spark_name(self) -> str:
        return self.spark_type.simpleString()

    def __repr__(self):  # pragma: no cover
        return f"GbType({self.name})"

    def __eq__(self, other):
        if isinstance(other, GbType):
            return self.name == other.name
        return NotImplemented

    def __hash__(self):
        return hash(self.name)


def cast_v(dtype: GbType) -> str:
    """``v`` cast to ``dtype``'s storage, as SQL for ``selectExpr``."""
    return f"CAST(v AS {dtype.spark_name}) AS v"


BOOL = GbType("BOOL", "bool", T.BooleanType())
INT8 = GbType("INT8", "int8", T.ByteType())
INT16 = GbType("INT16", "int16", T.ShortType())
INT32 = GbType("INT32", "int32", T.IntegerType())
INT64 = GbType("INT64", "int64", T.LongType())
# unsigned ints stored one signed size wider (UINT64 caveat documented above)
UINT8 = GbType("UINT8", "uint8", T.ShortType())
UINT16 = GbType("UINT16", "uint16", T.IntegerType())
UINT32 = GbType("UINT32", "uint32", T.LongType())
UINT64 = GbType("UINT64", "uint64", T.LongType())
FP32 = GbType("FP32", "float32", T.FloatType())
FP64 = GbType("FP64", "float64", T.DoubleType())


def _complex_struct(float_type: T.DataType) -> T.StructType:
    # fields stay nullable: computed struct columns are nullable in Spark,
    # and casting nullable -> NOT NULL struct fields is rejected
    return T.StructType([T.StructField("re", float_type, True),
                         T.StructField("im", float_type, True)])


FC32 = GbType("FC32", "complex64", _complex_struct(T.FloatType()))
FC64 = GbType("FC64", "complex128", _complex_struct(T.DoubleType()))

_REGISTRY = {
    t.name: t
    for t in (BOOL, INT8, INT16, INT32, INT64, UINT8, UINT16, UINT32, UINT64,
              FP32, FP64, FC32, FC64)
}
_NP_ALIASES = {
    "bool": BOOL, "bool_": BOOL,
    "int8": INT8, "int16": INT16, "int32": INT32, "int64": INT64, "int": INT64,
    "uint8": UINT8, "uint16": UINT16, "uint32": UINT32, "uint64": UINT64,
    "float32": FP32, "float64": FP64, "float": FP64, "double": FP64,
    "complex64": FC32, "complex128": FC64, "complex": FC64,
}
_SPARK_ALIASES = {
    "boolean": BOOL, "tinyint": INT8, "smallint": INT16, "int": INT32,
    "bigint": INT64, "float": FP32, "double": FP64,
    FC32.spark_type.simpleString(): FC32,
    FC64.spark_type.simpleString(): FC64,
}


def lookup_dtype(dtype) -> GbType:
    """Resolve a GbType from a name, numpy dtype, Spark type, or python type.

    Reference analogue: grblas.dtypes.lookup_dtype used throughout
    /root/reference/dask_grblas/{vector,matrix,scalar}.py.
    """
    if isinstance(dtype, GbType):
        return dtype
    if dtype is bool:
        return BOOL
    if dtype is int:
        return INT64
    if dtype is float:
        return FP64
    if dtype is complex:
        return FC64
    if isinstance(dtype, str):
        key = dtype.strip()
        if key.upper() in _REGISTRY:
            return _REGISTRY[key.upper()]
        if key.lower() in _NP_ALIASES:
            return _NP_ALIASES[key.lower()]
        if key.lower() in _SPARK_ALIASES:
            return _SPARK_ALIASES[key.lower()]
        raise ValueError(f"Unknown dtype: {dtype!r}")
    if isinstance(dtype, T.DataType):
        key = dtype.simpleString()
        if key in _SPARK_ALIASES:
            return _SPARK_ALIASES[key]
        raise ValueError(f"Unsupported Spark type for GraphBLAS data: {dtype}")
    try:
        np_dt = np.dtype(dtype)
    except TypeError:
        raise ValueError(f"Unknown dtype: {dtype!r}") from None
    if np_dt.name in _NP_ALIASES:
        return _NP_ALIASES[np_dt.name]
    raise ValueError(f"Unsupported numpy dtype: {np_dt}")


def unify(a: GbType, b: GbType) -> GbType:
    """Type-promotion for mixed-dtype ops (reference: grblas get_typed_op
    rules via numpy promotion; /root/reference/dask_grblas/base.py:172-176).
    """
    if a == b:
        return a
    promoted = np.promote_types(a.np_name, b.np_name)
    name = promoted.name
    if name not in _NP_ALIASES:
        # e.g. int64 x uint64 -> float64 under numpy; GraphBLAS picks FP64 too
        name = "float64"
    return _NP_ALIASES[name]


def infer_from_values(values) -> GbType:
    arr = np.asarray(values)
    if arr.dtype.kind == "O":
        raise ValueError("Cannot infer GraphBLAS dtype from object array")
    return lookup_dtype(arr.dtype)


def to_storage(v, dtype: GbType):
    """Python value -> the row value stored in the Spark column (complex
    becomes the (re, im) struct tuple)."""
    if dtype.is_complex:
        c = complex(*v) if isinstance(v, tuple) else complex(v)
        return (c.real, c.imag)
    if dtype.is_bool:
        return bool(v)
    if dtype.is_float:
        return float(v)
    return int(v)


def to_storage_array(values, dtype: GbType):
    """The column form of to_storage: values -> one Arrow array of the
    storage type. Arrow's safe cast keeps the checks the row path's
    schema verifier made: an integer out of range for the storage type
    raises (INT8 300, UINT64 2**63, where a numpy astype would wrap), and
    so does NaN or an infinity into an integer type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arr = np.asarray(values)
    kind, pa_type = arr.dtype.kind, to_arrow_type(dtype.spark_type)
    if (arr.ndim != 1 or kind not in "biufc"
            or (kind == "c" and not dtype.is_complex)):
        # objects, strings, (re, im) tuples, complex into a real type:
        # the row rule, value by value
        return pa.array([to_storage(v, dtype) for v in values], type=pa_type)
    if dtype.is_complex:
        c = arr.astype(dtype.np_name)
        return pa.StructArray.from_arrays([c.real, c.imag],
                                          fields=list(pa_type))
    if dtype.is_bool or dtype.is_float:
        arr = arr.astype(dtype.np_name)
    elif kind == "f":
        arr = np.trunc(arr)  # int() truncates toward zero
    return pa.array(arr, type=pa_type)


def from_storage(v, dtype: GbType):
    """Row value read back from Spark -> python value (struct -> complex)."""
    if v is not None and dtype.is_complex:
        return complex(v[0], v[1])
    return v


def sql_double(x: float) -> str:
    """``x`` as a SQL double: a literal when finite, so non-null, and a
    (nullable) cast for NaN and the infinities, which have none."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def sql_storage(value, dtype: GbType) -> str:
    """A literal of this dtype's storage, as SQL (complex -> a struct
    literal). Only used on paths that know the target dtype."""
    if dtype.is_complex:
        ft = "FLOAT" if dtype.name == "FC32" else "DOUBLE"
        re, im = (f"CAST({sql_double(x)} AS {ft})"
                  for x in to_storage(value, dtype))
        return f"named_struct('re', {re}, 'im', {im})"
    v = to_storage(value, dtype)
    lit = (sql_double(v) if dtype.is_float
           else str(v).lower() if dtype.is_bool else str(v))
    return f"CAST({lit} AS {dtype.spark_name})"


