"""The four GraphBLAS mask kinds (reference: /root/reference/dask_grblas/
mask.py:4-66, produced by .S/.V properties at vector.py:220-226,
matrix.py:250-256).

A mask never materializes a dense boolean array: it is resolved to a
DataFrame of *passing keys* (structural: every stored entry; value: every
entry whose value is truthy) and a ``complement`` flag. Application is a
semi-join (pass) or anti-join (complement) — absence-of-row semantics make
complemented masks impossible to enumerate, so the flag travels with the
keys and flips the join type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Mask:
    complement = False
    structure = False
    value = False

    def __init__(self, parent):
        self.parent = parent  # GrVector or GrMatrix

    @property
    def key_cols(self):
        return self.parent._key_cols

    def keys_df(self) -> DataFrame:
        """DataFrame of keys passing the *base* (non-complemented) test."""
        df = self.parent.df
        if self.value:
            df = df.where(_truthy(self.parent.dtype))
        return df.selectExpr(*self.key_cols)

    def __invert__(self):
        cls = _COMPLEMENT_MAP[type(self)]
        return cls(self.parent)


def _truthy(dtype) -> str:
    """SQL: is a stored ``v`` of ``dtype`` nonzero (a complex value is
    nonzero when either part is)."""
    if dtype.is_bool:
        return "v"
    if dtype.is_complex:
        return "v.re != 0 OR v.im != 0"
    return "v != 0"


class StructuralMask(Mask):
    structure = True

    def __repr__(self):  # pragma: no cover
        return f"{self.parent!r}.S"


class ValueMask(Mask):
    value = True

    def __repr__(self):  # pragma: no cover
        return f"{self.parent!r}.V"


class ComplementedStructuralMask(Mask):
    structure = True
    complement = True


class ComplementedValueMask(Mask):
    value = True
    complement = True


_COMPLEMENT_MAP = {
    StructuralMask: ComplementedStructuralMask,
    ValueMask: ComplementedValueMask,
    ComplementedStructuralMask: StructuralMask,
    ComplementedValueMask: ValueMask,
}


def check_mask_keys(mask_cols: list[str], keys: list[str]):
    """A mask's key columns must be exactly the target's keys — a Matrix
    mask applied to a Vector output would otherwise semi-join on the row
    key alone and silently pass wrong rows (grblas raises; reference
    test_resolving.py:102-115)."""
    if set(mask_cols) != set(keys):
        want = "Vector" if len(keys) == 1 else "Matrix"
        raise TypeError(f"Mask object must be type {want}")


def resolve_mask(mask) -> tuple[DataFrame, bool] | None:
    """Normalize a Mask (or None) to (passing-keys DataFrame, complement).

    When the mask's parent is provably small (known nvals, or a vector
    whose dimension bounds it, under `_BROADCAST_NVALS_LIMIT`), the keys
    frame carries a broadcast hint so every downstream semi/anti join —
    matmul pushdown and output merge alike — skips the shuffle. A mask of
    unknown or large cardinality (e.g. a value mask over a billion-row
    matrix) is NOT hinted: it joins as a plain shuffle semi-join, which is
    the only safe plan at 100 TB."""
    if mask is None:
        return None
    if isinstance(mask, Mask):
        from .core import _broadcastable

        keys = mask.keys_df()
        if _broadcastable(mask.parent):
            keys = F.broadcast(keys)
        return keys, mask.complement
    raise TypeError(
        f"Invalid mask: {mask!r}. Use .S / .V / ~x.S / ~x.V of a Vector or Matrix")
