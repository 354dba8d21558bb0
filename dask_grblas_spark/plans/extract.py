"""Extract (gather/slicing) plans + index resolution.

Reference: IndexerResolver /root/reference/dask_grblas/expr.py:422-563 and
the extract pipeline expr.py:1265-1444 (SURVEY.md section 2.5). Index forms:
int (incl. negative), list (duplicates allowed -> fan-out), slice (any
step), numpy array, or a distributed (pos, idx) DataFrame.

Spark mapping: a list/array index is resolved on the driver to an int64
array and becomes a small (pos, idx) LocalRelation (`local.local_df`), so
extraction is one broadcast equi-join and builds its index with no job;
an assign's last-wins dedup of such a list is numpy on the driver too
(`last_wins_pairs`). Only a DataFrame index keeps the window
(`dedup_last_wins`). A slice needs NO join at all: range predicate +
reindex arithmetic, fully pushed down to the scan. Both are SQL strings
(`ResolvedIndex.pred`, `pos_of`, `tgt_of` map a column name to SQL), so
a gather or scatter builds no Column of its own (`memo.py`). The
reference's 'reorder fragments to index order' stage (expr.py:1199-1245)
has no physical analogue — the pos column IS the output coordinate.
"""

from __future__ import annotations

from functools import reduce as _reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import IndexOutOfBound
from .local import local_df
from .memo import join_on

_POS_IDX = T.StructType([T.StructField("pos", T.LongType(), False),
                         T.StructField("idx", T.LongType(), False)])


def _exact_div(num: str, den: int) -> str:
    """Integer-exact division of a LongType column by a literal (the
    callers guarantee num % den == 0). Plain `/` is double division,
    which rounds for |num| > 2^53 and silently corrupts positions at the
    extreme index range; decimal(38,0) arithmetic stays exact over the
    full int64 domain."""
    return (f"CAST((CAST({num} AS DECIMAL(38,0)) / "
            f"CAST({den} AS DECIMAL(38,0))) AS BIGINT)")


class ResolvedIndex:
    """Normalized single-axis index.

    kind: 'int' | 'all' | 'pred' (slice) | 'df' (explicit list)
    """

    __slots__ = ("kind", "out_size", "value", "pred", "pos_of", "tgt_of",
                 "df", "arr", "_last_wins")

    def __init__(self, kind, out_size=None, value=None, pred=None,
                 pos_of=None, tgt_of=None, df=None, arr=None):
        self.kind = kind
        self.out_size = out_size    # logical size of the extracted axis
        self.value = value          # for 'int'
        # column name -> SQL, for 'all' and 'pred':
        self.pred = pred            # membership predicate
        self.pos_of = pos_of        # target index -> output pos
        self.tgt_of = tgt_of        # output pos -> target index
        self.df = df                # (pos, idx) DataFrame for 'df'
        self.arr = arr              # the int64 targets of a literal list
        self._last_wins = None

    def last_wins(self) -> DataFrame:
        """The (pos, idx) map of a 'df' index with one row per target, the
        last position winning: the assign semantics. A literal list is
        resolved in numpy on the driver (with no repeated target it is its
        own map); a DataFrame index by a window. Built once per index."""
        if self._last_wins is None:
            if self.arr is None:
                self._last_wins = dedup_last_wins(self.df)
            elif np.unique(self.arr).size == self.arr.size:
                self._last_wins = self.df
            else:
                self._last_wins = local_df(self.df.sparkSession, _POS_IDX,
                                           last_wins_pairs(self.arr))
        return self._last_wins


_ALL = dict(pred=lambda c: "true", pos_of=lambda c: c, tgt_of=lambda p: p)


def _slice(start: int, stop: int | None, step: int,
           out_size: int | None) -> ResolvedIndex:
    """The 'pred' index of the positions start, start + step, ... short of
    stop (no bound when stop is None)."""
    if step > 0:
        terms = [f"({{c}} >= {start})"]
        if stop is not None:
            terms.append(f"({{c}} < {stop})")
        offset, den = f"({{c}} - {start})", step
    else:
        terms = [f"({{c}} <= {start})", f"({{c}} > {stop})"]
        offset, den = f"({start} - {{c}})", -step
    terms.append(f"(({offset} % {den}) = 0)")
    pred = _reduce(lambda a, b: f"({a} AND {b})", terms)
    return ResolvedIndex(
        "pred", out_size=out_size, pred=lambda c: pred.format(c=c),
        pos_of=lambda c: _exact_div(offset.format(c=c), den),
        tgt_of=lambda p: f"CAST((({p} * {step}) + {start}) AS BIGINT)")


def resolve_index(idx, size: int | None, spark: SparkSession) -> ResolvedIndex:
    """size may be None (from_dataframe wrappers carry no logical size):
    bounds checks are skipped and negative/reversed indexing — which needs
    a size to resolve — is rejected."""
    if isinstance(idx, (int, np.integer)):
        i = int(idx)
        if size is None:
            if i < 0:
                raise IndexOutOfBound("negative index requires a known size")
            return ResolvedIndex("int", value=i)
        if i < 0:
            i += size
        if not (0 <= i < size):
            raise IndexOutOfBound(f"index {idx} out of bounds for size {size}")
        return ResolvedIndex("int", value=i)
    if isinstance(idx, slice):
        if size is None:
            start, stop, step = idx.start, idx.stop, idx.step
            step = 1 if step is None else step
            start = 0 if start is None else start
            if step <= 0 or start < 0 or (stop is not None and stop < 0):
                raise IndexOutOfBound(
                    "negative or reversed slice requires a known size")
            if stop is None:
                if start == 0 and step == 1:
                    return ResolvedIndex("all", out_size=None, **_ALL)
                return _slice(start, None, step, None)
            return _slice(start, stop, step, len(range(start, stop, step)))
        start, stop, step = idx.indices(size)
        if start == 0 and stop == size and step == 1:
            return ResolvedIndex("all", out_size=size, **_ALL)
        return _slice(start, stop, step, len(range(start, stop, step)))
    if isinstance(idx, DataFrame):
        cols = idx.columns
        if cols != ["pos", "idx"]:
            idx = idx.selectExpr(f"`{cols[0]}` AS pos", f"`{cols[1]}` AS idx")
        return ResolvedIndex("df", out_size=None, df=idx)
    arr = np.asarray(idx)
    if arr.ndim != 1 or arr.dtype.kind not in "iu":
        raise TypeError(f"Invalid index: {idx!r}")
    if size is None:
        # unknown logical size (from_dataframe wrapper): no bounds check;
        # negative indices need a known size to resolve
        if arr.size and arr.min() < 0:
            raise IndexOutOfBound("negative index requires a known size")
        # a uint64 index past the int64 coordinate range would wrap
        # negative in the cast below
        if arr.size and arr.max() > np.iinfo(np.int64).max:
            raise IndexOutOfBound(f"index {arr.max()} beyond the int64 "
                                  "coordinate range")
        arr = arr.astype("int64")
    else:
        arr = np.where(arr < 0, arr + size, arr).astype("int64")
        if arr.size and (arr.min() < 0 or arr.max() >= size):
            raise IndexOutOfBound(f"index out of bounds for size {size}")
    df = local_df(spark, _POS_IDX, [np.arange(arr.size), arr])
    return ResolvedIndex("df", out_size=int(arr.size), df=df, arr=arr)


def axis_gather(df: DataFrame, axis_col: str, rx: ResolvedIndex,
                pos_alias: str) -> DataFrame:
    """Apply one non-int axis index for EXTRACT: rows filtered to the
    selection and the axis coordinate rewritten to the output position."""
    others = [c for c in df.columns if c != axis_col]
    if rx.kind == "all":
        return df.selectExpr(f"{axis_col} AS {pos_alias}", *others)
    if rx.kind == "pred":
        return (df.where(rx.pred(axis_col))
                  .selectExpr(f"{rx.pos_of(axis_col)} AS {pos_alias}",
                              *others))
    # 'df': equi-join; duplicate indices fan out naturally (spec behavior)
    idx = rx.df.selectExpr("pos AS __pos", "idx AS __t")
    return (df.join(F.broadcast(idx), join_on(axis_col, "__t"))
              .selectExpr(f"__pos AS {pos_alias}", *others))


def last_wins_pairs(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(pos, idx) of an ASSIGN index list with duplicate targets resolved:
    the last occurrence wins (SuiteSparse spec; reference `_uniquify`,
    dask_grblas/expr.py:1463-1499). Sorted by idx."""
    idx, first_from_end = np.unique(arr[::-1], return_index=True)
    return arr.size - 1 - first_from_end, idx


def dedup_last_wins(idx_df: DataFrame) -> DataFrame:
    """`last_wins_pairs` for a DataFrame index: a window over idx, with
    its own exchange. A literal list never comes here."""
    return (idx_df.selectExpr("*", "row_number() OVER (PARTITION BY idx "
                                   "ORDER BY pos DESC) AS __rn")
                  .where("__rn = 1").drop("__rn"))
