"""Expressions built once per JVM gateway.

Every PySpark Column function or method is one or more py4j round trips
to the JVM (``F.col`` alone is about twenty, as PySpark records its call
site), while a SQL string costs one parse on the JVM side. So a plan
builder names what varies per call (key names, literal indices) in SQL
strings (``selectExpr``, ``where``, ``F.expr``) and takes what depends
only on operators, dtypes and key names from a builder memoized here.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F


def per_gateway(build):
    """Memoize ``build(*key)`` for the life of the JVM gateway.

    Every PySpark Column function or method costs several py4j round
    trips (PySpark also records its call site). An unresolved Column is
    not tied to a DataFrame or a session, so expressions a plan needs
    again and again are built once; they are dropped with the gateway
    they live in."""
    memo, owner = {}, [None]

    @functools.wraps(build)
    def cached(*key):
        if owner[0] is not SparkContext._gateway:
            memo.clear()
            owner[0] = SparkContext._gateway
        if key not in memo:
            memo[key] = build(*key)
        return memo[key]

    return cached


@per_gateway
def join_on(left: str, right: str) -> Column:
    """The join condition ``left = right`` on two unambiguous names."""
    return F.expr(f"{left} = {right}")
