"""Relational reshape operators: wide-form pivot and long-form melt.

Both are single-pass, shuffle-minimal formulations of the pandas-style
reshapes a feature/reporting pipeline needs at warehouse scale:

- pivot_table: Spark's ``pivot()`` WITHOUT an explicit value list first
  runs a driver-side distinct-collect over the pivot column — an extra
  corpus pass and an unbounded driver result at 100 TB. With the value
  list given (the production case: schemas are known), the whole pivot
  compiles to ONE map-side-combined hash aggregate.
- melt: pure narrow transform (explode over a literal struct array) —
  no shuffle at all; output is input_rows x n_measures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pivot_table", "melt", "cube_agg", "dictionary_encode",
           "pareto_frontier"]


def cube_agg(df: DataFrame, dims: list[str], val_col: str,
             decimal_scale: int | None = None) -> DataFrame:
    """Full CUBE aggregation over ``dims`` — every subtotal level of
    the OLAP reporting lattice (2^d grouping sets) in ONE map-side-
    combined hash aggregate (Spark expands the sets inside the Expand
    operator, so the input is scanned once, not 2^d times).

    ``gid`` is the grouping bitmask (first dim = most significant bit,
    1 = aggregated away) — it disambiguates a genuine NULL dimension
    value from a rolled-up one, and Spark's ``grouping_id()`` and
    DuckDB/PostgreSQL ``GROUPING(...)`` agree on the bit order, so the
    whole lattice hash-oracles. Output: (*dims, gid, n, total).

    ``decimal_scale``: when the measure carries at most this many
    decimal digits (money columns), pass it and ``total`` is summed as
    DECIMAL — exact and shuffle-order invariant. The grand-total cell
    sums the WHOLE table, so a double sum's reorder noise can exceed
    the cent quantum at scale (q174/q203 lesson); without
    decimal_scale the double sum is rounded to 2 as before."""
    if decimal_scale is not None:
        v = F.col(val_col).cast(f"decimal(27,{decimal_scale})")
        total = F.sum(v).cast("double").alias("total")
    else:
        total = F.round(F.sum(F.col(val_col).cast("double")), 2) \
                 .alias("total")
    return (df.cube(*dims)
              .agg(F.grouping_id().cast("bigint").alias("gid"),
                   F.count("*").cast("bigint").alias("n"),
                   total)
              .select(*dims, "gid", "n", "total"))


def pivot_table(df: DataFrame, key_col: str, pivot_col: str,
                values: list[str], val_col: str | None = None,
                agg: str = "count") -> DataFrame:
    """Wide per-key aggregate: one output column per entry of
    ``values`` (rows whose pivot value is not listed are dropped, the
    explicit-schema contract). agg is "count" or "sum" (over
    ``val_col``); absent (key, value) combinations fill with 0."""
    if agg not in ("count", "sum"):
        raise ValueError(f"unsupported agg {agg!r}")
    g = df.groupBy(key_col).pivot(pivot_col, values)
    out = g.count() if agg == "count" else g.sum(val_col)
    fills = [F.coalesce(F.col(v), F.lit(0)).cast("bigint").alias(v)
             for v in values]
    return out.select(F.col(key_col), *fills)


def melt(df: DataFrame, ids: list[str], value_vars: list[str],
         var_name: str = "variable",
         value_name: str = "value") -> DataFrame:
    """Long-form unpivot of ``value_vars`` (cast to double) keyed by
    ``ids`` — the inverse of pivot_table, as a narrow explode (no
    shuffle, no driver pass)."""
    pairs = F.array(*[
        F.struct(F.lit(c).alias(var_name),
                 F.col(c).cast("double").alias(value_name))
        for c in value_vars])
    ex = F.explode(pairs).alias("_m")
    return df.select(*[F.col(c) for c in ids], ex) \
             .select(*ids, F.col(f"_m.{var_name}").alias(var_name),
                     F.col(f"_m.{value_name}").alias(value_name))


def dictionary_encode(df, col: str):
    """Dense dictionary encoding: assign each DISTINCT value of ``col``
    a consecutive id following lexicographic order — the dictionary
    builder for categorical compression / feature hashing replacement.

    No global window and no hot-prefix hazard: _exact_rank
    range-partitions the distinct values on the value itself (distinct
    strings = a tie-free sort key, so the sampled range boundaries
    balance any distribution — a URL corpus where every value starts
    "ht" still splits evenly), per-partition counts come to the
    driver (numPartitions rows, bounded), and id = partition offset +
    within-partition row_number - 1. Output: (value, id) with id dense
    from 0 following lexicographic (binary) order."""
    from pyspark.sql import functions as F

    from .profiling import _exact_rank

    vals = (df.select(F.col(col).cast("string").alias("value"))
              .where(F.col("value").isNotNull())
              .distinct())
    ranked, _ = _exact_rank(vals, [F.col("value")], "_r")
    return ranked.select("value",
                         (F.col("_r") - 1).cast("bigint").alias("id"))


def pareto_frontier(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D Pareto frontier (MINIMIZE both dimensions): the
    non-dominated (x, y) points — p is dominated when some q has
    q.x <= p.x AND q.y <= p.y with at least one strict. The classic
    price/size, latency/cost skyline screen; to maximize a dimension,
    negate it on the way in.

    Plan — the sweep WITHOUT a single-task global window: exact
    duplicates collapse to (x, y, n) first (duplicates of a frontier
    point are mutually non-dominated, so they share the
    representative's fate); the prefix-min of y in (x, y) order is
    the profiling `_range_scan` collecting per-partition min(y), folded
    here into the min of all PRECEDING partitions and combined with a
    per-partition running-min window. Post-dedup, p survives iff no
    PRECEDING point in (x asc, y asc) order has y <= p.y (same-x
    precedents have strictly smaller y; smaller-x precedents with
    y <= p.y dominate).
    Output: (x, y, n) — the frontier, n = source multiplicity."""
    from pyspark.sql.window import Window as W

    from .profiling import _range_scan

    pts = (df.select(F.col(x_col).cast("double").alias("x"),
                     F.col(y_col).cast("double").alias("y"))
             .where(F.col("x").isNotNull() & F.col("y").isNotNull())
             .groupBy("x", "y")
             .agg(F.count("*").cast("bigint").alias("n")))
    tagged, rows = _range_scan(pts, [F.col("x"), F.col("y")], F.min("y"))
    if not rows:
        return pts
    # prefix-min of the PRECEDING partitions, per partition id
    prefix, cur = {}, float("inf")
    for p, m in rows:
        prefix[p] = cur
        cur = min(cur, m)
    pre = F.create_map(*[F.lit(x) for kv in prefix.items() for x in kv])
    w = (W.partitionBy("_p").orderBy("x", "y")
          .rowsBetween(W.unboundedPreceding, -1))
    local_min = F.min("y").over(w)
    best_before = F.least(F.coalesce(local_min, F.lit(float("inf"))),
                          pre[F.col("_p")])
    return (tagged.withColumn("_b", best_before)
                  .where(F.col("y") < F.col("_b"))
                  .select("x", "y", "n"))
