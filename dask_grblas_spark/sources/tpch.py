"""Derived graph matrices over the driver testdata (FIXTURES.md section 4).

These builders turn the TPC-H-ish star schema at /root/testdata/sf*/ into
the engine's sparse matrices/vectors with ZERO eager work — each is a lazy
DataFrame plan whose joins/aggregations Catalyst plans (broadcast for the
small dimension tables, shuffle+AQE for the fact tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import GrMatrix, GrVector
from ..functions.materialize import broadcast_if_small
from ..partitions import partitions_for_rows

__all__ = ["load_table", "customer_supplier_matrix", "nation_matrix",
           "customer_acctbal_vector", "customer_order_count_vector"]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Session-scoped cache of DERIVED graph relations. Many queries share the
# same derived matrix (the nation graph feeds two-hop, masked-mxv, CC,
# SSSP, BFS, triangles, kronecker and pagerank); rebuilding the
# orders⋈lineitem fact join per query would repeat the single most
# expensive scan+shuffle in the workload. What is cached is the
# AGGREGATED output (nation graph: <=625 rows; customer-supplier: one row
# per distinct trading pair), never the fact tables themselves — bounded,
# far smaller than the inputs, and the exact relation a production
# pipeline would materialize once per session. Keyed by Spark
# applicationId so a new session never sees stale handles.
_DERIVED_CACHE: dict[tuple, DataFrame] = {}


def _cached_build(spark: SparkSession, sf_dir: str, name: str, build):
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _DERIVED_CACHE.get(key)
    if df is None:
        df = build().persist()
        n = df.count()  # materialize NOW, at full parallelism
        # r13 (guide §2, scale-adaptive partitioning): a cached plan
        # is materialized at the PRE-AQE shuffle partition count —
        # the 625-row nation graph otherwise sits in 32 near-empty
        # partitions and every one of its many consumers (incl. every
        # round of the iterative loops) pays 32 task launches per
        # read. Re-cache at the row-count-derived width; the narrow
        # coalesce costs one cheap pass over the already-cached
        # aggregate and is a no-op decision at sizes that already
        # fill the cores.
        k = partitions_for_rows(n, spark.sparkContext.defaultParallelism)
        try:
            cur = df.rdd.getNumPartitions()
        except Exception:
            cur = None
        if cur is not None and k < cur:
            slim = df.coalesce(k).persist()
            slim.count()  # reads the still-cached wide copy
            df.unpersist()
            df = slim
        _DERIVED_CACHE[key] = df
    return df


def evict_derived(spark: SparkSession, sf_dir: str,
                  name: str | None = None) -> None:
    """Drop (and unpersist) cached derived relations for ``sf_dir`` —
    all of them, or just ``name`` ("mat_cs" / "mat_nn" /
    "vec_orders"). Exists so a benchmark can time the COLD build of a
    derived matrix as its own line (r12 verdict item 3: the session
    cache must not silently hide the fact-join cost from every timed
    sample); library consumers normally never call this."""
    app = spark.sparkContext.applicationId
    for key in [k for k in list(_DERIVED_CACHE)
                if k[0] == app and k[1] == sf_dir
                and (name is None or k[2] == name)]:
        try:
            _DERIVED_CACHE[key].unpersist()
        except Exception:
            pass
        del _DERIVED_CACHE[key]


def customer_supplier_matrix(spark: SparkSession, sf_dir: str) -> GrMatrix:
    """mat_cs: customer -> supplier weighted edges via orders x lineitem.

    orders⋈lineitem is the big join (both fact tables — shuffle on
    orderkey, AQE-sized); the groupBy is a map-side-combinable count.
    The aggregated pair relation is cached per session (see
    _DERIVED_CACHE)."""
    def build():
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        return (orders.join(lineitem,
                            orders.o_orderkey == lineitem.l_orderkey)
                      .groupBy(orders.o_custkey.alias("i"),
                               lineitem.l_suppkey.alias("j"))
                      .agg(F.count("*").alias("v")))
    edges = _cached_build(spark, sf_dir, "mat_cs", build)
    return GrMatrix.from_dataframe(edges, dtype="INT64")


def nation_matrix(spark: SparkSession, sf_dir: str) -> GrMatrix:
    """mat_nn: nation-level square adjacency (customer nation -> supplier
    nation trade intensity). Dimension tables are broadcast; the <=625-row
    aggregate is cached per session (see _DERIVED_CACHE)."""
    def build():
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        customer = load_table(spark, sf_dir, "customer")
        supplier = load_table(spark, sf_dir, "supplier")
        # customer/supplier scans grow with SF: size-gate the hints
        # (guide §3.1 — past the gate the planner's SMJ/SHJ takes over)
        return (orders
                .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
                .join(broadcast_if_small(customer),
                      orders.o_custkey == customer.c_custkey)
                .join(broadcast_if_small(supplier),
                      lineitem.l_suppkey == supplier.s_suppkey)
                .groupBy(customer.c_nationkey.cast("bigint").alias("i"),
                         supplier.s_nationkey.cast("bigint").alias("j"))
                .agg(F.count("*").alias("v")))
    edges = _cached_build(spark, sf_dir, "mat_nn", build)
    n = 25  # TPC-H nation cardinality is fixed
    return GrMatrix.from_dataframe(edges, nrows=n, ncols=n, dtype="INT64")


def customer_acctbal_vector(spark: SparkSession, sf_dir: str) -> GrVector:
    customer = load_table(spark, sf_dir, "customer")
    return GrVector.from_dataframe(
        customer.select(F.col("c_custkey").alias("i"),
                        F.col("c_acctbal").alias("v")), dtype="FP64")


def customer_order_count_vector(spark: SparkSession, sf_dir: str) -> GrVector:
    def build():
        orders = load_table(spark, sf_dir, "orders")
        return (orders.groupBy(F.col("o_custkey").alias("i"))
                      .agg(F.count("*").alias("v")))
    return GrVector.from_dataframe(
        _cached_build(spark, sf_dir, "vec_orders", build), dtype="INT64")
