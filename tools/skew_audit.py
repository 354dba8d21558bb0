"""Skew audit with evidence (r12 verdict item 7): measure the hot-key
distributions of the two genuinely skew-prone paths and the partition
balance of their heavy shuffles, so the skew stance ("the hub cap
bounds it" / "map-side combine absorbs it") is a measured claim.

Paths audited:
1. item_cf_topk's co-pair self-join on the user key (the hub-user
   fan-out path; `max_user_items` caps each user's u^2/2 contribution).
2. q326's per-custkey orders aggregate (the heavy-hitters count path;
   hash partial aggregation combines hot keys map-side).

Usage: SPARK_GRAFT_SF_DIR=... python tools/skew_audit.py
Prints one JSON line with max/median key multiplicities, the capped
fan-out bound, and per-shuffle-partition row balance.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .appName("dgs-skew-audit").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    out = {"sf_dir": SF_DIR, "cpus": CPUS}

    # --- 1. item_cf co-pair self-join (q159 input shape) ------------
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ui = (orders.join(li, orders.o_orderkey == li.l_orderkey)
                .select(F.col("o_custkey").alias("u"),
                        F.col("l_partkey").alias("i"))
                .distinct())
    per_u = ui.groupBy("u").count()
    stats = per_u.agg(
        F.count("*").alias("n_users"),
        F.max("count").alias("max_items"),
        F.expr("percentile_approx(count, 0.5)").alias("med_items"),
        F.expr("percentile_approx(count, 0.99)").alias("p99_items")
    ).collect()[0]
    cap = 100  # item_cf_topk default max_user_items
    out["item_cf"] = {
        "n_users": stats["n_users"],
        "max_items_per_user": int(stats["max_items"]),
        "median_items_per_user": int(stats["med_items"]),
        "p99_items_per_user": int(stats["p99_items"]),
        "max_user_items_cap": cap,
        "max_pair_fanout_per_user_uncapped":
            int(stats["max_items"]) * (int(stats["max_items"]) - 1) // 2,
        "max_pair_fanout_per_user_capped": cap * (cap - 1) // 2,
    }
    # partition balance of the self-join's shuffle on u (post-cap)
    from pyspark.sql.window import Window
    wu = Window.partitionBy("u").orderBy("i")
    capped = (ui.withColumn("_r", F.row_number().over(wu))
                .where(F.col("_r") <= cap).drop("_r"))
    psz = (capped.repartition(CPUS, "u")
                 .groupBy(F.spark_partition_id().alias("p")).count()
                 .agg(F.max("count").alias("mx"),
                      F.expr("percentile_approx(count, 0.5)").alias("md"))
                 .collect()[0])
    out["item_cf"]["join_shuffle_max_over_median_rows"] = round(
        float(psz["mx"]) / max(1.0, float(psz["md"])), 2)

    # --- 2. heavy-hitters custkey aggregate (q326 input shape) ------
    per_ck = orders.groupBy("o_custkey").count()
    s2 = per_ck.agg(
        F.count("*").alias("n_keys"),
        F.max("count").alias("max_orders"),
        F.expr("percentile_approx(count, 0.5)").alias("med_orders")
    ).collect()[0]
    psz2 = (orders.select("o_custkey").repartition(CPUS, "o_custkey")
                  .groupBy(F.spark_partition_id().alias("p")).count()
                  .agg(F.max("count").alias("mx"),
                       F.expr("percentile_approx(count, 0.5)").alias("md"))
                  .collect()[0])
    out["heavy_hitters"] = {
        "n_custkeys": s2["n_keys"],
        "max_orders_per_key": int(s2["max_orders"]),
        "median_orders_per_key": int(s2["med_orders"]),
        "agg_shuffle_max_over_median_rows": round(
            float(psz2["mx"]) / max(1.0, float(psz2["md"])), 2),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
