"""Time individual declared queries exactly the way bench.py does
(median of N noop-sink runs, same session config) — the guide §1
isolation harness for optimizing one query at a time without paying
for the full bench.

Usage: python tools/time_queries.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))


def main() -> int:
    names = sys.argv[1:]
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             # hard-coded to match bench.py (r12 advice item: an env
             # override here silently timed queries under a different
             # join strategy than the benchmark this tool predicts;
             # config experiments use separate checkouts instead)
             .config("spark.sql.adaptive."
                     "maxShuffledHashJoinLocalMapThreshold", "64m")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .appName("dgs-time-queries").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # same warmup bench.py does
    qs["q01_outdegree"](spark, SF_DIR).write.mode("overwrite") \
        .format("noop").save()
    out = {}
    for name in names:
        fn = qs[name]
        samples = []
        for _ in range(RUNS):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite") \
                .format("noop").save()
            samples.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(samples), 3)
        print(f"{name}: {out[name]}s  (runs: "
              f"{[round(s, 3) for s in samples]})", flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
