"""Capture .explain("formatted") for the bench queries (guide §1/§7.2).

Writes plans/<tag>/<query>_<suffix>.txt for every HEADLINE + PIPELINE
query in bench.py. Usage:

    python tools/capture_plans.py <tag> <suffix> [query ...]

e.g. `python tools/capture_plans.py r12 before` at the start of an
optimization round and `... r12 after q31_ngram_jaccard` after touching
one query. Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1)
with the same session config bench.py uses, so Exchange counts / join
strategies / PushedFilters match what the bench actually runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    import bench

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive."
                     "maxShuffledHashJoinLocalMapThreshold", "64m")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .appName("dgs-plan-capture").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    names = bench.HEADLINE + bench.PIPELINE
    if only:
        names = [n for n in names if n in only] + sorted(
            n for n in only if n not in set(names) and n in qs)

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        n_py = (plan.count("BatchEvalPython")
                + plan.count("ArrowEvalPython"))
        joins = [j for j in ("BroadcastHashJoin", "SortMergeJoin",
                             "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                             "CartesianProduct") if j in plan]
        print(f"{name}: exchanges={n_exch} python={n_py} "
              f"joins={'/'.join(joins) or '-'} -> {path}",
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
