"""Janino compiles and Spark jobs of the algorithm loops, per call and per
action.

Runs each loop of ``dask_grblas_spark.algorithms`` on a seeded R-MAT graph
(written as parquet and read back, as a user would load it) for several
passes in one session. A pass calls every loop once; the first pass
starts cold, so it compiles every class its plans need. For each call the
tool prints the classes compiled (the count of Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME``), the jobs of the call's job
group, the actions (eager checkpoints, counts and collects) and the jobs
per action, the py4j commands the call sent (``py4j main``: from the main
thread, which builds the plans; ``gc``: from py4j's finalizer thread,
which detaches the JVM objects the call freed, counted up to a garbage
collection after the call), then for the first and the last pass the
classes compiled by each action in order. A loop whose rounds after the first run one plan
shows zeros after its first rounds. Spark's codegen cache holds
``spark.sql.codegen.cache.maxEntries`` classes (100 by default, an LRU
kept per segment of a Guava cache), so a pass needing about that many
distinct classes recompiles some of them in every pass.

Usage (from the repository root):

    python tools/loop_compiles.py [--seed 1] [--passes 3]
        [--loops bfs,cc,pagerank,sssp,hits,katz,kcore,lpa,ktruss]

The graph has the ``graph_algos`` workload's size: 1024 vertices, edge
factor 32. The session is ``local[nproc]`` with AQE on and ``nproc``
shuffle partitions; no codegen setting is changed.
"""

from __future__ import annotations

import argparse
import functools
import gc
import os
import shutil
import sys
import tempfile
import threading

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE, EDGE_FACTOR = 10, 32
ACTIONS = ("localCheckpoint", "count", "collect")
STEADY = ("bfs", "cc", "pagerank")  # the loops of the graph_algos workload


def rmat(scale: int, edge_factor: int, seed: int):
    """Distinct directed edges (i, j, w) of a seeded R-MAT graph with the
    Graph500 quadrant probabilities, ids scrambled, no self loops."""
    rng = np.random.default_rng(seed)
    n, m = 1 << scale, (1 << scale) * edge_factor
    i = np.zeros(m, np.int64)
    j = np.zeros(m, np.int64)
    for bit in range(scale):
        r = rng.random(m)
        i |= (r >= 0.76).astype(np.int64) << bit
        j |= (((r >= 0.57) & (r < 0.76)) | (r >= 0.95)).astype(np.int64) << bit
    perm = rng.permutation(n)
    i, j = perm[i], perm[j]
    key = np.unique(i[i != j] * n + j[i != j])
    w = rng.integers(1, 17, size=key.size).astype(np.float64)
    return key // n, key % n, w


def session():
    from pyspark.sql import SparkSession

    cpus = str(len(os.sched_getaffinity(0)))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("loop_compiles")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Probe:
    """Counts compiles, jobs, actions and py4j commands of the calls made
    inside ``call``; ``trail`` holds (action, compiles) of the last
    call."""

    def __init__(self, spark):
        from py4j.clientserver import ClientServerConnection

        self.sc = spark.sparkContext
        self.metric = (self.sc._jvm.org.apache.spark.metrics.source
                       .CodegenMetrics.METRIC_COMPILATION_TIME())
        self.trail = []
        self.n_calls = 0
        self.sent = {"main": 0, "gc": 0}
        DataFrame = type(spark.range(0))
        for name in ACTIONS:
            setattr(DataFrame, name, self._spy(name, getattr(DataFrame, name)))
        send_command = ClientServerConnection.send_command
        main, sent = threading.main_thread(), self.sent

        @functools.wraps(send_command)
        def counted(*args, **kwargs):
            sent["main" if threading.current_thread() is main else "gc"] += 1
            return send_command(*args, **kwargs)

        ClientServerConnection.send_command = counted

    def compiles(self) -> int:
        return self.metric.getCount()

    def _spy(self, name, fn):
        probe = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = probe.compiles()
            try:
                return fn(*args, **kwargs)
            finally:
                probe.trail.append((name, probe.compiles() - before))

        return wrapper

    def call(self, fn):
        """Run ``fn`` in a job group of its own; returns (compiles, jobs,
        actions, {"main": py4j commands, "gc": py4j commands})."""
        self.n_calls += 1
        gid = f"loop-compiles-{self.n_calls}"
        self.trail = []
        self.sc.setJobGroup(gid, gid)
        gc.collect()
        before = self.compiles()
        self.sent.update(main=0, gc=0)
        try:
            fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        compiles = self.compiles() - before
        gc.collect()  # the call's garbage: its detaches count to it
        main = self.sent["main"]
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(120_000)
        sent = {"main": main, "gc": self.sent["gc"]}
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(gid))
        return compiles, jobs, len(self.trail), sent


def loops(A, src):
    from dask_grblas_spark import algorithms as alg

    return {
        "bfs": lambda: alg.bfs_level(A, src).wait(),
        "sssp": lambda: alg.sssp(A, src).wait(),
        "cc": lambda: alg.connected_components(A).wait(),
        "pagerank": lambda: alg.pagerank(A, damping=0.85, max_iters=5,
                                         tol=0).wait(),
        "hits": lambda: alg.hits(A, iters=3).count(),
        "katz": lambda: alg.katz_centrality(A, iters=3).count(),
        "kcore": lambda: alg.k_core(A, 32).wait(),
        "lpa": lambda: alg.label_propagation(A, max_iters=3).wait(),
        "ktruss": lambda: alg.k_truss(A, k=8).count(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--loops", default="bfs,cc,pagerank")
    args = ap.parse_args()
    names = args.loops.split(",")

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_grblas_spark.sources import io

    i, j, w = rmat(SCALE, EDGE_FACTOR, args.seed)
    n = 1 << SCALE
    src = int(np.argmax(np.bincount(i, minlength=n)))
    tmp = tempfile.mkdtemp(prefix="loop_compiles_")
    try:
        path = os.path.join(tmp, "edges.parquet")
        pq.write_table(pa.table({"i": i, "j": j, "v": w}), path)
        spark = session()
        A = io.matrix_from_parquet(path, nrows=n, ncols=n).wait()
        print(f"R-MAT scale {SCALE}, edge factor {EDGE_FACTOR}, "
              f"seed {args.seed}: {n} vertices, {i.size} edges, "
              f"source {src}; local[{len(os.sched_getaffinity(0))}]")
        probe = Probe(spark)
        calls = loops(A, src)
        for p in range(1, args.passes + 1):
            total = 0
            for name in names:
                compiles, jobs, actions, sent = probe.call(calls[name])
                total += compiles if name in STEADY else 0
                print(f"pass {p} {name:9s} compiles {compiles:4d}  "
                      f"jobs {jobs:4d}  actions {actions:3d}  "
                      f"jobs/action {jobs / max(actions, 1):5.2f}  "
                      f"py4j main {sent['main']:5d} gc {sent['gc']:5d}")
                if p in (1, args.passes):
                    print("    compiles per action: "
                          + " ".join(f"{a[:4]}:{c}" for a, c in probe.trail))
            steady = [s for s in STEADY if s in names]
            if steady:
                print(f"pass {p} compiles of {'+'.join(steady)}: {total}")
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
