"""Per-layer tracing from outside the engine.

``Tracer.install`` wraps the public functions of the engine's layers in
place (every module attribute that refers to them, so names bound by
``from .x import f`` are wrapped too) and ``Tracer.uninstall`` puts the
originals back. A wrapper counts calls and driver time; nested calls into
the same layer count once, at the outermost call. Spark's own counters
(jobs, stages, SQL executions) are read back from the status store after
the listener bus has been drained.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import math
import sys
import time
from collections import defaultdict


def _layer_functions(spark):
    """``{layer: [(owner, attribute name), ...]}`` for the wrapped layers."""
    import dask_grblas_spark.functions.materialize as mat
    import dask_grblas_spark.plans as plans_pkg
    from dask_grblas_spark import core

    DataFrame = type(spark.range(0))  # the concrete (classic) class

    out = defaultdict(list)
    for mod in [m for name, m in sorted(sys.modules.items())
                if name.startswith(plans_pkg.__name__ + ".")]:
        for name, fn in vars(mod).items():
            if (inspect.isfunction(fn) and not name.startswith("_")
                    and fn.__module__ == mod.__name__):
                out["plans"].append((mod, name))
    for name in ("materialize", "materialize_if_large"):
        out["materialize"].append((mat, name))
    out["materialize.gate"].append((mat, "should_materialize"))
    out["spark.checkpoint"] += [(DataFrame, "localCheckpoint"),
                                (DataFrame, "checkpoint")]
    out["spark.persist"] += [(DataFrame, "persist"), (DataFrame, "cache")]
    out["core.vxm"].append((core.GrVector, "vxm"))
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.calls = defaultdict(int)
        self.seconds = defaultdict(float)
        self.true_decisions = 0
        self.spans = []
        self._depth = defaultdict(int)
        self._saved = []

    # -- function wrappers ---------------------------------------------------
    def _wrap(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._depth[layer]:
                return fn(*args, **kwargs)
            tracer._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._depth[layer] -= 1
                tracer.seconds[layer] += time.perf_counter() - t0
                tracer.calls[layer] += 1
            if layer == "materialize.gate" and out:
                tracer.true_decisions += 1
            return out

        return wrapper

    def install(self):
        engine = [m for name, m in list(sys.modules.items())
                  if name.startswith("dask_grblas_spark")]
        for layer, targets in _layer_functions(self.spark).items():
            for owner, name in targets:
                orig = getattr(owner, name)
                wrapped = self._wrap(layer, orig)
                self._saved.append((owner, name, vars(owner).get(name)))
                setattr(owner, name, wrapped)
                # rebind the aliases made by `from .x import f` too
                for mod in engine:
                    for attr, val in list(vars(mod).items()):
                        if val is orig and mod is not owner:
                            self._saved.append((mod, attr, orig))
                            setattr(mod, attr, wrapped)

    def uninstall(self):
        for holder, attr, orig in reversed(self._saved):
            if orig is None:  # was inherited: drop the override
                delattr(holder, attr)
            else:
                setattr(holder, attr, orig)
        self._saved.clear()

    # -- spans around the benchmark's own calls --------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Time one top-level call and tag its Spark jobs with a job group."""
        sc = self.spark.sparkContext
        gid = f"perfbench-{len(self.spans)}"
        before = dict(self.calls)
        sc.setJobGroup(gid, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            delta = {k: v - before.get(k, 0) for k, v in self.calls.items()}
            self.spans.append({"name": name, "group": gid, "s": dt,
                               "calls": delta})

    # -- Spark counters ----------------------------------------------------------
    def spark_counters(self, wall_start_ms: float, wall_s: float) -> dict:
        """Jobs, tasks, stage metrics and driver gap of the traced spans.
        Drains the listener bus first: the status store is updated
        asynchronously."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(120_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = tasks = 0
        executor_ms = shuffle_write = spill = 0
        intervals = []
        for sp in self.spans:
            ids = list(tracker.getJobIdsForGroup(sp["group"]))
            sp["jobs"] = len(ids)
            jobs += len(ids)
            for jid in ids:
                jd = store.job(jid)
                tasks += jd.numCompletedTasks()
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(),
                                      done.get().getTime()))
                stage_ids = jd.stageIds()
                for k in range(stage_ids.size()):
                    sd = store.lastStageAttempt(stage_ids.apply(k))
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    executor_ms += sd.executorRunTime()
                    shuffle_write += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        busy_ms = _union_ms(intervals, wall_start_ms,
                            wall_start_ms + wall_s * 1000.0)
        return {"spark.jobs": (jobs, "count"),
                "spark.tasks": (tasks, "count"),
                "spark.executor_s": (executor_ms / 1000.0, "s"),
                "spark.shuffle_write_bytes": (shuffle_write, "bytes"),
                "spark.spill_bytes": (spill, "bytes"),
                "spark.driver_gap_s": (wall_s - busy_ms / 1000.0, "s")}

    def sql_executions(self) -> int:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(120_000)
        return self.spark._jsparkSession.sharedState().statusStore() \
            .executionsCount()


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        a, b = max(a, lo, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
