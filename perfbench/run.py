"""End-to-end and per-layer benchmark of dask_grblas_spark.

Run from the repository root:

    python3 perfbench/run.py --workload graph_algos --seed 1 --seconds 8 --trace 0

One process, one client, closed loop: each call starts after the previous
one returns. A run sets up five times (session start, input generation
from ``--seed``, load) and reports the median as ``setup_s``; the first
set-up also launches the JVM. It then makes one untimed warm-up pass,
whose outputs are read back and later compared with a numpy/pandas/
networkx reference, and repeats timed passes until ``--seconds`` have
passed (at least one); each timed output must have as many entries as
the checked one.

stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` one more pass runs with the layer wrappers of ``tracing.py``
installed, and the metrics are the per-layer ones. The line before it is a
JSON record of the host, the Spark settings and the per-call timings.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

T_START = time.perf_counter()

from core_ops import CoreOps  # noqa: E402
from graph_algos import GraphAlgos  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {w.name: w for w in (GraphAlgos(), CoreOps())}
SETUP_REPS = 5


def run_pass(wl, state, tracer=None, collect=False) -> dict:
    """One pass over the workload's calls. Each result is forced inside its
    call: its entries are counted, or with ``collect`` read back to the
    driver. A call that raises yields None."""
    out = {"s": {}, "results": {}, "wall_start_ms": time.time() * 1000.0}
    t0 = time.perf_counter()
    for name, _ in wl.calls:
        span = tracer.span(name) if tracer else contextlib.nullcontext()
        t = time.perf_counter()
        try:
            with span:
                r = wl.run(state, name)
                out["results"][name] = (r.to_values() if collect
                                        else r.wait().nvals)
        except Exception:  # counted in `failed`; the pass goes on
            traceback.print_exc(file=sys.stderr)
            out["results"][name] = None
        out["s"][name] = time.perf_counter() - t
    out["wall"] = time.perf_counter() - t0
    return out


def count_failures(wl, inputs, checked, passes) -> int:
    """Failed calls: the values read back in ``checked`` are compared with
    the reference, and every pass in ``passes`` must produce as many
    entries as the checked result."""
    failed = 0
    for name, _ in wl.calls:
        values = checked["results"][name]
        ok = values is not None and wl.check(inputs, name, values)
        failed += not ok
        failed += sum(not ok or p["results"][name] != len(values[0])
                      for p in passes)
    return failed


def call_medians(wl, passes) -> dict:
    return {name: statistics.median(p["s"][name] for p in passes)
            for name, _ in wl.calls}


def measure(wl, seed: int, seconds: float, trace: bool, workdir: str):
    import session

    indir = os.path.join(workdir, "inputs")
    os.makedirs(indir, exist_ok=True)
    load_s = defaultdict(list)

    @contextlib.contextmanager
    def timer(name):
        t = time.perf_counter()
        yield
        load_s[name].append(time.perf_counter() - t)

    setups, spark = [], None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = T_START if rep == 0 else time.perf_counter()
            spark = session.build(workdir)
            inputs = wl.generate(indir, seed)
            state = wl.load(inputs, timer)
            setups.append(time.perf_counter() - t0)

        t = time.perf_counter()
        warmup = run_pass(wl, state, collect=True)
        warmup_s = time.perf_counter() - t
        timed = []
        t_end = time.perf_counter() + seconds
        while not timed or time.perf_counter() < t_end:
            timed.append(run_pass(wl, state))
        passes = list(timed)

        layers = None
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            sql0 = tracer.sql_executions()
            tracer.install()
            try:
                traced = run_pass(wl, state, tracer)
            finally:
                tracer.uninstall()
            sql_execs = tracer.sql_executions() - sql0
            # untraced passes before and after the traced one bracket the
            # drift of a still-warming JVM out of the tracing overhead
            after = run_pass(wl, state)
            passes += [traced, after]
            layers = layer_metrics(tracer, traced, timed + [after], load_s,
                                   sql_execs)
        t = time.perf_counter()
        failed = count_failures(wl, inputs, warmup, passes)
        check_s = time.perf_counter() - t
        rss = session.peak_rss_mb()
    finally:
        if spark is not None:
            session.shutdown(spark)

    attempted = (1 + len(passes)) * len(wl.calls)
    medians = call_medians(wl, timed)
    e2e = {"setup_s": (statistics.median(setups), "s"),
           "pass_s": (statistics.median(p["wall"] for p in timed), "s"),
           "peak_rss_mb": (rss, "MB")}
    h = session.host()
    info = {"workload": wl.name, "seed": seed, "host": h,
            "spark": {"master": f"local[{h['nproc']}]",
                      "shuffle_partitions": h["nproc"],
                      "driver_heap_mb": session.driver_heap_mb(h["ram_mb"])},
            "setup_reps_s": setups, "warmup_s": warmup_s,
            "timed_passes": len(timed), "check_s": check_s,
            "ops_failed_frac": failed / attempted,
            "calls_s": medians,
            "by_kind_s": by_kind(wl, medians),
            "end_to_end": {k: {"value": v, "unit": u}
                           for k, (v, u) in e2e.items()}}
    metrics = layers if trace else e2e
    return info, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": u}
                              for k, (v, u) in metrics.items()}}


def by_kind(wl, medians) -> dict:
    """Per-kind sums of per-call medians: ``read_s``/``write_s`` on
    core_ops, ``<algo>_s`` on graph_algos."""
    out = defaultdict(float)
    for name, kind in wl.calls:
        out[f"{kind}_s" if kind != "algo" else f"{name}_s"] += medians[name]
    return dict(out)


def layer_metrics(tracer, traced, untraced, load_s, sql_execs) -> dict:
    """Per-layer metrics of the traced pass; a layer this workload does not
    call reports 0."""
    spans = {sp["name"]: sp for sp in tracer.spans}
    counters = tracer.spark_counters(traced["wall_start_ms"], traced["wall"])
    out = {}
    for a, _ in GraphAlgos.calls:
        sp = spans.get(a)
        s = sp["s"] if sp else 0.0
        calls = sp["calls"] if sp else {}
        ckpt = calls.get("spark.checkpoint", 0)
        # bfs/cc run one vxm per round; pagerank one checkpoint
        rounds = ckpt if a == "pagerank" else calls.get("core.vxm", 0)
        out[f"algorithms.{a}.s"] = (s, "s")
        out[f"algorithms.{a}.rounds"] = (rounds, "count")
        out[f"algorithms.{a}.jobs"] = (sp["jobs"] if sp else 0, "count")
        out[f"algorithms.{a}.s_per_round"] = (s / rounds if rounds else 0.0,
                                              "s")
        out[f"algorithms.{a}.checkpoints"] = (ckpt, "count")
    kind_s = defaultdict(float)
    for op, kind in CoreOps.calls:
        sp = spans.get(op)
        s = sp["s"] if sp else 0.0
        out[f"core.{op}.s"] = (s, "s")
        out[f"core.{op}.jobs"] = (sp["jobs"] if sp else 0, "count")
        kind_s[kind] += s
    out["core.read_s"] = (kind_s["read"], "s")
    out["core.write_s"] = (kind_s["write"], "s")
    out["plans.build_s"] = (tracer.seconds["plans"], "s")
    out["plans.calls"] = (tracer.calls["plans"], "count")
    gates = tracer.calls["materialize.gate"]
    out["materialize.calls"] = (tracer.calls["materialize"], "count")
    out["materialize.s"] = (tracer.seconds["materialize"], "s")
    out["materialize.large_frac"] = (
        tracer.true_decisions / gates if gates else 0.0, "ratio")
    out["spark.checkpoints"] = (tracer.calls["spark.checkpoint"], "count")
    out["spark.checkpoint_s"] = (tracer.seconds["spark.checkpoint"], "s")
    out["spark.persists"] = (tracer.calls["spark.persist"], "count")
    out["sources.matrix_from_parquet_s"] = (
        statistics.median(load_s["sources.matrix_from_parquet"]), "s")
    out.update(counters)
    out["spark.sql_execs"] = (sql_execs, "count")
    plain = statistics.median(p["wall"] for p in untraced)
    out["trace.pass_s"] = (traced["wall"], "s")
    out["trace.untraced_pass_s"] = (plain, "s")
    out["trace.overhead_s"] = (traced["wall"] - plain, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)  # the engine under test, from this checkout
    try:
        import dask_grblas_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(dask_grblas_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from "
              f"{dask_grblas_spark.__file__}, not from {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    try:
        info, result = measure(wl, args.seed, args.seconds, bool(args.trace),
                               workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
