"""Host-sized Spark session for the benchmark.

Everything the session writes (shuffle files, spill, Python broadcast
files, JVM temp files) goes under the run's work directory, so a run
touches nothing outside the checkout it runs in.
"""

from __future__ import annotations

import os
import resource
import subprocess


def host() -> dict:
    """Core count and RAM of the machine the run is on."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": kb // 1024}


def driver_heap_mb(ram_mb: int) -> int:
    """One sixteenth of RAM, between 1 GB and 4 GB: the inputs are small,
    and the machine may be shared."""
    return max(1024, min(4096, ram_mb // 16))


def build(workdir: str):
    """Start (or restart, in the same JVM) a ``local[nproc]`` session."""
    from pyspark.sql import SparkSession

    h = host()
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(workdir, "spark-local")
    # the environment's SPARK_LOCAL_DIRS, if set, would win over
    # spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    cpus = str(h["nproc"])
    heap = driver_heap_mb(h["ram_mb"])
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap}m")
             # a fixed-size heap: peak RSS should not depend on when the
             # collector decided to grow it
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(workdir, "warehouse"))
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the traced run reads every job and stage of a pass back
             # from the status store; keep them all
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.ui.retainedExecutions", "100000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_process():
    """The ``Popen`` of the JVM that PySpark launched (spark-submit execs
    java, so its pid is the JVM's), or None."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> float:
    """Peak RSS of the JVM (``VmHWM``) plus that of this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = _jvm_process()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            jvm_kb = next((int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:")), 0)
    return (py_kb + jvm_kb) / 1024.0


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = _jvm_process()
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
