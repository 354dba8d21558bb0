"""Driver cost of each GraphBLAS core op: py4j commands and seconds spent
building a call's plan, against seconds in its one action.

Runs the calls of the ``core_ops`` benchmark workload
(``perfbench/core_ops.py``, imported read-only) on its seeded inputs for
several passes in one ``local[nproc]`` session built as the benchmark
builds it. For each call it prints:

- ``main``: the py4j commands the main thread sent while the call built
  its plan (every PySpark Column, alias and DataFrame method is one or
  more of them);
- ``gc``: the commands py4j's finalizer thread sent, detaching the JVM
  objects the call freed, counted up to a garbage collection after it;
- ``build_s``: driver seconds from the start of the call to its action;
- ``action_s``: seconds in the action (the ``count`` behind ``wait``).

The first pass starts cold (it compiles code and loads classes), so read
the later ones. Usage, from the repository root:

    python tools/op_commands.py [--seed 1] [--passes 4]
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
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))


class Commands:
    """Counts py4j commands by the thread that sends them."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        send_command = ClientServerConnection.send_command
        main, sent = threading.main_thread(), {"main": 0, "gc": 0}
        self.sent = sent

        @functools.wraps(send_command)
        def counted(*args, **kwargs):
            sent["main" if threading.current_thread() is main else "gc"] += 1
            return send_command(*args, **kwargs)

        ClientServerConnection.send_command = counted

    def reset(self):
        self.sent.update(main=0, gc=0)


def measure(wl, state, name, commands):
    """(main, gc, build_s, action_s) of one call of ``wl``."""
    gc.collect()
    commands.reset()
    t0 = time.perf_counter()
    out = wl.run(state, name)
    t1 = time.perf_counter()
    main = commands.sent["main"]
    out.wait()
    t2 = time.perf_counter()
    del out
    gc.collect()  # the call's garbage: its detaches count to it
    return main, commands.sent["gc"], t1 - t0, t2 - t1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=4)
    args = ap.parse_args()

    import session
    from core_ops import CoreOps

    wl = CoreOps()
    work = tempfile.mkdtemp(prefix="op_commands_")
    spark = None
    try:
        spark = session.build(work)
        indir = os.path.join(work, "inputs")
        os.makedirs(indir)
        state = wl.load(wl.generate(indir, args.seed),
                        lambda name: _null())
        h = session.host()
        print(f"core_ops seed {args.seed}: local[{h['nproc']}], "
              f"{h['ram_mb']} MB RAM")
        commands = Commands()
        for p in range(1, args.passes + 1):
            total = {"main": 0, "gc": 0, "build": 0.0, "action": 0.0}
            for name, _ in wl.calls:
                n_main, n_gc, build_s, action_s = measure(wl, state, name,
                                                          commands)
                total["main"] += n_main
                total["gc"] += n_gc
                total["build"] += build_s
                total["action"] += action_s
                print(f"pass {p} {name:17s} main {n_main:5d}  gc {n_gc:5d}  "
                      f"build_s {build_s:6.3f}  action_s {action_s:6.3f}")
            print(f"pass {p} {'total':17s} main {total['main']:5d}  "
                  f"gc {total['gc']:5d}  build_s {total['build']:6.3f}  "
                  f"action_s {total['action']:6.3f}")
    finally:
        if spark is not None:
            session.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


class _null:
    """A timer that times nothing (``CoreOps.load`` takes one)."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


if __name__ == "__main__":
    sys.exit(main())
