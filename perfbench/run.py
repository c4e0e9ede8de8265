"""Benchmark entry point: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository; the program under test
is the ``killrweather_spark`` package found there.  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  A traced run also writes its spans,
self times, event-log totals and tracing overhead to
``.perfbench/trace-<workload>-seed<seed>.json``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("serve", "registry")   # as listed in BENCHMARK.json


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the Spark driver) would otherwise map its
    # performance counters to a file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)  # shuffle width from cores only
    if root not in sys.path:
        sys.path.insert(0, root)


def finite(v: float) -> float:
    return float(v) if isinstance(v, (int, float)) and math.isfinite(v) else 0.0


# The whole run, including set-up and teardown, must end well inside the
# 180 s a run is allowed; past this the watchdog kills every child process
# (the Spark JVM, the load generator) and exits non-zero.
WATCHDOG_S = 170.0


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def start_watchdog(seconds: float) -> threading.Timer:
    def fire() -> None:
        print(f"perfbench: run exceeded {seconds:.0f} s; stopping", file=sys.stderr)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    return timer


def main(argv) -> int:
    args = parse_args(argv)
    watchdog = start_watchdog(WATCHDOG_S)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "killrweather_spark", "__init__.py")):
        print("perfbench: run from the repository root; killrweather_spark/ "
              "not found here", file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(root, work)

    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    import common
    from spans import Tracer

    ctx = common.Context(args.workload, args.seed, args.seconds, bool(args.trace),
                         work, Tracer(bool(args.trace)))
    mod = importlib.import_module(args.workload)
    t_start = time.monotonic()
    res = None
    try:
        res = mod.run(ctx)
    finally:
        spark = (res or {}).get("spark")
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            common.stop_session(spark)
    wall_s = time.monotonic() - t_start

    failures = res["failures"]
    e2e = {name: {"value": float(res["metrics"][name][0]), "unit": unit}
           for name, unit, _ in END_TO_END}
    for name, m in e2e.items():
        if not math.isfinite(m["value"]):
            raise RuntimeError(f"end-to-end metric {name} has no samples")
    for name, m in e2e.items():
        print(f"{args.workload} {name} = {m['value']:.4f} {m['unit']}")
    attempted = int(res["attempted"])
    failed = min(len(failures), attempted)
    print(f"{args.workload} error_ratio = {failed / attempted:.4f} "
          f"({failed} of {attempted} operations failed)")
    for f in failures[:20]:
        print(f"FAILED {f}")
    print(f"{args.workload} info {json.dumps(res['info'], default=str)}")
    print(f"{args.workload} run wall {wall_s:.1f} s")

    key = f"{args.workload}-seed{args.seed}"
    if args.trace:
        metrics = {name: {"value": finite(res["layer"].get(name, 0.0)), "unit": unit}
                   for name, unit, _ in PER_LAYER}
        write_trace(ctx, out_dir, key, res, e2e, metrics)
    else:
        metrics = e2e
        with open(os.path.join(out_dir, f"untraced-{key}.json"), "w") as f:
            json.dump(e2e, f)
    shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def write_trace(ctx, out_dir, key, res, e2e, layer) -> None:
    from stats import self_times

    untraced_path = os.path.join(out_dir, f"untraced-{key}.json")
    overhead = None
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)
        overhead = {n: e2e[n]["value"] - base[n]["value"] for n in e2e if n in base}
    doc = {
        "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
        "end_to_end_traced": e2e,
        "tracing_overhead": overhead,
        "tracing_overhead_note": "traced minus the last untraced run of the same "
                                 "workload and seed in this checkout; null if none",
        "self_time_s": self_times(ctx.tracer.spans),
        "per_layer": layer,
        "info": res["info"],
        "failures": res["failures"],
        "spans": ctx.tracer.spans,
    }
    with open(os.path.join(out_dir, f"trace-{key}.json"), "w") as f:
        json.dump(doc, f, default=str)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
