"""Session start, load-generator process and teardown shared by workloads."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass

from spans import EVENT_LOG_CONF, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
mono = time.monotonic


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str                      # per-run work dir inside the checkout
    tracer: Tracer


def start_session(ctx: Context):
    """The program's own session factory at ``local[nproc]``; in a traced
    run Spark's event log goes to the run's work dir."""
    from killrweather_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if ctx.trace:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = log_dir
    return get_session(app_name=f"perfbench-{ctx.workload}", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM process to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def run_loadgen(ctx: Context, plan: dict, timeout_s: float) -> list[dict]:
    """Run the load generator as its own process and return its records."""
    plan_path = os.path.join(ctx.work, "plan.json")
    out_path = os.path.join(ctx.work, "loadgen-out.json")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                             plan_path, out_path])
    try:
        rc = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
        raise RuntimeError(f"load generator did not finish in {timeout_s:.0f} s")
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
    with open(out_path, encoding="utf-8") as f:
        return json.load(f)


def sleep_until(t: float) -> None:
    delay = t - mono()
    if delay > 0:
        time.sleep(delay)


def set_job_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)
