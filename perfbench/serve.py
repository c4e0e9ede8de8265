"""``serve``: the reference's dashboard — ``/ask`` reads beside engine writes.

Setup generates the station history, loads it with ``read_raw_csv`` and
``write_partitioned``, builds ``WeatherEngine`` in tier-path mode and runs
``refresh_daily_tiers()``.  The load generator then sends ``POST /ask`` to
``WeatherHttpServer`` on an open-loop schedule while one writer thread in
the Spark driver calls ``ingest_raw`` once, at a fixed instant, with the
next hour for every station plus a fixed number of late rows.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import gen
import stats
from common import (Context, mono, run_loadgen, set_job_group, sleep_until,
                    start_session)
from metrics import SERVE_REQUESTS
from oracle import ServeOracle
from spans import EVENT_FIELDS, event_log_totals

# Input sizes and rates (see README.md): 40 stations and a week of hourly
# history, one demo client at 1.75 asks/s and one write keep a run below
# saturation on 4 cores and inside the time budget.
STATIONS = 40
DAYS = 3
CYCLE_S = 4.0          # the demo client's 2 s cycle, slowed (see README.md)
EXTRA_PER_S = 0.25     # GetMonthlyTemperature / GetSkyConditionLookup rate
WRITE_AT = 0.6         # the one ingest_raw call is due 60% into the window
LATE_ROWS = 4          # late rows carried by the write
SETUP_REPS = 3
SERVING_WORKERS = 8    # AsyncWeatherEngine's default pool width


def inputs(seed: int, seconds: int) -> gen.ServeInputs:
    return gen.serve_inputs(seed, stations=STATIONS, days=DAYS, seconds=seconds,
                            cycle_s=CYCLE_S, extra_per_s=EXTRA_PER_S,
                            write_at=WRITE_AT, late_rows=LATE_ROWS)


def build_engine(spark, inp: gen.ServeInputs, d: str):
    from killrweather_spark.api.engine import WeatherEngine
    from killrweather_spark.model.schemas import WEATHER_STATION
    from killrweather_spark.sources.readers import read_raw_csv
    from killrweather_spark.sources.sinks import with_station_bucket, write_partitioned

    os.makedirs(d, exist_ok=True)
    obs, st = os.path.join(d, "obs.csv.gz"), os.path.join(d, "weather_stations.csv")
    with open(obs, "wb") as f:
        f.write(gen.gzip_lines(inp.history))
    with open(st, "w", encoding="utf-8") as f:
        f.write(gen.stations_csv(inp.stations))
    raw_path = os.path.join(d, "raw")
    write_partitioned(with_station_bucket(read_raw_csv(spark, obs)), raw_path)
    engine = WeatherEngine(
        spark, spark.read.parquet(raw_path),
        stations=spark.read.schema(WEATHER_STATION).csv(st),
        daily_temperature_path=os.path.join(d, "daily_temperature"),
        daily_precip_path=os.path.join(d, "daily_precip"),
    )
    engine.refresh_daily_tiers()
    return engine


def write_frame(spark, lines: list[str]):
    """One scheduled write as the frame ``ingest_raw`` takes."""
    from pyspark.sql import functions as F

    from killrweather_spark.model.schemas import RAW_WEATHER_CSV_SCHEMA
    from killrweather_spark.sources.sinks import with_station_bucket

    df = spark.createDataFrame([gen.parse_line(ln) for ln in lines],
                               RAW_WEATHER_CSV_SCHEMA)
    return with_station_bucket(
        df.withColumn("sky_condition_text", F.lit(None).cast("string")))


def ask(port: int, request: str, args: dict) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/ask", body=json.dumps({"request": request, "args": args}),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        body = json.loads(resp.read() or b"{}")
        if resp.status != 200:
            raise RuntimeError(f"warm-up {request} -> {resp.status} {body}")
        return body
    finally:
        conn.close()


class _Recorder:
    """Engine stand-in handed to the request-building lambdas in a traced run: it
    forwards each ``get_*`` call and notes which request was built."""

    def __init__(self, engine, note: dict):
        self._engine, self._note = engine, note

    def __getattr__(self, name):
        target = getattr(self._engine, name)

        def call(*a, **kw):
            self._note["method"], self._note["args"] = name, kw
            return target(*a, **kw)

        return call


def traced_async_engine(ctx: Context, engine):
    """``AsyncWeatherEngine`` whose ``submit``, once ``armed`` (after the
    warm-up), records queue wait, build and collect spans and tags each
    request's Spark jobs with a job group."""
    from killrweather_spark.api.serving import AsyncWeatherEngine

    tracer, spark = ctx.tracer, engine.spark
    seq = iter(range(10**9))

    class Traced(AsyncWeatherEngine):
        armed = False

        def submit(self, build):
            if not self.armed:
                return super().submit(build)
            sid = f"s{next(seq)}"
            t_submit = mono()
            note: dict = {}

            def traced_build(e):
                t_start = mono()
                set_job_group(spark, f"ask:{sid}")
                df = build(_Recorder(e, note))
                note["t_start"], note["t_built"] = t_start, mono()
                return df

            fut = super().submit(traced_build)

            def done(_f):
                t_done = mono()
                if "t_built" not in note:
                    return  # build raised: the request fails, no spans
                root = tracer.add("api.serving.request", t_submit, t_done,
                                  rid=sid, method=note.get("method"),
                                  args=note.get("args"))
                tracer.add("api.serving.queue_wait", t_submit, note["t_start"],
                           parent=root, rid=sid)
                tracer.add("api.engine.build", note["t_start"], note["t_built"],
                           parent=root, rid=sid)
                tracer.add("api.serving.collect", note["t_built"], t_done,
                           parent=root, rid=sid)

            fut.add_done_callback(done)
            return fut

    return Traced(engine, max_workers=SERVING_WORKERS)


def patch_incremental(ctx: Context, counts: list) -> callable:
    """Wrap ``incremental_refresh`` (looked up at call time by the engine)
    so each call leaves a span and its refreshed-unit count."""
    import killrweather_spark.operators.incremental as inc

    orig = inc.incremental_refresh

    def wrapped(*a, **kw):
        with ctx.tracer.span("operators.incremental.refresh"):
            n = orig(*a, **kw)
        counts.append(n)
        return n

    inc.incremental_refresh = wrapped
    return lambda: setattr(inc, "incremental_refresh", orig)


def run(ctx: Context) -> dict:
    from killrweather_spark.api.http_serving import WeatherHttpServer
    from killrweather_spark.api.serving import AsyncWeatherEngine

    t = mono()
    spark = start_session(ctx)
    session_s = mono() - t
    reps = []
    for r in range(SETUP_REPS):
        t = mono()
        inp = inputs(ctx.seed, ctx.seconds)
        engine = build_engine(spark, inp, os.path.join(ctx.work, f"serve{r}"))
        reps.append(mono() - t)

    t = mono()
    aengine = (traced_async_engine(ctx, engine) if ctx.trace
               else AsyncWeatherEngine(engine, max_workers=SERVING_WORKERS))
    server = WeatherHttpServer(aengine).start()
    port = server.address[1]
    warm = {}
    for r in inp.reads:  # one ask of each request type, untimed
        warm.setdefault(r["request"], r["args"])
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(ask, port, n, a) for n, a in warm.items()]:
            f.result()
    frame = write_frame(spark, inp.write)
    warmup_s = mono() - t
    setup_s = session_s + stats.median(reps) + warmup_s

    refresh_units: list = []
    restore = (lambda: None)
    if ctx.trace:  # attribute only the measured window
        aengine.armed = True
        restore = patch_incremental(ctx, refresh_units)
    write: dict = {}
    t0 = mono() + 1.0

    def writer() -> None:
        due = t0 + inp.write_due
        sleep_until(due)
        write.update(due=due, start=mono(), error=None)
        if ctx.trace:
            set_job_group(spark, "write:w0")
        try:
            with ctx.tracer.span("api.engine.ingest_raw", rid="w0"):
                engine.ingest_raw(frame)
        except Exception as e:  # noqa: BLE001 — a failed write is reported
            write["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        finally:
            write["end"] = mono()
            if ctx.trace:
                set_job_group(spark, None)

    wt = threading.Thread(target=writer, name="perfbench-writer")
    wt.start()
    plan = {"host": "127.0.0.1", "port": port, "t0": t0, "threads": 4,
            "ops": inp.reads}
    try:
        records = run_loadgen(ctx, plan, timeout_s=ctx.seconds + 120)
    finally:
        wt.join(timeout=ctx.seconds + 120)
        restore()
        server.close()
        aengine.shutdown()
    if wt.is_alive():
        raise RuntimeError("writer thread did not finish")

    # -- correctness -------------------------------------------------------
    oracle = ServeOracle(inp.stations, inp.history, inp.write)
    plan_by_id = {r["id"]: r for r in inp.reads}
    failures: list[str] = []
    lat = []
    for rec in records:
        op = plan_by_id[rec["id"]]
        lat.append((rec["done"] - rec["due"]) * 1000.0)
        if rec["status"] != 200:
            failures.append(f"{rec['id']} {op['request']}: HTTP {rec['status']} "
                            f"{(rec['error'] or rec['body'])[:120]}")
            continue
        k_lo = int(write["end"] <= rec["sent"])   # write state(s) the ask
        k_hi = int(write["start"] < rec["done"])  # could have seen
        why = oracle.check(op["request"], op["args"],
                           json.loads(rec["body"])["rows"], k_lo, k_hi)
        if why:
            failures.append(f"{rec['id']} {op['request']} {op['args']}: {why}")
    missing = len(inp.reads) - len(records)
    if missing:
        failures.append(f"{missing} asks never completed")
    if write["error"]:
        failures.append(f"w0 ingest_raw: {write['error']}")
    write_ms = (write["end"] - write["due"]) * 1000.0

    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_ms": (stats.interquartile_mean(lat), "ms"),
    }
    info = {
        "inputs": inp.props.as_dict(),
        "asks": len(inp.reads), "ask_ms": sorted(round(x, 1) for x in lat),
        "p50_ms": stats.percentile(lat, 50), "p90_ms": stats.percentile(lat, 90),
        "write_ms": write_ms,
        "p90_samples_beyond": stats.beyond(len(lat), 90),
        "generator_late_ms_p50": stats.percentile(
            [(r["sent"] - r["due"]) * 1000.0 for r in records], 50),
        "setup_reps_s": reps, "session_s": session_s, "warmup_s": warmup_s,
    }
    layer = {"client.p50_ms": stats.percentile(lat, 50),
             "client.p90_ms": stats.percentile(lat, 90),
             "client.write_p50_ms": write_ms}
    if ctx.trace:
        layer.update(serve_layers(ctx, records, plan_by_id, refresh_units))
    return {"attempted": len(inp.reads) + 1, "failures": failures,
            "metrics": metrics, "layer": layer, "info": info, "spark": spark}


def serve_layers(ctx: Context, records, plan_by_id, refresh_units) -> dict:
    tr = ctx.tracer
    # client spans from the generator's records, then link server roots
    client = {}
    for rec in records:
        sid = tr.add("client.ask", rec["due"], rec["done"], rid=rec["id"],
                     sent=rec["sent"])
        client[rec["id"]] = (sid, rec)
    servers = [s for s in tr.spans if s["name"] == "api.serving.request"]
    overhead, used = [], set()
    for s in sorted(servers, key=lambda s: s["start"]):
        for cid, (csid, rec) in client.items():
            op = plan_by_id[cid]
            if (cid not in used and rec["sent"] - 0.05 <= s["start"]
                    and s["end"] <= rec["done"] + 0.05
                    and s.get("args") and op["request"] == _request_of(s)
                    and all(op["args"].get(k) == v for k, v in s["args"].items())):
                used.add(cid)
                s["parent"], s["client_rid"] = csid, cid
                overhead.append((rec["done"] - rec["sent"]) * 1000.0
                                - (s["end"] - s["start"]) * 1000.0)
                break
    per_req = {}
    for s in servers:
        per_req.setdefault(_request_of(s), []).append((s["end"] - s["start"]) * 1000.0)
    log = event_log_totals(os.path.join(ctx.work, "eventlog"),
                           lambda g: g.split(":")[0] if ":" in g else None)
    asks = max(1, len(records))
    ev_ask = log.get("ask", {})
    by_due = [(r["done"] - r["due"]) * 1000.0
              for r in sorted(records, key=lambda r: r["due"])]
    q = len(by_due) // 4
    first, last = by_due[:q], by_due[len(by_due) - q:]
    out = {
        "api.http_serving.overhead_ms": stats.median(overhead),
        "api.serving.queue_wait_ms.p50": stats.percentile(tr.durations_ms("api.serving.queue_wait"), 50),
        "api.serving.queue_wait_ms.p99": stats.percentile(tr.durations_ms("api.serving.queue_wait"), 99),
        "api.engine.build_ms": stats.percentile(tr.durations_ms("api.engine.build"), 50),
        "api.serving.collect_ms.p50": stats.percentile(tr.durations_ms("api.serving.collect"), 50),
        "api.serving.collect_ms.p99": stats.percentile(tr.durations_ms("api.serving.collect"), 99),
        "api.serving.jobs_per_request": ev_ask.get("jobs", 0) / asks,
        "api.serving.tasks_per_request": ev_ask.get("tasks", 0) / asks,
        "api.engine.read_drift": (stats.median(last) / stats.median(first)) if q else 0.0,
        "api.engine.ingest_raw_ms": stats.median(tr.durations_ms("api.engine.ingest_raw")),
        "operators.incremental.refresh_ms": stats.median(tr.durations_ms("operators.incremental.refresh")),
        "operators.incremental.units_per_write": sum(refresh_units),
        "client.matched_share": len(used) / asks,
    }
    for name in SERVE_REQUESTS:
        out[f"api.engine.{name}.p50_ms"] = stats.median(per_req.get(name, []))
    for kind in ("ask", "write"):
        for f in EVENT_FIELDS:
            out[f"spark.{kind}.{f}"] = log.get(kind, {}).get(f, 0.0)
    return out


def _request_of(span: dict) -> str | None:
    """The ``/ask`` request name of a server span, from the method it built."""
    from killrweather_spark.api.http_serving import REQUESTS

    for name, (method, _required, _optional) in REQUESTS.items():
        if method == span.get("method"):
            return name
    return None
