"""``registry``: the batch headline, cut to rows that fit the per-run budget.

Set-up writes the seeded tables (``tables.py``) into the run's work dir.
Each row is built with ``REGISTRY[name].fn(spark, tables_dir)`` and
materialized with the ``noop`` sink (``count()`` would let Catalyst prune
columns).  The untimed warm-up pass collects every row instead and checks
it against its ``QuerySpec.sql`` in DuckDB over the same parquet; a
mismatch stays in the list and is reported.  Timed passes follow until the
run length is used (at least one).  The operation behind ``latency_ms`` is
one pass over all rows.
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

import stats
import tables
from common import Context, mono, set_job_group, start_session
from spans import EVENT_FIELDS, event_log_totals

# Rows per kernel family, cut from the full list of 19 to fit the run
# budget (see README.md): each family keeps its costliest row or two, and
# streaming is the paper's own daily-precip stream drained through
# ``streaming.pipeline.run_stream_to_batch``.
FAMILIES = {
    "operators.weather": ["daily_stats", "asof_join_latest_order"],
    "sources.scan_join": ["star_join_revenue"],
    "functions.jvm": ["minhash_lsh_pairs", "tfidf_cosine_pairs"],
    "functions.python": ["semantic_eval_screen_vectorized"],
    "streaming.pipeline": ["streaming_daily_precip"],
}
ROWS = [r for rows in FAMILIES.values() for r in rows]
FAMILY_OF = {r: f for f, rows in FAMILIES.items() for r in rows}
SETUP_REPS = 3


def time_row(spark, name: str, tables_dir: str, tracer) -> tuple[float, float]:
    from killrweather_spark.api.inventory import REGISTRY

    set_job_group(spark, f"row:{name}")
    try:
        with tracer.span("api.inventory.row", rid=name):
            t0 = mono()
            with tracer.span("api.inventory.build", rid=name):
                df = REGISTRY[name].fn(spark, tables_dir)
            t1 = mono()
            with tracer.span("api.inventory.action", rid=name):
                df.write.format("noop").mode("overwrite").save()
            t2 = mono()
    finally:
        set_job_group(spark, None)
    return t1 - t0, t2 - t1


def patch_load_table(tracer, calls: list) -> callable:
    """Count and time ``load_table`` in every module that imported it."""
    import killrweather_spark.sources.readers as readers

    orig = readers.load_table

    def wrapped(spark, sf_dir, name):
        t = mono()
        with tracer.span("sources.readers.load_table", table=name):
            df = orig(spark, sf_dir, name)
        calls.append((mono() - t) * 1000.0)
        return df

    patched = [m for m in list(sys.modules.values())
               if getattr(m, "__name__", "").startswith("killrweather_spark")
               and getattr(m, "load_table", None) is orig]
    for m in patched:
        m.load_table = wrapped

    def restore():
        for m in patched:
            m.load_table = orig

    return restore


def run(ctx: Context) -> dict:
    t = mono()
    spark = start_session(ctx)
    session_s = mono() - t
    tables_dir = os.path.join(ctx.work, "tables")
    reps = []
    for _ in range(SETUP_REPS):
        t = mono()
        n_rows = tables.write(ctx.seed, tables_dir)
        reps.append(mono() - t)

    # untimed warm-up pass: each row collected once and checked
    import duckdb

    con = duckdb.connect()
    for name in tables.TABLES:
        path = os.path.join(tables_dir, f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    failures, warm = [], {}
    for name in ROWS:
        try:
            why, warm[name] = check_row(spark, con, name, tables_dir)
        except Exception as e:  # noqa: BLE001 — a failing row is reported
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            failures.append(f"{name}: {why}")
    con.close()
    warmup_s = sum(warm.values())
    setup_s = session_s + stats.median(reps) + warmup_s

    load_ms: list[float] = []
    restore = patch_load_table(ctx.tracer, load_ms) if ctx.trace else (lambda: None)
    per_row: dict[str, list[tuple[float, float]]] = {r: [] for r in ROWS}
    passes: list[float] = []
    timed_wall = time.time()
    deadline = mono() + ctx.seconds
    try:
        while True:  # whole passes; stop when the next would overrun
            t = mono()
            for name in ROWS:
                per_row[name].append(time_row(spark, name, tables_dir, ctx.tracer))
            passes.append(mono() - t)
            if mono() + passes[-1] > deadline:
                break
    finally:
        restore()
    row_s = {r: stats.median([b + a for b, a in v]) for r, v in per_row.items()}

    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_ms": (stats.median(passes) * 1000.0, "ms"),
    }
    info = {"inputs": {"tables": dict(tables.SIZES), "rows_total": n_rows},
            "rows": ROWS, "passes_s": passes, "row_s": row_s,
            "session_s": session_s, "setup_reps_s": reps, "warmup_s": warmup_s,
            "warmup_row_s": warm}
    layer = {
        "api.inventory.query_total_s": sum(row_s.values()),
        "api.inventory.query_weather_s": sum(row_s[r] for r in FAMILIES["operators.weather"]),
    }
    if ctx.trace:
        for r, v in per_row.items():
            layer[f"api.inventory.{r}.build_s"] = stats.median([b for b, _ in v])
            layer[f"api.inventory.{r}.action_s"] = stats.median([a for _, a in v])
        # jobs of a stream a row starts carry the query's run id as their
        # group; only the streaming.pipeline row starts streams
        log = event_log_totals(
            os.path.join(ctx.work, "eventlog"),
            lambda g: FAMILY_OF.get(g[4:]) if g.startswith("row:") else "streaming.pipeline",
            since_wall=timed_wall)
        for fam in FAMILIES:
            for f in EVENT_FIELDS:
                layer[f"{fam}.{f}"] = log.get(fam, {}).get(f, 0.0) / len(passes)
        layer["sources.readers.load_table_calls"] = len(load_ms) / len(passes)
        layer["sources.readers.load_table_ms"] = sum(load_ms) / len(passes)
    return {"attempted": len(ROWS) * (1 + len(passes)), "failures": failures,
            "metrics": metrics, "layer": layer, "info": info, "spark": spark}


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _sorted_rows(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def check_row(spark, con, name: str, tables_dir: str) -> tuple[str | None, float]:
    """Build and collect one row (timed), then compare it with its oracle
    SQL in DuckDB: values exactly, columns sorted by name, rows by value.
    Returns (mismatch or None, seconds to build and collect)."""
    from killrweather_spark.api.inventory import REGISTRY

    spec = REGISTRY[name]
    t = mono()
    df = spec.fn(spark, tables_dir)
    cols = sorted(df.columns)
    got = _sorted_rows(tuple(_norm(v) for v in r) for r in df.select(*cols).collect())
    took = mono() - t
    if spec.sql is None:
        return None, took
    cur = con.execute(spec.sql)
    names = [d[0] for d in cur.description]
    if sorted(names) != cols:
        return f"columns {cols} vs oracle {sorted(names)}", took
    idx = [names.index(c) for c in cols]
    want = _sorted_rows(tuple(_norm(r[i]) for i in idx) for r in cur.fetchall())
    if not want:
        return "oracle returned no rows (input too small to check)", took
    if got != want:
        n_bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
        return f"{n_bad} of {len(want)} oracle rows differ", took
    return None, took
