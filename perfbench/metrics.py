"""Metric names, units and direction; BENCHMARK.json lists the same set.

End-to-end metrics are reported by every workload (the workload defines
what the operation is; see README.md).  Per-layer metrics are reported by
every traced run; a layer the workload does not touch reads 0.
"""

from registry import FAMILIES, ROWS

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("latency_ms", "ms", "lower"),
]

SERVE_REQUESTS = ("GetWeatherStation", "GetCurrentWeather", "GetDailyTemperature",
                  "GetMonthlyTemperature", "GetMonthlyHiLowTemperature",
                  "GetPrecipitation", "GetTopKPrecipitation",
                  "GetSkyConditionLookup")
_EVENT = [("task_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
          ("spill_bytes", "bytes"), ("jobs", "count"), ("tasks", "count")]

PER_LAYER = [
    # the client's view of serve: ask median and tail, and the write
    ("client.p50_ms", "ms", "lower"),
    ("client.p90_ms", "ms", "lower"),
    ("client.write_p50_ms", "ms", "lower"),
    # api (serve)
    ("api.http_serving.overhead_ms", "ms", "lower"),
    ("api.serving.queue_wait_ms.p50", "ms", "lower"),
    ("api.serving.queue_wait_ms.p99", "ms", "lower"),
    ("api.engine.build_ms", "ms", "lower"),
    ("api.serving.collect_ms.p50", "ms", "lower"),
    ("api.serving.collect_ms.p99", "ms", "lower"),
    ("api.serving.jobs_per_request", "count", "lower"),
    ("api.serving.tasks_per_request", "count", "lower"),
    ("api.engine.read_drift", "ratio", "lower"),
    ("api.engine.ingest_raw_ms", "ms", "lower"),
    *[(f"api.engine.{r}.p50_ms", "ms", "lower") for r in SERVE_REQUESTS],
    ("client.matched_share", "ratio", "higher"),
    # operators (serve writes)
    ("operators.incremental.refresh_ms", "ms", "lower"),
    ("operators.incremental.units_per_write", "count", "lower"),
    # Spark task metrics from the event log, per root-operation kind
    *[(f"spark.{kind}.{f}", u, "lower")
      for kind in ("ask", "write") for f, u in _EVENT],
    # registry: one pass, per row, per kernel family
    ("api.inventory.query_total_s", "s", "lower"),
    ("api.inventory.query_weather_s", "s", "lower"),
    *[(f"api.inventory.{r}.{part}_s", "s", "lower")
      for r in ROWS for part in ("build", "action")],
    *[(f"{fam}.{f}", u, "lower") for fam in FAMILIES for f, u in _EVENT],
    ("sources.readers.load_table_calls", "count", "lower"),
    ("sources.readers.load_table_ms", "ms", "lower"),
]
