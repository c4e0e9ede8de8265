"""WeatherEngine request-surface tests on seeded ISD-lite sample data.

Mirrors the reference's integration specs (TemperatureActorSpec,
PrecipitationActorSpec, WeatherStationActorSpec) but with exact-value
assertions computed independently in Python — stronger than the reference's
shape/threshold checks (SURVEY §5).  The inputs are generated in the
reference's ``data/`` layout by ``tests/weather_inputs.py``.
"""

from __future__ import annotations

import gzip
import math
import os
import statistics

import pytest
from pyspark.sql import functions as F

from killrweather_spark.api.engine import WeatherEngine
from killrweather_spark.sources.readers import read_raw_csv
from tests.weather_inputs import SF as WSID
from tests.weather_inputs import WEATHER_INPUTS

REF_CSV_GZ = str(WEATHER_INPUTS / "load" / "sf-2008.csv.gz")
NY_SF_CSV_GZ = str(WEATHER_INPUTS / "load" / "ny-sf-2008.csv.gz")
STATIONS_CSV = str(WEATHER_INPUTS / "weather_stations.csv")

pytestmark = pytest.mark.usefixtures("weather_inputs")


@pytest.fixture(scope="module")
def engine(spark):
    raw = read_raw_csv(spark, REF_CSV_GZ)
    eng = WeatherEngine(spark, raw)
    eng.refresh_daily_tiers()
    return eng


@pytest.fixture(scope="module")
def raw_rows():
    rows = []
    with gzip.open(REF_CSV_GZ, "rt") as f:
        for line in f:
            p = line.strip().split(",")
            rows.append(
                {
                    "wsid": p[0], "year": int(p[1]), "month": int(p[2]),
                    "day": int(p[3]), "hour": int(p[4]), "temperature": float(p[5]),
                    "one_hour_precip": float(p[11]),
                }
            )
    return rows


def test_get_daily_temperature_matches_statcounter(engine, raw_rows):
    temps = [
        r["temperature"] for r in raw_rows
        if r["wsid"] == WSID and (r["year"], r["month"], r["day"]) == (2008, 1, 2)
    ]
    got = engine.get_daily_temperature(WSID, 2008, 1, 2).first()
    assert got["high"] == max(temps)
    assert got["low"] == min(temps)
    assert got["mean"] == pytest.approx(statistics.fmean(temps))
    # population variance — StatCounter divides by n (SURVEY §2.4 A1)
    assert got["variance"] == pytest.approx(statistics.pvariance(temps))
    assert got["stdev"] == pytest.approx(math.sqrt(statistics.pvariance(temps)))


def test_monthly_hilow_reads_daily_tier(engine, raw_rows):
    jan = [
        r["temperature"] for r in raw_rows
        if r["wsid"] == WSID and (r["year"], r["month"]) == (2008, 1)
    ]
    got = engine.get_monthly_hilow_temperature(WSID, 2008, 1).first()
    assert got["high"] == max(jan)
    assert got["low"] == min(jan)


def test_precipitation_annual_and_topk(engine, raw_rows):
    daily: dict[tuple, float] = {}
    for r in raw_rows:
        if r["wsid"] == WSID and r["year"] == 2008:
            k = (r["month"], r["day"])
            daily[k] = daily.get(k, 0.0) + r["one_hour_precip"]
    total = engine.get_precipitation(WSID, 2008).first()["total"]
    assert total == pytest.approx(sum(daily.values()))
    topk = engine.get_top_k_precipitation(WSID, 2008, k=10).first()["top"]
    assert len(topk) == 10
    assert list(topk) == sorted(daily.values(), reverse=True)[:10]


def test_current_weather_is_latest_row(engine):
    got = engine.get_current_weather(WSID).first()
    assert (got["year"], got["month"], got["day"], got["hour"]) == (2008, 12, 31, 23)


def test_no_data_available_sentinel(engine):
    # year 2020 is empty — the reference's NoDataAvailable path
    # (TemperatureActorSpec: empty-year probe)
    assert engine.get_precipitation(WSID, 2020).isEmpty()
    assert engine.get_daily_temperature(WSID, 2020, 1, 1).isEmpty()


def test_monthly_temperature_extension(engine, raw_rows):
    got = engine.get_monthly_temperature(WSID, 2008, 1).first()
    jan = [
        r["temperature"] for r in raw_rows
        if r["wsid"] == WSID and (r["year"], r["month"]) == (2008, 1)
    ]
    assert got["high"] == max(jan)
    assert got["low"] == min(jan)


def test_year_cumulative_precip_extension(engine, raw_rows):
    daily: dict[tuple, float] = {}
    for r in raw_rows:
        if r["wsid"] == WSID and r["year"] == 2008:
            k = (r["month"], r["day"])
            daily[k] = daily.get(k, 0.0) + r["one_hour_precip"]
    got = engine.get_year_cumulative_precip(WSID, 2008).collect()
    assert len(got) == len(daily)
    # last row of the YTD series == the annual total (A3)
    last = max(got, key=lambda r: (r["month"], r["day"]))
    assert last["cumulative"] == pytest.approx(sum(daily.values()))
    # series is non-decreasing when precip is non-negative; trace values
    # (-0.1 sentinel) may dip — just check the running sum is consistent
    running = 0.0
    for row in sorted(got, key=lambda r: (r["month"], r["day"])):
        running += daily[(row["month"], row["day"])]
        assert row["cumulative"] == pytest.approx(running)


def test_sky_condition_lookup(engine):
    row = engine.get_sky_condition_lookup(8).first()
    assert row["condition"].startswith("Eight oktas")


def test_get_weather_station_dimension(spark):
    """GetWeatherStation point lookup on the real station dimension
    (WeatherStationActor.scala:55-58; data/weather_stations.csv)."""
    from killrweather_spark.api.engine import WeatherEngine
    from killrweather_spark.model.schemas import WEATHER_STATION

    stations = spark.read.schema(WEATHER_STATION).csv(STATIONS_CSV)
    raw = read_raw_csv(spark, REF_CSV_GZ)
    eng = WeatherEngine(spark, raw, stations=stations)
    row = eng.get_weather_station(WSID).first()
    assert row is not None and row["id"] == WSID
    # the client demo joins current weather to the station name
    # (KillrWeatherClientApp.scala:122-123) — both halves must answer
    assert eng.get_current_weather(WSID).first() is not None


def test_sql_views_entry_point(spark):
    """register_views ≙ CassandraSQLContext (SampleJoin.scala:39-50): the
    same answers must come back through plain SQL over the CQL table names,
    including a raw×dimension join (J1/J2)."""
    from killrweather_spark.model.schemas import WEATHER_STATION

    stations = spark.read.schema(WEATHER_STATION).csv(STATIONS_CSV)
    raw = read_raw_csv(spark, REF_CSV_GZ)
    eng = WeatherEngine(spark, raw, stations=stations)
    eng.register_views()

    sql_daily = eng.sql(
        f"""
        SELECT wsid, year, month, day,
               max(temperature) AS high, min(temperature) AS low
        FROM raw_weather_data
        WHERE wsid = '{WSID}' AND year = 2008 AND month = 1 AND day = 1
        GROUP BY wsid, year, month, day
        """
    ).first()
    api_daily = eng.get_daily_temperature(WSID, 2008, 1, 1).first()
    assert sql_daily["high"] == api_daily["high"]
    assert sql_daily["low"] == api_daily["low"]

    # tier view reads the same (possibly cached) daily DataFrame
    tier = eng.sql(
        f"""
        SELECT max(high) AS hi, min(low) AS lo
        FROM daily_aggregate_temperature
        WHERE wsid = '{WSID}' AND year = 2008 AND month = 1
        """
    ).first()
    api_month = eng.get_monthly_hilow_temperature(WSID, 2008, 1).first()
    assert tier["hi"] == api_month["high"] and tier["lo"] == api_month["low"]

    # J1-style multi-name join through the catalog
    joined = eng.sql(
        f"""
        SELECT r.wsid, s.name, r.temperature
        FROM raw_weather_data r JOIN weather_station s ON r.wsid = s.id
        WHERE r.wsid = '{WSID}' AND r.year = 2008 AND r.month = 1
              AND r.day = 1 AND r.hour = 0
        """
    ).first()
    assert joined is not None and joined["name"] is not None

    # the declared-never-written tier answers in SQL too
    ytd = eng.sql(
        f"""
        SELECT cumulative FROM year_cumulative_precip
        WHERE wsid = '{WSID}' AND year = 2008
        ORDER BY month DESC, day DESC LIMIT 1
        """
    ).first()
    api_ytd = eng.get_year_cumulative_precip(WSID, 2008).orderBy(
        F.desc("month"), F.desc("day")
    ).first()
    assert ytd["cumulative"] == api_ytd["cumulative"]


def test_sql_scalar_functions_inline_into_codegen(spark):
    """register_sql_functions: the SQL-macro UDFs return the exact values
    of their DataFrame-side idioms and leave no Python in the plan."""
    raw = read_raw_csv(spark, REF_CSV_GZ)
    eng = WeatherEngine(spark, raw)
    eng.register_views()
    eng.register_sql_functions()

    from killrweather_spark.operators.runtime_filter import _bucket

    got = eng.sql(
        "SELECT portable_bucket('724940:23234', 'rfA|', 4096) AS b, "
        "cents(12.34) AS c"
    ).first()
    want_b = (
        spark.range(1)
        .select(F.expr(_bucket("'724940:23234'", "rfA|", 4096)).alias("b"))
        .first()
        .b
    )
    assert got.b == want_b and got.c == 1234
    plan = eng.sql(
        "SELECT portable_bucket(cast(wsid as string), 'rfA|', 64) AS b "
        "FROM raw_weather_data"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multi_station_client_loop(spark):
    # the demo client's six-query loop (KillrWeatherClientApp.scala:93-127)
    # against the combined two-station file: per-station isolation — each
    # station's answers must equal its single-file answers
    import gzip
    import statistics as st

    combined = read_raw_csv(spark, NY_SF_CSV_GZ)
    eng = WeatherEngine(spark, combined)
    eng.refresh_daily_tiers()
    stations = [r.wsid for r in combined.select("wsid").distinct().collect()]
    assert len(stations) == 2

    # independent ground truth per station from the gz file
    temps: dict[str, list[float]] = {}
    with gzip.open(NY_SF_CSV_GZ, "rt") as f:
        for line in f:
            p = line.strip().split(",")
            if int(p[2]) == 1 and int(p[3]) == 1:
                temps.setdefault(p[0], []).append(float(p[5]))
    for wsid in stations:
        row = eng.get_daily_temperature(wsid, 2008, 1, 1).collect()[0]
        assert row.high == max(temps[wsid])
        assert row.low == min(temps[wsid])
        assert abs(row.mean - st.mean(temps[wsid])) < 1e-9
        cw = eng.get_current_weather(wsid).collect()[0]
        assert cw.wsid == wsid  # latest row never leaks across stations
        topk = eng.get_top_k_precipitation(wsid, 2008, k=10).collect()[0]
        assert topk.wsid == wsid and len(topk.top) == 10


def test_seven_year_five_station_end_to_end(spark, tmp_path):
    # the reference's largest sample (5 stations x 7 years, ~300k rows,
    # sfo-nyc-mia-lax-chi-2008-2014.csv.zip): full ingest -> tier refresh ->
    # query loop, with throughput asserted against the reference's
    # 133 rows/s ingest floor (BASELINE.md) by orders of magnitude
    import time
    import zipfile

    src = WEATHER_INPUTS / "load" / "sfo-nyc-mia-lax-chi-2008-2014.csv.zip"
    csv = tmp_path / "big.csv"
    with zipfile.ZipFile(src) as z:
        csv.write_bytes(z.read(z.infolist()[0].filename))

    t0 = time.perf_counter()
    raw = read_raw_csv(spark, str(csv))
    eng = WeatherEngine(spark, raw)
    eng.refresh_daily_tiers()
    n = raw.count()
    dt = time.perf_counter() - t0
    assert n > 250_000
    rows_per_s = n / dt
    # Wall-clock throughput over a window that includes CSV decompression,
    # tier refresh and job scheduling is machine-dependent — a loaded CI
    # box would flake a gate unrelated to correctness.  Assert it only
    # under the perf-sweep flag; always record it for the log.
    print(f"ingest throughput: {rows_per_s:,.0f} rows/s (reference floor 133)")
    if os.environ.get("SPARK_GRAFT_SCALE_SWEEP") == "1":
        assert rows_per_s > 1_330  # 10x the reference's floor, conservatively

    stations = [r.wsid for r in raw.select("wsid").distinct().collect()]
    years = [r.year for r in raw.select("year").distinct().collect()]
    assert len(stations) == 5 and len(years) >= 7

    # every (station, year) answers the annual-precip request non-empty
    for wsid in stations:
        row = eng.get_precipitation(wsid, 2010).collect()
        assert len(row) == 1 and row[0].wsid == wsid
    # daily tier grain: one row per station-day, never fewer than 360/yr
    daily = eng.daily_temperature_table
    per = (
        daily.filter(F.col("year") == 2010)
        .groupBy("wsid")
        .count()
        .collect()
    )
    assert all(r["count"] >= 360 for r in per)


def test_nearest_stations_matches_python_haversine(spark):
    """K-nearest stations to downtown San Francisco vs an independent
    Python haversine over the same CSV; plan must use the bounded-heap
    TakeOrderedAndProject, not a full sort."""
    import csv

    from killrweather_spark.model.schemas import WEATHER_STATION
    from killrweather_spark.plans import checks

    stations = spark.read.schema(WEATHER_STATION).csv(STATIONS_CSV)
    eng = WeatherEngine(spark, read_raw_csv(spark, REF_CSV_GZ), stations=stations)
    sf_lat, sf_lon, k = 37.7749, -122.4194, 5
    got = eng.nearest_stations(sf_lat, sf_lon, k=k)
    rows = got.collect()

    def hav(lat, lon):
        r = 6371.0088
        p1, p2 = math.radians(sf_lat), math.radians(lat)
        dp, dl = math.radians(lat - sf_lat), math.radians(lon - sf_lon)
        a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return 2 * r * math.asin(math.sqrt(a))

    expected = []
    with open(STATIONS_CSV) as f:
        for rec in csv.reader(f):
            try:
                lat, lon = float(rec[5]), float(rec[6])
            except (ValueError, IndexError):
                continue
            expected.append((hav(lat, lon), rec[0]))
    expected.sort()
    assert [r["id"] for r in rows] == [sid for _, sid in expected[:k]]
    assert rows[0]["distance_km"] == pytest.approx(expected[0][0])
    assert all(
        rows[i]["distance_km"] <= rows[i + 1]["distance_km"] for i in range(k - 1)
    )
    assert "TakeOrderedAndProject" in checks.formatted_plan(got)


def test_ingest_raw_updates_only_new_tier_partitions(spark, tmp_path):
    """Incremental tier maintenance (≙ TemperatureActor.scala:76-77 per-key
    write-back): ingesting a new day recomputes ONLY that day's tier
    partitions — day 1's directories are byte-identical before and after —
    and the monthly query immediately reflects the new day."""
    import hashlib
    import pathlib

    schema = (
        "wsid string, year int, month int, day int, hour int, "
        "temperature double, one_hour_precip double"
    )
    day1 = [
        ("s1", 2008, 1, 1, 0, 10.0, 0.0),
        ("s1", 2008, 1, 1, 12, 14.0, 1.5),
        ("s2", 2008, 1, 1, 6, -2.0, 0.5),
    ]
    day2 = [
        ("s1", 2008, 1, 2, 3, 20.0, 2.0),
        ("s2", 2008, 1, 2, 9, -8.0, 0.0),
    ]
    temp_dir = str(tmp_path / "daily_temp")
    precip_dir = str(tmp_path / "daily_precip")
    eng = WeatherEngine(
        spark,
        spark.createDataFrame(day1, schema),
        daily_temperature_path=temp_dir,
        daily_precip_path=precip_dir,
    )
    eng.refresh_daily_tiers()
    assert eng.daily_temperature_table.count() == 2  # (s1, s2) × day 1
    hi0 = eng.get_monthly_hilow_temperature("s1", 2008, 1).first()
    assert (hi0.high, hi0.low) == (14.0, 10.0)

    def day1_hashes() -> dict[str, str]:
        out = {}
        for root in (temp_dir, precip_dir):
            for p in sorted(pathlib.Path(root).glob("date_key=20080101/*")):
                if p.is_file():
                    out[str(p)] = hashlib.md5(p.read_bytes()).hexdigest()
        assert out, "day-1 tier partition missing"
        return out

    before = day1_hashes()
    eng.ingest_raw(spark.createDataFrame(day2, schema))

    # only the new day's partitions were written; day 1 is byte-identical
    assert day1_hashes() == before
    assert sorted(
        d.name for d in pathlib.Path(temp_dir).glob("date_key=*")
    ) == ["date_key=20080101", "date_key=20080102"]

    # queries read the maintained tier: monthly hi/low now spans both days
    hi = eng.get_monthly_hilow_temperature("s1", 2008, 1).first()
    assert (hi.high, hi.low) == (20.0, 10.0)
    lo = eng.get_monthly_hilow_temperature("s2", 2008, 1).first()
    assert (lo.high, lo.low) == (-2.0, -8.0)
    precip = eng.get_precipitation("s1", 2008).first()
    assert precip.total == 3.5


def test_ingest_raw_bootstraps_unmaterialized_tiers(spark, tmp_path):
    """ingest_raw on a path-configured engine whose tiers were never
    refreshed must bootstrap a FULL tier build first — otherwise only the
    new batch's units would be written and every pre-existing raw day
    silently dropped (with the watermark set past them)."""
    schema = (
        "wsid string, year int, month int, day int, hour int, "
        "temperature double, one_hour_precip double"
    )
    preexisting = [("s1", 2007, 6, 10, 0, 25.0, 0.0)]
    new_day = [("s1", 2008, 1, 2, 3, 5.0, 1.0)]
    eng = WeatherEngine(
        spark,
        spark.createDataFrame(preexisting, schema),
        daily_temperature_path=str(tmp_path / "t"),
        daily_precip_path=str(tmp_path / "p"),
    )
    # no refresh_daily_tiers() call before the first ingest
    eng.ingest_raw(spark.createDataFrame(new_day, schema))
    days = {
        (r.year, r.month, r.day)
        for r in eng.daily_temperature_table.select("year", "month", "day").collect()
    }
    assert days == {(2007, 6, 10), (2008, 1, 2)}
    hi = eng.get_monthly_hilow_temperature("s1", 2007, 6).first()
    assert (hi.high, hi.low) == (25.0, 25.0)


def test_tier_read_survives_late_row_overwrite(spark, tmp_path):
    """A request built before an ``ingest_raw`` whose late row rewrites that
    day's tier partition must still collect: it reads the tier snapshot it
    captured, not parquet files the dynamic overwrite deletes (reading the
    files failed with FAILED_READ_FILE.FILE_NOT_EXIST)."""
    schema = (
        "wsid string, year int, month int, day int, hour int, "
        "temperature double, one_hour_precip double"
    )
    day1 = [
        ("s1", 2008, 1, 1, 0, 10.0, 0.0),
        ("s1", 2008, 1, 1, 12, 14.0, 1.5),
    ]
    eng = WeatherEngine(
        spark,
        spark.createDataFrame(day1, schema),
        daily_temperature_path=str(tmp_path / "t"),
        daily_precip_path=str(tmp_path / "p"),
    )
    eng.refresh_daily_tiers()
    built_before = eng.get_monthly_hilow_temperature("s1", 2008, 1)

    late = [("s1", 2008, 1, 1, 18, 21.0, 0.0)]  # rewrites date_key=20080101
    eng.ingest_raw(spark.createDataFrame(late, schema))

    before = built_before.first()
    assert (before.high, before.low) == (14.0, 10.0)  # the captured snapshot
    after = eng.get_monthly_hilow_temperature("s1", 2008, 1).first()
    assert (after.high, after.low) == (21.0, 10.0)
    daily = eng.get_daily_temperature("s1", 2008, 1, 1).first()
    assert (daily.high, daily.low) == (21.0, 10.0)
    assert daily.mean == pytest.approx(15.0)


def test_concurrent_asks_during_ingests_see_whole_states(spark, tmp_path):
    """Stress: more reader threads than cores ask the tier-path engine while
    three ingests each rewrite the day's tier partition.  Every ask must
    succeed and see one whole tier state, and a reader never sees an older
    state after a newer one (each ingest swaps the snapshots forward)."""
    import sys
    import threading

    schema = (
        "wsid string, year int, month int, day int, hour int, "
        "temperature double, one_hour_precip double"
    )
    day1 = [
        ("s1", 2008, 1, 1, 0, 10.0, 0.0),
        ("s1", 2008, 1, 1, 12, 14.0, 1.5),
    ]
    eng = WeatherEngine(
        spark,
        spark.createDataFrame(day1, schema),
        daily_temperature_path=str(tmp_path / "t"),
        daily_precip_path=str(tmp_path / "p"),
    )
    eng.refresh_daily_tiers()
    highs = [14.0, 21.0, 25.0, 30.0]  # the day's high after 0..3 ingests
    asks = [
        lambda: eng.get_monthly_hilow_temperature("s1", 2008, 1),
        lambda: eng.get_daily_temperature("s1", 2008, 1, 1),
    ]
    stop = threading.Event()
    seen: dict[int, list[float]] = {i: [] for i in range(8)}
    errors: list[BaseException] = []

    def reader(i: int) -> None:
        try:
            while not stop.is_set():
                seen[i].append(asks[i % 2]().first().high)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(i,)) for i in seen]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for hour, high in zip((18, 19, 20), highs[1:]):
            eng.ingest_raw(
                spark.createDataFrame([("s1", 2008, 1, 1, hour, high, 0.0)], schema)
            )
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    for got in seen.values():
        assert got and set(got) <= set(highs) and got == sorted(got), got
    assert eng.get_daily_temperature("s1", 2008, 1, 1).first().high == 30.0
