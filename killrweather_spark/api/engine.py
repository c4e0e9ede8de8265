"""WeatherEngine — the reference's Akka request protocol as a Python API.

Reference: ``killrweather-core/.../WeatherEvent.scala:36-59`` declares the
request messages; the actors (``TemperatureActor``, ``PrecipitationActor``,
``WeatherStationActor``) are the handlers; the demo client
(``KillrWeatherClientApp.scala:93-127``) drives them.  Here each request is a
method returning a DataFrame — the Akka remoting/actor-routing layer has no
Spark-side equivalent and is intentionally dropped (Structured-Streaming
queries and SparkSession are already concurrent and addressable).

The ``NoDataAvailable`` sentinel (``Weather.scala:118``) becomes an empty
DataFrame: callers check ``.isEmpty()``.

Tier write-back: the reference computes the daily temperature aggregate on
demand and writes it back to ``daily_aggregate_temperature``
(``TemperatureActor.scala:76-77,90``); the monthly query then *reads that
table* (``TemperatureActor.scala:65-69``).  ``WeatherEngine`` reproduces the
load-bearing dependency with materialized daily tiers (parquet paths, or
cached in-memory rollups without paths) refreshed by
:meth:`refresh_daily_tiers` and folded forward by :meth:`ingest_raw`.  Every
tier request, GetDailyTemperature included, reads a tier rather than
re-aggregating raw.

Serving state lives in Spark block storage.  Each tier-path refresh
snapshots both tiers with an eager ``localCheckpoint`` and swaps the
references under the tier lock; ``ingest_raw`` snapshots each new batch the
same way before unioning it into ``raw``; the 20-row sky lookup is built
once.  Refresh and ingest pay for the materialization, so an ask never
reopens a tier file, never re-evaluates the caller's batch plan and never
rebuilds the lookup from Python.  A request built before a refresh keeps
reading the snapshot it captured, so the refresh's dynamic partition
overwrite cannot delete files out from under it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from killrweather_spark.operators.aggregates import (
    annual_sum,
    daily_stats,
    daily_sum,
    monthly_hilow,
    top_k_values,
)
from killrweather_spark.operators.lookups import latest_row, point_lookup

DAY_KEYS = ["wsid", "year", "month", "day"]


class WeatherEngine:
    """On-demand query surface over the raw/daily/monthly weather tables."""

    def __init__(
        self,
        spark: SparkSession,
        raw: DataFrame,
        stations: DataFrame | None = None,
        daily_temperature_path: str | None = None,
        daily_precip_path: str | None = None,
    ):
        self.spark = spark
        self.raw = raw
        self.stations = stations
        # Materialized-tier paths: when configured, refresh_daily_tiers
        # maintains the tiers INCREMENTALLY on disk (only calendar units
        # at-or-after the watermark recompute) instead of recomputing the
        # whole rollup from raw — the batch form of the reference's per-key
        # write-back (TemperatureActor.scala:76-77).
        self.daily_temperature_path = daily_temperature_path
        self.daily_precip_path = daily_precip_path
        self._daily_temp: DataFrame | None = None
        self._daily_precip: DataFrame | None = None
        # Serving is concurrent (AsyncWeatherEngine fans queries across a
        # thread pool): tier (re)materialization must be serialized or two
        # threads race the lazy refresh — duplicate rollups, one thread
        # unpersisting frames another just cached, and in tier-path mode
        # two dynamic overwrites interleaving on the same parquet path.
        # Reads of the materialized frames need no lock (DataFrames are
        # immutable plans).
        import threading

        self._tier_lock = threading.RLock()
        self._views_registered = False
        self._sky: DataFrame | None = None

    # -- tier materialization (the reference's write-back, batch form) ------
    def refresh_daily_tiers(self, units: list[int] | None = None) -> None:
        """Materialize the daily temperature + precip tiers; later queries
        read these (A1/A2/A3/A5 read the daily tier, not raw — the
        reference's tiered rollup, README.md:146-148).

        With tier paths configured, this is an incremental refresh
        (``operators/incremental.py``): only the calendar units at-or-after
        the tier's watermark — or exactly ``units`` when given (the ingest
        write-back form) — are recomputed and dynamic-partition-overwritten
        — at 100 TB, an O(new-day) job, not O(corpus).  Both tiers are then
        read back once into an eager ``localCheckpoint`` and swapped in
        under the tier lock: asks read block storage, never the tier files,
        so the next refresh's overwrite cannot race them.  Without paths it
        falls back to the cached in-memory full rollup (fine for
        on-demand/test sessions)."""
        with self._tier_lock:
            self._refresh_daily_tiers_locked(units)

    def _refresh_daily_tiers_locked(self, units: list[int] | None) -> None:
        from killrweather_spark.operators.incremental import incremental_refresh

        if self.daily_temperature_path and self.daily_precip_path:
            date_cols = ["year", "month", "day"]
            incremental_refresh(
                self.spark, self.raw, self.daily_temperature_path,
                ["wsid"], date_cols,
                [
                    F.max("temperature").alias("high"),
                    F.min("temperature").alias("low"),
                    F.avg("temperature").alias("mean"),
                    F.var_pop("temperature").alias("variance"),
                    F.stddev_pop("temperature").alias("stdev"),
                ],
                units=units,
            )
            incremental_refresh(
                self.spark, self.raw, self.daily_precip_path,
                ["wsid"], date_cols,
                [F.sum("one_hour_precip").alias("precipitation")],
                units=units,
            )
            # no unpersist of the previous snapshots: a request built before
            # this refresh may still be reading them; the context cleaner
            # drops their blocks once nothing references them
            self._daily_temp, self._daily_precip = (
                self.spark.read.parquet(path)
                .drop("date_key")
                .localCheckpoint(eager=True)
                for path in (self.daily_temperature_path, self.daily_precip_path)
            )
            return
        # drop the previous refresh's cache entries eagerly — reassignment
        # alone leaves them pinned in executor storage until the context
        # cleaner runs, so a long-lived engine doing N ingests would
        # accumulate up to 2N stale cached tier copies
        for old in (self._daily_temp, self._daily_precip):
            if old is not None:
                try:
                    old.unpersist()
                except Exception:  # noqa: BLE001 — uncached frames are fine
                    pass
        self._daily_temp = daily_stats(self.raw, DAY_KEYS, "temperature").cache()
        self._daily_precip = daily_sum(
            self.raw, DAY_KEYS, "one_hour_precip", out="precipitation"
        ).cache()

    def ingest_raw(self, new_raw: DataFrame) -> None:
        """Append new observations and fold them into the daily tiers.

        The reference's ingest path updates the daily tier per key as data
        arrives (TemperatureActor.scala:76-77 write-back; the Cassandra
        counter for precip).  Batch form: snapshot the new rows once (eager
        ``localCheckpoint``, so no later read re-evaluates the caller's
        plan), union them into ``raw`` and refresh exactly the calendar
        units they touch — with tier paths configured, ONLY those tier
        partitions rewrite, even for late rows older than the watermark
        (pinned by
        ``test_engine.py::test_ingest_raw_updates_only_new_tier_partitions``),
        and both tiers are re-snapshotted before this returns."""
        with self._tier_lock:  # raw rebind + refresh must be atomic
            self._ingest_raw_locked(new_raw)
            if self._views_registered:
                # temp views snapshot DataFrame plans: re-register so SQL
                # sees the post-ingest raw + tiers instead of silently
                # serving stale pre-ingest data
                self.register_views()

    def _ingest_raw_locked(self, new_raw: DataFrame) -> None:
        from killrweather_spark.operators.incremental import (
            date_key,
            tier_watermark,
        )

        batch = new_raw.select(*self.raw.columns).localCheckpoint(eager=True)
        self.raw = self.raw.unionByName(batch)
        if self.daily_temperature_path and self.daily_precip_path:
            # Units mode is only valid once the tiers are materialized: on a
            # never-refreshed engine it would write just the new batch's
            # units and silently drop every pre-existing raw day (and set
            # the watermark past them, making watermark-mode backfill
            # impossible).  Bootstrap with a full build first.  An engine
            # that refreshed both tiers itself knows they exist; only one
            # opened over existing tier paths has to probe them.
            if self._daily_temp is None and (
                tier_watermark(self.spark, self.daily_temperature_path) is None
                or tier_watermark(self.spark, self.daily_precip_path) is None
            ):
                self.refresh_daily_tiers()
                return
            from killrweather_spark.streaming.pipeline import _collect_touched

            touched = [
                r.dk
                for r in _collect_touched(
                    batch.select(date_key(["year", "month", "day"]).alias("dk")),
                    ["dk"],
                )
            ]
            self.refresh_daily_tiers(units=touched)
        elif self._daily_temp is not None:
            self.refresh_daily_tiers()

    @property
    def daily_temperature_table(self) -> DataFrame:
        if self._daily_temp is None:
            with self._tier_lock:  # double-checked: one thread refreshes
                if self._daily_temp is None:
                    self.refresh_daily_tiers()
        return self._daily_temp

    @property
    def daily_precip_table(self) -> DataFrame:
        if self._daily_precip is None:
            with self._tier_lock:
                if self._daily_precip is None:
                    self.refresh_daily_tiers()
        return self._daily_precip

    @property
    def sky_condition_table(self) -> DataFrame:
        """The static 20-row lookup, built from Python once per engine."""
        if self._sky is None:
            with self._tier_lock:
                if self._sky is None:
                    from killrweather_spark.sources.readers import (
                        sky_condition_lookup_df,
                    )

                    self._sky = sky_condition_lookup_df(
                        self.spark
                    ).localCheckpoint(eager=True)
        return self._sky

    # -- §2.11 request surface ---------------------------------------------
    def get_weather_station(self, wsid: str) -> DataFrame:
        """GetWeatherStation (WeatherStationActor.scala:55-58)."""
        if self.stations is None:
            raise ValueError("no station dimension configured")
        return point_lookup(self.stations, {"id": wsid}).limit(1)

    def get_current_weather(
        self, wsid: str, year: int | None = None, month: int | None = None,
        day: int | None = None,
    ) -> DataFrame:
        """GetCurrentWeather (WeatherStationActor.scala:43-48): latest raw row
        for station (+ optional calendar narrowing).  Global limit(1)
        replaces the reference's per-node-LIMIT workaround (P7).

        Each of year/month/day narrows independently when supplied — a
        year-only call returns that year's latest row.  (Previously a
        partial date inserted ``col == NULL`` filters, which evaluate to
        NULL for every row and returned a false NoDataAvailable.)"""
        key: dict[str, object] = {"wsid": wsid}
        for name, val in (("year", year), ("month", month), ("day", day)):
            if val is not None:
                key[name] = val
        return latest_row(self.raw, key, ["year", "month", "day", "hour"])

    def get_daily_temperature(
        self, wsid: str, year: int, month: int, day: int
    ) -> DataFrame:
        """GetDailyTemperature → A1 (TemperatureActor.scala:55-60).

        A point lookup on the daily temperature tier, which holds exactly
        this row: the reference recomputes on demand and writes the answer
        back (TemperatureActor.scala:76-77); here ``refresh_daily_tiers``
        and ``ingest_raw`` keep the tier current with the same
        max/min/avg/var_pop/stddev_pop aggregates, so the ask never
        re-aggregates raw."""
        return point_lookup(
            self.daily_temperature_table,
            {"wsid": wsid, "year": year, "month": month, "day": day},
        )

    def get_monthly_temperature(self, wsid: str, year: int, month: int) -> DataFrame:
        """GetMonthlyTemperature — declared in the reference but never
        implemented (WeatherEvent.scala:48); implemented here as daily-mean
        stats over the month (flagged extension, SURVEY §2.11)."""
        dailies = point_lookup(
            self.daily_temperature_table, {"wsid": wsid, "year": year, "month": month}
        )
        return dailies.groupBy("wsid", "year", "month").agg(
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.avg("mean").alias("mean"),
        )

    def get_monthly_hilow_temperature(
        self, wsid: str, year: int, month: int
    ) -> DataFrame:
        """GetMonthlyHiLowTemperature → A2 over the daily tier
        (TemperatureActor.scala:65-69)."""
        dailies = point_lookup(
            self.daily_temperature_table, {"wsid": wsid, "year": year, "month": month}
        )
        return monthly_hilow(dailies, ["wsid", "year", "month"])

    def get_precipitation(self, wsid: str, year: int) -> DataFrame:
        """GetPrecipitation → A3 annual sum over the daily tier
        (PrecipitationActor.scala:39-44).

        Parity note: ISD-lite encodes *trace* precipitation as ``-0.1``
        (sentinel); the reference's counter accumulation sums it as-is, so
        this does too — an annual total can be smaller than the wettest
        single day.  Filter ``one_hour_precip >= 0`` upstream to change
        that policy."""
        dailies = point_lookup(self.daily_precip_table, {"wsid": wsid, "year": year})
        return annual_sum(dailies, ["wsid", "year"])

    def get_top_k_precipitation(self, wsid: str, year: int, k: int = 10) -> DataFrame:
        """GetTopKPrecipitation → A5 (PrecipitationActor.scala:46-54); result
        shape = one row with a desc-sorted ``top`` array
        (Weather.scala:136-138)."""
        dailies = point_lookup(self.daily_precip_table, {"wsid": wsid, "year": year})
        return top_k_values(dailies, ["wsid", "year"], "precipitation", k)

    def get_year_cumulative_precip(self, wsid: str, year: int) -> DataFrame:
        """The ``year_cumulative_precip`` tier — declared & configured in the
        reference (``create-timeseries.cql:86-91``, ``WeatherSettings.scala:163``)
        but never written by any code path; implemented here as the YTD
        running sum over the daily precip tier (flagged extension)."""
        from pyspark.sql import Window

        dailies = point_lookup(self.daily_precip_table, {"wsid": wsid, "year": year})
        w = (
            Window.partitionBy("wsid", "year")
            .orderBy("month", "day")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return dailies.select(
            "wsid", "year", "month", "day",
            F.sum("precipitation").over(w).alias("cumulative"),
        )

    def nearest_stations(self, lat: float, lon: float, k: int = 5) -> DataFrame:
        """K nearest weather stations to a point — the one natural query
        over the ``lat``/``long`` columns the reference stores
        (``create-timeseries.cql:20-22``, loaded from
        ``weather_stations.csv``) but never reads.  Flagged extension, same
        spirit as the declared-but-unimplemented requests.

        Haversine distance as one JVM expression (no UDF), then
        ``orderBy(distance).limit(k)`` — Catalyst plans the bounded-heap
        ``TakeOrderedAndProject``, so the full dimension never sorts.  At
        19k stations this is a single-task scan; at planetary scale,
        prefilter by a geohash/S2 prefix so the scan touches one cell and
        its neighbors, then run the same exact top-k on the survivors."""
        if self.stations is None:
            raise ValueError("no station dimension configured")
        r_earth_km = 6371.0088
        lat1, lon1 = F.radians(F.lit(float(lat))), F.radians(F.lit(float(lon)))
        lat2, lon2 = F.radians(F.col("lat")), F.radians(F.col("long"))
        a = (
            F.pow(F.sin((lat2 - lat1) / 2), 2)
            + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin((lon2 - lon1) / 2), 2)
        )
        dist = F.lit(2 * r_earth_km) * F.asin(F.sqrt(a))
        return (
            self.stations.filter(F.col("lat").isNotNull() & F.col("long").isNotNull())
            .withColumn("distance_km", dist)
            .orderBy("distance_km", "id")
            .limit(k)
        )

    def get_sky_condition_lookup(self, code: int) -> DataFrame:
        """GetSkyConditionLookup — declared-unimplemented in the reference
        (WeatherEvent.scala:55-59); trivial here (flagged extension)."""
        return point_lookup(self.sky_condition_table, {"code": code})

    # -- SQL entry point (≙ CassandraSQLContext, SampleJoin.scala:39-50) ----
    def register_views(self) -> None:
        """Register every table under its reference CQL name
        (``create-timeseries.cql:15-91``) as a Spark SQL view, so each §2.11
        request is also expressible as plain ``spark.sql`` — the rebuild of
        the examples module's ``CassandraSQLContext`` entry point
        (``SampleJoin.scala:39-50``), where Catalyst resolves names against
        the catalog and plans pushdown/joins itself.

        Views are lazy plans over the engine's DataFrames: the daily tiers
        keep their cache status, and filters written in SQL still prune/push
        down into the underlying scans.
        """
        from pyspark.sql import Window

        self._views_registered = True
        self.raw.createOrReplaceTempView("raw_weather_data")
        if self.stations is not None:
            self.stations.createOrReplaceTempView("weather_station")
        self.daily_temperature_table.createOrReplaceTempView(
            "daily_aggregate_temperature"
        )
        self.daily_precip_table.createOrReplaceTempView("daily_aggregate_precip")
        w = (
            Window.partitionBy("wsid", "year")
            .orderBy("month", "day")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        self.daily_precip_table.select(
            "wsid", "year", "month", "day",
            F.sum("precipitation").over(w).alias("cumulative"),
        ).createOrReplaceTempView("year_cumulative_precip")
        self.sky_condition_table.createOrReplaceTempView("sky_condition_lookup")

    def register_sql_functions(self) -> None:
        """Declare the engine's portable primitives as Spark 4 SQL scalar
        UDFs (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``) so the SQL
        entry point can hash/bucket/fix-point exactly like the DataFrame
        modules.  These are SQL-macro expansions, not Python UDFs — they
        inline into the plan and stay in whole-stage codegen.

        - ``portable_bucket(key, salt, m)``: the md5-derived bucket id used
          by the runtime filter, CMS sketch, and LSH families — identical
          on any engine that has md5 (`operators/runtime_filter.py`);
        - ``cents(x)``: fixed-point bigint cents, the engine-wide idiom for
          reduction-order-free numeric aggregation.
        """
        self.spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION portable_bucket("
            "key STRING, salt STRING, m BIGINT) RETURNS BIGINT "
            "RETURN conv(substr(md5(concat(salt, key)), 1, 15), 16, 10) % m"
        )
        self.spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE) "
            "RETURNS BIGINT RETURN cast(round(x * 100) as bigint)"
        )

    def sql(self, query: str) -> DataFrame:
        """Run SQL over the views from :meth:`register_views`
        (≙ ``CassandraSQLContext.sql``, ``SampleJoin.scala:41``)."""
        return self.spark.sql(query)
