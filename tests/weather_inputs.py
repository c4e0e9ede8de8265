"""Seeded ISD-lite inputs for the engine, serving and ingest tests.

Writes the files those tests read, in the reference's ``data/`` layout
(FIXTURES.md §1–2), under :data:`WEATHER_INPUTS`:

- ``load/sf-2008.csv.gz`` — one station (``724940:23234``), every hour of
  2008;
- ``load/ny-sf-2008.csv.gz`` — that station plus ``725030:14732``, 2008;
- ``load/sfo-nyc-mia-lax-chi-2008-2014.csv.zip`` — five stations, every
  hour of 2008–2014 (~307k rows), one CSV member;
- ``weather_stations.csv`` — the 8-field station dimension: the five
  stations above plus seeded stations worldwide, a few without
  coordinates (the dimension's nullable ``lat``/``long``).

Observation lines carry the 13 positional fields of FIXTURES.md §1, with
zero-padded month/day/hour as in the reference's files.  Each
(station, year) draws from its own seeded stream, so a station-year is
byte-identical in every file that holds it, as in the reference's samples.
Temperature follows a seasonal plus diurnal cycle with noise; dewpoint never
exceeds it; precipitation falls in rainy-day episodes, and a small share of
hours carries the ISD-lite trace sentinel ``-0.1`` that the engine
documents (``WeatherEngine.get_precipitation``) — FIXTURES.md §1 asks for
``>= 0`` only, the sentinel is kept so the annual/top-k paths see it.

Everything is a pure function of :data:`SEED`; :func:`write_weather_inputs`
rewrites the files atomically, so concurrent sessions see whole files.
"""

from __future__ import annotations

import calendar
import gzip
import io
import math
import os
import pathlib
import random
import tempfile
import zipfile

SEED = 2008
#: the one root every test reaches the generated inputs through
WEATHER_INPUTS = pathlib.Path(tempfile.gettempdir()) / f"killrweather-inputs-{SEED}"

SF, NY, MIA, LAX, CHI = (
    "724940:23234", "725030:14732", "722020:12839", "722950:23174",
    "725300:94846",
)
# (id, name, country, state, call sign, lat, long, elevation m, mean °C)
NAMED_STATIONS = [
    (SF, "SAN FRANCISCO INTL", "US", "CA", "KSFO", 37.62, -122.365, 2.4, 14.0),
    (NY, "LA GUARDIA AIRPORT", "US", "NY", "KLGA", 40.779, -73.88, 3.4, 13.0),
    (MIA, "MIAMI INTL AIRPORT", "US", "FL", "KMIA", 25.791, -80.316, 8.8, 25.0),
    (LAX, "LOS ANGELES INTL", "US", "CA", "KLAX", 33.938, -118.389, 29.6, 17.5),
    (CHI, "CHICAGO O HARE INTL", "US", "IL", "KORD", 41.995, -87.934, 201.8, 10.0),
]
EXTRA_STATIONS = 300
NO_COORD_SHARE = 0.05   # stations with empty lat/long
RAIN_DAY_SHARE = 0.3    # days with a rain episode
RAIN_HOUR_SHARE = 0.35  # hours with precipitation inside a rainy day
TRACE_SHARE = 0.01      # hours carrying the trace sentinel
TRACE_PRECIP = -0.1

FILES = {
    "load/sf-2008.csv.gz": ([SF], [2008]),
    "load/ny-sf-2008.csv.gz": ([NY, SF], [2008]),
    "load/sfo-nyc-mia-lax-chi-2008-2014.csv.zip": (
        [SF, NY, MIA, LAX, CHI], list(range(2008, 2015)),
    ),
}


def station_year_lines(wsid: str, year: int) -> list[str]:
    """Every hourly observation line of one station-year."""
    idx = [s[0] for s in NAMED_STATIONS].index(wsid)
    mean_c = NAMED_STATIONS[idx][8]
    rng = random.Random(f"{SEED}:{wsid}:{year}")
    lines = []
    for month in range(1, 13):
        for day in range(1, calendar.monthrange(year, month)[1] + 1):
            season = -math.cos(2 * math.pi * (month - 1 + (day - 1) / 31.0) / 12.0)
            day_offset = rng.gauss(0.0, 2.5)
            rainy = rng.random() < RAIN_DAY_SHARE
            six = 0.0
            for hour in range(24):
                diurnal = -math.cos(2 * math.pi * (hour - 3) / 24.0)
                temp = round(mean_c + 9.0 * season + 4.5 * diurnal + day_offset
                             + rng.gauss(0.0, 1.2), 1)
                dew = round(temp - abs(rng.gauss(3.5, 2.0)), 1)
                u = rng.random()
                if u < TRACE_SHARE:
                    p1 = TRACE_PRECIP
                elif rainy and u < TRACE_SHARE + RAIN_HOUR_SHARE:
                    p1 = round(rng.expovariate(1 / 1.2) + 0.1, 1)
                else:
                    p1 = 0.0
                six += max(p1, 0.0)
                p6 = 0.0
                if hour % 6 == 5:
                    p6, six = round(six, 1), 0.0
                pressure = round(1013.0 + rng.gauss(0.0, 6.0), 1)
                sky = rng.randrange(0, 20) if rainy else rng.randrange(0, 9)
                lines.append(
                    f"{wsid},{year},{month:02d},{day:02d},{hour:02d},{temp},{dew},"
                    f"{pressure},{rng.randrange(0, 360)},"
                    f"{round(abs(rng.gauss(4.0, 2.5)), 1)},{sky},{p1},{p6}\n"
                )
    return lines


def stations_csv() -> str:
    rng = random.Random(f"{SEED}:stations")
    rows = [",".join(map(str, s[:8])) for s in NAMED_STATIONS]
    for i in range(EXTRA_STATIONS):
        wsid = f"{rng.randrange(10000, 999999):06d}:{rng.randrange(10000, 99999):05d}"
        lat, lon = round(rng.uniform(-60.0, 75.0), 3), round(rng.uniform(-180.0, 180.0), 3)
        coords = ("", "") if rng.random() < NO_COORD_SHARE else (lat, lon)
        state = rng.choice(["CA", "NY", "TX", "WA", ""])
        rows.append(
            f"{wsid},STATION {i:03d},{rng.choice(['US', 'CA', 'MX', 'FR', 'AU'])},"
            f"{state},K{i:03d},{coords[0]},{coords[1]},{round(rng.uniform(0, 3000), 1)}"
        )
    return "\n".join(rows) + "\n"


def _write_atomic(path: pathlib.Path, data: bytes) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=path.parent, prefix=f".{path.name}.")
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def write_weather_inputs(root: pathlib.Path = WEATHER_INPUTS) -> pathlib.Path:
    """(Re)write every input file under ``root`` and return ``root``."""
    for rel, (stations, years) in FILES.items():
        text = "".join(
            line for wsid in stations for year in years
            for line in station_year_lines(wsid, year)
        ).encode()
        if rel.endswith(".gz"):
            data = gzip.compress(text, mtime=0)
        else:
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                # fixed timestamp keeps the bytes a pure function of SEED
                info = zipfile.ZipInfo(pathlib.Path(rel).stem + ".csv",
                                       date_time=(2015, 1, 1, 0, 0, 0))
                z.writestr(info, text, compress_type=zipfile.ZIP_DEFLATED)
            data = buf.getvalue()
        _write_atomic(root / rel, data)
    _write_atomic(root / "weather_stations.csv", stations_csv().encode())
    return root
