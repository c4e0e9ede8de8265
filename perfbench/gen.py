"""Seeded input generator for the ``serve`` workload.

Everything serve feeds the program comes from here and depends only on the
seed and the named size parameters: ISD-lite hourly observations
(``.csv.gz``, 13 positional fields), ``weather_stations.csv`` and the read
and write schedules.  The program under test receives only the generated
files and requests.

``Properties`` holds the input properties the workload depends on; each run
records the values it used so a reader can see what the numbers were
measured on.  The shares (popularity exponent, late rows, precipitation,
trace sentinel) are assumptions, not measurements of real traffic; the
README lists the basis of each and how much the bounded metrics move when
they change.
"""

from __future__ import annotations

import calendar
import gzip
import io
import math
import random
from dataclasses import asdict, dataclass

YEAR = 2008
SKY_CODES = 20          # sky_condition_lookup has codes 0..19
TRACE_PRECIP = -0.1     # ISD-lite trace-precipitation sentinel
# Assumed input shares (README.md, "Inputs and what is assumed")
ZIPF_S = 1.1            # station popularity exponent for reads
PRECIP_SHARE = 0.08     # hours with nonzero precipitation
TRACE_SHARE = 0.02      # hours carrying the trace sentinel


@dataclass(frozen=True)
class Properties:
    """Input properties the workloads depend on (recorded in every result)."""

    stations: int
    days: int                   # observation days loaded before the run
    zipf_s: float               # station popularity exponent for reads
    late_share: float           # share of written rows that are late
    precip_share: float         # share of hours with nonzero precip mass
    trace_share: float          # share of hours carrying the -0.1 sentinel

    def as_dict(self) -> dict:
        return asdict(self)


def station_ids(rng: random.Random, n: int) -> list[str]:
    """Distinct ``USAF:WBAN`` ids, sorted so rank order is seed-stable."""
    ids: set[str] = set()
    while len(ids) < n:
        ids.add(f"{rng.randrange(700000, 999999):06d}:{rng.randrange(10000, 99999):05d}")
    return sorted(ids)


def station_rows(rng: random.Random, ids: list[str]) -> list[dict]:
    """One ``weather_station`` row per id (8 fields, load-timeseries order)."""
    states = ["CA", "NY", "TX", "WA", "FL", "IL", "CO", "MA"]
    out = []
    for i, wsid in enumerate(ids):
        out.append({
            "id": wsid,
            "name": f"STATION {i:03d} AIRPORT",
            "country_code": "US",
            "state_code": states[i % len(states)],
            "call_sign": f"K{chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}{i % 10}",
            "lat": round(rng.uniform(25.0, 49.0), 3),
            "long": round(rng.uniform(-124.0, -67.0), 3),
            "elevation": round(rng.uniform(0.0, 2500.0), 1),
        })
    return out


def stations_csv(rows: list[dict]) -> str:
    buf = io.StringIO()
    for r in rows:
        buf.write(
            f"{r['id']},{r['name']},{r['country_code']},{r['state_code']},"
            f"{r['call_sign']},{r['lat']},{r['long']},{r['elevation']}\n"
        )
    return buf.getvalue()


def calendar_hours(days: int, start_day: int = 0) -> list[tuple[int, int, int, int]]:
    """(year, month, day, hour) for ``days`` whole days from day-of-year
    ``start_day`` (0-based) of :data:`YEAR`."""
    out = []
    doy = 0
    for month in range(1, 13):
        for day in range(1, calendar.monthrange(YEAR, month)[1] + 1):
            if start_day <= doy < start_day + days:
                out.extend((YEAR, month, day, h) for h in range(24))
            doy += 1
    return out


def observation(rng: random.Random, wsid_idx: int, ymdh: tuple[int, int, int, int],
                props: Properties) -> tuple:
    """One hourly observation as the 13 typed CSV fields."""
    year, month, day, hour = ymdh
    season = -math.cos(2 * math.pi * (month - 1 + day / 31.0) / 12.0)
    diurnal = -math.cos(2 * math.pi * (hour - 3) / 24.0)
    temp = round(10.0 + (wsid_idx % 7) + 12.0 * season + 5.0 * diurnal
                 + rng.gauss(0.0, 2.0), 1)
    dew = round(temp - abs(rng.gauss(3.0, 2.0)), 1)
    u = rng.random()
    if u < props.trace_share:
        p1 = TRACE_PRECIP
    elif u < props.trace_share + props.precip_share:
        p1 = round(rng.expovariate(1 / 1.5) + 0.1, 1)
    else:
        p1 = 0.0
    p6 = round(max(p1, 0.0) * rng.uniform(1.0, 4.0), 1) if p1 > 0 else 0.0
    return (
        None, year, month, day, hour, temp, dew,
        round(rng.uniform(990.0, 1035.0), 1), rng.randrange(0, 360),
        round(abs(rng.gauss(4.0, 2.5)), 1), rng.randrange(0, SKY_CODES), p1, p6,
    )


def csv_line(wsid: str, obs: tuple) -> str:
    _, y, m, d, h, t, dp, pr, wd, ws, sky, p1, p6 = obs
    return f"{wsid},{y},{m:02d},{d:02d},{h:02d},{t},{dp},{pr},{wd},{ws},{sky},{p1},{p6}"


def parse_line(line: str) -> tuple:
    """The typed 13-tuple of one CSV line (wsid first), as Spark reads it."""
    f = line.split(",")
    return (f[0], int(f[1]), int(f[2]), int(f[3]), int(f[4]), float(f[5]),
            float(f[6]), float(f[7]), int(f[8]), float(f[9]), int(f[10]),
            float(f[11]), float(f[12]))


def gzip_lines(lines: list[str]) -> bytes:
    # mtime=0 keeps the bytes a pure function of the lines
    return gzip.compress(("\n".join(lines) + "\n").encode(), mtime=0)


def zipf_weights(n: int, s: float) -> list[float]:
    w = [1.0 / (r + 1) ** s for r in range(n)]
    tot = sum(w)
    return [x / tot for x in w]


# --------------------------------------------------------------------------
# serve: one loaded history, an hourly write schedule, an open-loop read mix
# --------------------------------------------------------------------------

# The demo client's cadence: six requests every 2 s per client
# (api/serving.py client_loop), plus low-weight GetMonthlyTemperature and
# GetSkyConditionLookup, the two requests the demo client never sends.
CLIENT_MIX = [
    "GetWeatherStation", "GetCurrentWeather", "GetDailyTemperature",
    "GetMonthlyHiLowTemperature", "GetPrecipitation", "GetTopKPrecipitation",
]
EXTRA_MIX = ["GetMonthlyTemperature", "GetSkyConditionLookup"]


@dataclass
class ServeInputs:
    props: Properties
    stations: list[dict]
    history: list[str]               # CSV lines loaded before the run
    write: list[str]                 # CSV lines of the one scheduled write
    write_due: float                 # seconds after start
    reads: list[dict]                # {"id", "due", "request", "args"}


def serve_inputs(seed: int, *, stations: int = 40, days: int = 7,
                 seconds: float = 20.0, cycle_s: float = 2.0,
                 extra_per_s: float = 0.5, write_at: float = 0.6,
                 late_rows: int = 4) -> ServeInputs:
    """History of ``days`` days for ``stations`` stations; one write, due
    ``write_at`` of the way into the window, of the next hour for every
    station plus ``late_rows`` rows withheld from the history (each from a
    different day while days last); reads due on an open-loop schedule over
    ``seconds`` from one demo client."""
    rng = random.Random(seed)
    props = Properties(stations, days, ZIPF_S, late_rows / (stations + late_rows),
                       PRECIP_SHARE, TRACE_SHARE)
    ids = station_ids(rng, stations)
    st = station_rows(rng, ids)
    hours = calendar_hours(days)
    next_hour = calendar_hours(1, start_day=days)[0]
    picked = rng.sample(range(days), min(days, late_rows))
    withheld: set[int] = set()
    for j in range(late_rows):
        day = picked[j % len(picked)]
        while True:
            slot = (day * 24 + rng.randrange(24)) * stations + rng.randrange(stations)
            if slot not in withheld:
                withheld.add(slot)
                break
    history, late = [], []
    k = 0
    for ymdh in hours:
        for i, wsid in enumerate(ids):
            line = csv_line(wsid, observation(rng, i, ymdh, props))
            (late if k in withheld else history).append(line)
            k += 1
    write = [csv_line(wsid, observation(rng, i, next_hour, props))
             for i, wsid in enumerate(ids)] + late

    weights = zipf_weights(stations, ZIPF_S)
    days_list = sorted({(y, m, d) for y, m, d, _ in hours})
    reads = []

    def args_for(name: str) -> dict:
        wsid = rng.choices(ids, weights)[0]
        y, m, d = rng.choice(days_list)
        return {
            "GetWeatherStation": {"wsid": wsid},
            "GetCurrentWeather": {"wsid": wsid},
            "GetDailyTemperature": {"wsid": wsid, "year": y, "month": m, "day": d},
            "GetMonthlyTemperature": {"wsid": wsid, "year": y, "month": m},
            "GetMonthlyHiLowTemperature": {"wsid": wsid, "year": y, "month": m},
            "GetPrecipitation": {"wsid": wsid, "year": y},
            "GetTopKPrecipitation": {"wsid": wsid, "year": y},
            "GetSkyConditionLookup": {"code": rng.randrange(0, SKY_CODES)},
        }[name]

    # the client sends its six requests once per ``cycle_s``, spread evenly
    # over the cycle (the reference fires them at once; four connections
    # would turn that burst into a queue inside the generator)
    step = cycle_s / len(CLIENT_MIX)
    t = 0.0
    while t < seconds:
        for j, name in enumerate(CLIENT_MIX):
            if t + j * step < seconds:
                reads.append({"due": t + j * step, "request": name,
                              "args": args_for(name)})
        t += cycle_s
    # the two extra requests alternate at a fixed rate between them
    for j in range(int(seconds * extra_per_s)):
        name = EXTRA_MIX[j % len(EXTRA_MIX)]
        reads.append({"due": (j + 0.5) / extra_per_s, "request": name,
                      "args": args_for(name)})
    reads.sort(key=lambda r: r["due"])
    for i, r in enumerate(reads):
        r["id"] = f"r{i}"
    return ServeInputs(props, st, history, write, seconds * write_at, reads)
