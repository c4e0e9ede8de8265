"""Pure-Python recomputation of the answers the program must give.

Every serve ``/ask`` answer is recomputed from the generated rows at each
write state the request could have seen.  Floating results are compared with a
tolerance because Spark sums doubles in a partition-dependent order.
"""

from __future__ import annotations

import math
from collections import defaultdict

from gen import parse_line

FIELDS = ("wsid", "year", "month", "day", "hour", "temperature", "dewpoint",
          "pressure", "wind_direction", "wind_speed", "sky_condition",
          "one_hour_precip", "six_hour_precip")
REL_TOL = 1e-9
ABS_TOL = 1e-6


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def day_stats(temps: list[float]) -> dict:
    """high/low/mean/population variance/stdev of one day's temperatures."""
    n = len(temps)
    mean = sum(temps) / n
    var = max(0.0, sum((t - mean) ** 2 for t in temps) / n)
    return {"high": max(temps), "low": min(temps), "mean": mean,
            "variance": var, "stdev": math.sqrt(var)}


class ServeOracle:
    """Expected ``/ask`` answers before (``k=0``) and after (``k=1``) the
    one scheduled write."""

    def __init__(self, stations: list[dict], history: list[str], write: list[str]):
        self.stations = {s["id"]: s for s in stations}
        self.by_station: dict[str, list[tuple]] = defaultdict(list)
        for line in history:
            r = parse_line(line)
            self.by_station[r[0]].append(r)
        self.write = [parse_line(line) for line in write]

    def rows(self, wsid: str, k: int) -> list[tuple]:
        out = list(self.by_station.get(wsid, ()))
        if k:
            out += [r for r in self.write if r[0] == wsid]
        return out

    def daily(self, wsid: str, k: int, **key) -> dict[tuple, list[tuple]]:
        days: dict[tuple, list[tuple]] = defaultdict(list)
        for r in self.rows(wsid, k):
            if all(r[FIELDS.index(c)] == v for c, v in key.items()):
                days[(r[1], r[2], r[3])].append(r)
        return days

    def expected(self, request: str, args: dict, k: int) -> list[dict]:
        wsid = args.get("wsid")
        if request == "GetWeatherStation":
            s = self.stations.get(wsid)
            return [dict(s)] if s else []
        if request == "GetCurrentWeather":
            rows = self.rows(wsid, k)
            if not rows:
                return []
            return [dict(zip(FIELDS, max(rows, key=lambda r: r[1:5])))]
        if request == "GetDailyTemperature":
            key = {"year": args["year"], "month": args["month"], "day": args["day"]}
            days = self.daily(wsid, k, **key)
            return [{"wsid": wsid, **key, **day_stats([r[5] for r in rs])}
                    for rs in days.values()]
        if request in ("GetMonthlyTemperature", "GetMonthlyHiLowTemperature"):
            key = {"year": args["year"], "month": args["month"]}
            days = self.daily(wsid, k, **key)
            if not days:
                return []
            st = [day_stats([r[5] for r in rs]) for rs in days.values()]
            out = {"wsid": wsid, **key, "high": max(s["high"] for s in st),
                   "low": min(s["low"] for s in st)}
            if request == "GetMonthlyTemperature":
                out["mean"] = sum(s["mean"] for s in st) / len(st)
            return [out]
        if request in ("GetPrecipitation", "GetTopKPrecipitation"):
            days = self.daily(wsid, k, year=args["year"])
            if not days:
                return []
            sums = [sum(r[11] for r in rs) for rs in days.values()]
            if request == "GetPrecipitation":
                return [{"wsid": wsid, "year": args["year"], "total": sum(sums)}]
            top = sorted(sums, reverse=True)[: args.get("k", 10)]
            return [{"wsid": wsid, "year": args["year"], "top": top}]
        if request == "GetSkyConditionLookup":
            return [{"code": args["code"]}]
        raise ValueError(f"unknown request {request!r}")

    def check(self, request: str, args: dict, got: list[dict],
              k_lo: int, k_hi: int) -> str | None:
        """None if ``got`` equals the answer at some write state in
        ``[k_lo, k_hi]``; otherwise a one-line reason."""
        reason = "no state"
        for k in range(k_lo, k_hi + 1):
            reason = rows_mismatch(request, self.expected(request, args, k), got)
            if reason is None:
                return None
        return f"{reason} (states {k_lo}..{k_hi})"


def rows_mismatch(request: str, want: list[dict], got: list[dict]) -> str | None:
    if len(want) != len(got):
        return f"{len(got)} rows, expected {len(want)}"
    for w, g in zip(want, got):
        if request == "GetSkyConditionLookup":
            if g.get("code") != w["code"] or not g.get("condition"):
                return f"sky row {g}"
            continue
        for col, val in w.items():
            gv = g.get(col)
            if isinstance(val, list):
                if not isinstance(gv, list) or len(gv) != len(val) or not all(
                        close(a, b) for a, b in zip(val, gv)):
                    return f"{col}={gv} expected {val}"
            elif not close(val, gv):
                return f"{col}={gv!r} expected {val!r}"
    return None
