"""Percentile and span arithmetic shared by the workloads.

Pure functions over plain numbers so the self-tests can pin them.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``% of
    the sample at or below it.  ``q`` in (0, 100]; NaN for no values."""
    xs = sorted(values)
    if not xs:
        return math.nan
    if not 0 < q <= 100:
        raise ValueError(f"percentile q={q} outside (0, 100]")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - max(1, math.ceil(q / 100.0 * n)) if n else 0


def interquartile_mean(values: Iterable[float]) -> float:
    """Mean of the middle half: the sorted sample without its lowest and
    highest ``n // 4`` values.  NaN for no values."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = len(xs) // 4
    mid = xs[k:len(xs) - k]
    return sum(mid) / len(mid)


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        return math.nan
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval covered by its direct children (overlapping children
    are merged, so concurrent children are not double-subtracted)."""
    children: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
