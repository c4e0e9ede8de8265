"""Self-tests for the benchmark's generators and arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
They need no Spark session.
"""

from __future__ import annotations

import gzip
import math
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402


def test_serve_inputs_are_a_function_of_the_seed():
    a = gen.serve_inputs(7, stations=5, days=3, seconds=10)
    b = gen.serve_inputs(7, stations=5, days=3, seconds=10)
    c = gen.serve_inputs(8, stations=5, days=3, seconds=10)
    assert (a.history, a.write, a.reads, a.stations) == (
        b.history, b.write, b.reads, b.stations)
    assert a.history != c.history and a.reads != c.reads
    assert gen.gzip_lines(a.history) == gen.gzip_lines(b.history)


def test_serve_inputs_have_the_recorded_properties():
    inp = gen.serve_inputs(3, stations=6, days=4, seconds=12, late_rows=2)
    assert inp.props.stations == 6 and inp.props.days == 4
    assert inp.write_due == pytest.approx(12 * 0.6)
    rows = [gen.parse_line(ln) for ln in inp.history]
    late = [gen.parse_line(ln) for ln in inp.write[6:]]
    # late rows are withheld history hours: older than the write's hour
    newest_hist = max(r[1:5] for r in rows)
    assert len(late) == 2 and all(r[1:5] <= newest_hist for r in late)
    assert all(gen.parse_line(ln)[1:5] > newest_hist for ln in inp.write[:6])
    # history plus late rows is the full grid, each (station, hour) once
    keys = [(r[0], *r[1:5]) for r in rows + late]
    assert len(keys) == len(set(keys)) == 6 * 4 * 24
    # both precip regimes and the trace sentinel occur
    p = [r[11] for r in rows]
    assert any(x > 0 for x in p) and gen.TRACE_PRECIP in p and 0.0 in p
    assert all(r[6] <= r[5] for r in rows)  # dewpoint <= temperature
    # reads name only loaded stations and days
    ids = {s["id"] for s in inp.stations}
    assert all(r["args"].get("wsid", next(iter(ids))) in ids for r in inp.reads)
    assert [r["due"] for r in inp.reads] == sorted(r["due"] for r in inp.reads)


def test_zipf_skews_reads_toward_low_ranks():
    inp = gen.serve_inputs(5, stations=20, days=2, seconds=400)
    ids = [s["id"] for s in inp.stations]
    counts = [sum(1 for r in inp.reads if r["args"].get("wsid") == i) for i in ids]
    assert counts[0] > 3 * max(1, counts[-1])


def test_registry_tables_are_a_function_of_the_seed():
    a, b, c = tables.build(4), tables.build(4), tables.build(5)
    assert list(a) == tables.TABLES
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    # foreign keys resolve, so every join row has inputs
    assert max(a["lineitem"]["l_orderkey"].to_pylist()) < tables.SIZES["orders"]
    assert max(a["orders"]["o_custkey"].to_pylist()) < tables.SIZES["customer"]
    assert "PROMO" in a["part"]["p_type"].to_pylist()
    assert {len(v) for v in a["embeddings"]["embedding"].to_pylist()} == {tables.EMB_DIM}


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([3.0], 90) == 3.0
    assert math.isnan(stats.percentile([], 50))
    assert stats.beyond(100, 90) == 10 and stats.beyond(0, 90) == 0
    with pytest.raises(ValueError):
        stats.percentile(xs, 0)


def test_interquartile_mean_drops_each_outer_quarter():
    assert stats.interquartile_mean([1.0, 2.0, 3.0, 4.0]) == 2.5
    xs = list(range(1, 18))  # 17 values: 4 dropped from each end
    assert stats.interquartile_mean(xs) == statistics.mean(range(5, 14))
    assert stats.interquartile_mean([5.0, 1.0, 1000.0]) == pytest.approx(1006 / 3)
    assert stats.interquartile_mean([7.0]) == 7.0
    assert math.isnan(stats.interquartile_mean([]))


def test_median_matches_statistics():
    for xs in ([1.0], [2.0, 1.0], [5.0, 1.0, 3.0, 2.0]):
        assert stats.median(xs) == statistics.median(xs)


def test_self_time_subtracts_merged_children():
    spans = [
        {"id": 1, "name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "child", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "child", "start": 3.0, "end": 5.0, "parent": 1},
        {"id": 4, "name": "leaf", "start": 1.0, "end": 2.0, "parent": 2},
    ]
    st = stats.self_times(spans)
    assert st["root"] == pytest.approx(6.0)   # 10 - merged [1, 5]
    assert st["child"] == pytest.approx(3.0 - 1.0 + 2.0)
    assert st["leaf"] == pytest.approx(1.0)


def test_oracle_day_stats_is_population_variance():
    s = oracle.day_stats([1.0, 2.0, 3.0, 4.0])
    assert s["mean"] == 2.5 and s["variance"] == pytest.approx(1.25)
    assert s["stdev"] == pytest.approx(math.sqrt(1.25))


def test_oracle_current_weather_sees_writes_by_state():
    inp = gen.serve_inputs(2, stations=3, days=2, seconds=10, late_rows=0)
    o = oracle.ServeOracle(inp.stations, inp.history, inp.write)
    wsid = inp.stations[0]["id"]
    before = o.expected("GetCurrentWeather", {"wsid": wsid}, 0)[0]
    after = o.expected("GetCurrentWeather", {"wsid": wsid}, 1)[0]
    assert (after["year"], after["month"], after["day"], after["hour"]) > (
        before["year"], before["month"], before["day"], before["hour"])
    assert o.check("GetCurrentWeather", {"wsid": wsid}, [after], 0, 1) is None
    assert o.check("GetCurrentWeather", {"wsid": wsid}, [after], 0, 0) is not None


def test_gzip_lines_round_trip():
    lines = ["a,1", "b,2"]
    assert gzip.decompress(gen.gzip_lines(lines)).decode().splitlines() == lines


def test_benchmark_json_lists_the_reported_metrics():
    import json

    import metrics

    path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
    with open(path) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
