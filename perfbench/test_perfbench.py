"""Tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402
import run as bench_run  # noqa: E402
import tracing as tr  # noqa: E402
import workloads  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


# -- seeded generators -------------------------------------------------------

def test_tract_response_is_deterministic_per_seed():
    vars_ = list(datagen.VARIABLES)
    a = datagen.tract_response(7, "39", vars_)
    assert a == datagen.tract_response(7, "39", vars_)
    assert a != datagen.tract_response(8, "39", vars_)
    assert a[0] == ["NAME", *vars_, "state", "county", "tract"]
    values = [v for row in a[1:] for v in row[1:-3]]
    assert any(v in datagen.SENTINELS for v in values)
    assert any(v in datagen.JUNK for v in values)


def test_boundaries_are_deterministic_and_partial():
    a = datagen.boundary_records(7, "39")
    assert a == datagen.boundary_records(7, "39")
    assert a != datagen.boundary_records(8, "39")
    tracts = {r[-3] + r[-2] + r[-1]
              for r in datagen.tract_response(7, "39", ["B01003_001E"])[1:]}
    geoids = {g for g, _ in a}
    assert tracts - geoids, "some tracts must have no boundary"
    assert geoids - tracts, "some boundaries must match no tract"


def test_transport_answers_the_client_url():
    from urllib.parse import urlencode

    t = datagen.Transport(3)
    url = "https://example.invalid/data/2022/acs/acs5?" + urlencode(
        {"get": "NAME,B01003_001E", "for": "tract:*", "in": "state:06"})
    assert t(url) == datagen.tract_response(3, "06", ["B01003_001E"])
    assert t.calls == 1 and t.busy_s > 0


def test_lake_is_deterministic():
    a = datagen.lake_tables(seed=42, scale=0.001)
    b = datagen.lake_tables(seed=42, scale=0.001)
    c = datagen.lake_tables(seed=43, scale=0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


# -- census_etl expected totals ----------------------------------------------

def test_expected_totals_on_two_states(monkeypatch):
    header = ["NAME", *datagen.VARIABLES, "state", "county", "tract"]
    i_pop, i_pov = header.index("B01003_001E"), header.index("B17001_002E")

    def row(state, tract, pop, pov):
        r = ["x"] * len(header)
        r[i_pop], r[i_pov] = pop, pov
        r[-3:] = [state, "001", tract]
        return r

    responses = {
        "01": [header, row("01", "000100", "100", "10"),
               row("01", "000200", "-666666666", "N/A"),
               row("01", "000300", " 50 ", "5")],
        "02": [header, row("02", "000100", "7", "-999999999")],
    }
    boundaries = {
        "01": [("01001000100", "POINT(0 0)"), ("01999000000", "POINT(9 9)")],
        "02": [("02001000100", "POINT(0 0)")],
    }
    monkeypatch.setattr(datagen, "tract_response", lambda seed, s, v: responses[s])
    monkeypatch.setattr(datagen, "boundary_records", lambda seed, s: boundaries[s])
    assert datagen.expected_state_totals(0, "01") == {
        "rows": 3, "total_population": 150.0, "below_poverty_level": 15.0, "unmatched": 2}
    assert datagen.expected_state_totals(0, "02") == {
        "rows": 1, "total_population": 7.0, "below_poverty_level": 0.0, "unmatched": 0}


def test_national_check_blames_the_op_that_wrote_the_state(monkeypatch):
    totals = {"rows": 2, "total_population": 3.0, "below_poverty_level": 1.0, "unmatched": 0}
    monkeypatch.setattr(datagen, "expected_state_totals", lambda seed, s: dict(totals))
    wl = workloads.CensusWorkload()
    wl.totals, wl.written = {}, {"01"}
    run = workloads.Run(None, None, "", "", "", "census_etl", 7)

    def row(state, rows):
        return {"state": state, "rows": rows, "total_population": 3.0,
                "below_poverty_level": 1.0, "unmatched": 0}

    sources = {"01": 7, "02": datagen.LAKE_SEED}
    assert wl.check(run, "national", (sources, [row("01", 2), row("02", 2)])) == {}
    bad = wl.check(run, "national", (sources, [row("01", 1), row("02", 2)]))
    assert set(bad) == {"state:01", "national"}
    bad = wl.check(run, "national", (sources, [row("01", 2), row("02", 1)]))
    assert set(bad) == {"national"}


# -- distributed vs local-tail parity ----------------------------------------

def test_tail_parity_rule():
    tail = [(1, 0.1234567), (2, 5.0)]
    assert checks.tail_parity(tail, [(2, 5.0), (1, 0.1234567)]) is None
    assert checks.tail_parity(tail, [(2, 5.0), (1, 0.12345670000001)]) is None
    assert checks.tail_parity(tail, [(2, 5.0), (1, 0.123458)]) is not None
    assert checks.tail_parity(tail, [(1, 0.1234567)]) is not None


def test_functions_metrics_per_call():
    spans = [
        {"name": "functions", "op": "a", "group": "g:a", "start": 0.0, "end": 2.0,
         "jobs": 4, "stages": 6},
        {"name": "functions", "op": "b", "group": "g:b", "start": 0.0, "end": 1.0,
         "jobs": 2, "stages": 2},
        {"name": "plans", "op": "a", "group": "g:p", "start": 0.0, "end": 9.0,
         "jobs": 9, "stages": 9},
    ]
    task = {"g:a": {"task_run_s": 1.0, "shuffle_write_mb": 0.5}}
    got = bench_run.functions_metrics(spans, task, {"a", "b"})
    assert got == {"functions.call_s": 1.5, "functions.call_jobs": 3.0,
                   "functions.call_stages": 4.0, "functions.task_run_s": 0.5,
                   "functions.shuffle_write_mb": 0.25}
    assert set(bench_run.functions_metrics(spans, task, set()).values()) == {0.0}


# -- latency percentiles -----------------------------------------------------

@pytest.mark.parametrize("n,expected", [
    (5, None), (10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99),
])
def test_tail_percentile_rule(n, expected):
    p = tr.tail_percentile(n)
    assert p == expected
    if p is not None:
        beyond = n - tr.percentile(list(range(n)), p) - 1
        assert beyond >= 10
        assert n - tr.percentile(list(range(n)), p + 1) - 1 < 10


def test_latency_summary_counts_samples():
    s = tr.latency_summary([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50_s": 50.5, "tail_pct": 90, "tail_s": 90.0}
    few = tr.latency_summary([3.0, 1.0, 2.0])
    assert few == {"n": 3, "p50_s": 2.0, "tail_pct": 100, "tail_s": 3.0}


# -- spans and the event log -------------------------------------------------

def test_self_time_subtracts_children():
    spans = [
        {"name": "op", "op": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "plans", "op": "a", "parent": 0, "start": 0.0, "end": 6.0},
        {"name": "exec", "op": "a", "parent": 0, "start": 6.0, "end": 9.0},
        {"name": "op", "op": "b", "parent": None, "start": 10.0, "end": 11.0},
    ]
    assert tr.self_times(spans) == {"op": 2.0, "plans": 6.0, "exec": 3.0}
    assert tr.self_times(spans, {"a"}) == {"op": 1.0, "plans": 6.0, "exec": 3.0}


def test_event_log_parser_on_captured_log():
    with open(os.path.join(FIXTURES, "eventlog_tiny.jsonl")) as fh:
        got = tr.parse_event_log(fh)
    assert set(got) == {"bench:count#1:exec", "bench:shuffle#2:exec"}
    count, shuffle = got["bench:count#1:exec"], got["bench:shuffle#2:exec"]
    # a global sum (2 map tasks + 1 reduce) and a group-by (2 + 2)
    assert count["tasks"] == 3 and shuffle["tasks"] == 4
    assert count["task_run_s"] == pytest.approx(0.333)
    assert shuffle["task_run_s"] == pytest.approx(0.372)
    assert shuffle["jvm_gc_s"] == pytest.approx(0.012)
    for m in got.values():
        assert 0 < m["task_cpu_s"] < m["task_run_s"]
        assert m["shuffle_write_mb"] > 0
        assert m["shuffle_read_mb"] == pytest.approx(m["shuffle_write_mb"])
        assert m.get("failed_tasks", 0) == 0
