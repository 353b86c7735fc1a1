"""Unit tests for bench.py's outlier guard and its reference — pure
file logic, no Spark. The reference for a query is bench.py's most
recent timing of it at the same cpus and sf, kept in the run record;
the guard must trip at more than 2x that reference, ignore timings
from other core counts or scale factors, and never crash on a
missing or broken record (a broken guard silently disables re-runs)."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import guard_reference, guard_trips, save_record


def _record(queries, cpus=4, sf=0.1):
    return {"queries": queries, "cpus": cpus, "sf": sf, "value": 0.0}


def test_planted_slowdown_trips_the_guard(tmp_path):
    path = str(tmp_path / "bench_last.json")
    save_record(path, _record({"q": 1.0}))
    ref = guard_reference(path, 4, 0.1)["q"]
    assert guard_trips(2.5, ref)
    assert not guard_trips(1.9, ref)
    # the floor still applies: sub-floor timings never trip
    assert not guard_trips(0.35, 0.1)


def test_reference_ignores_other_cpus_and_sf(tmp_path):
    """Timings taken at another core count or scale factor set no
    reference: a 32-core record would hide a 4-core regression, and
    sf0.001 smoke timings would trip every sf0.1 query."""
    path = str(tmp_path / "bench_last.json")
    save_record(path, _record({"q": 1.0}, cpus=32))
    save_record(path, _record({"q": 1.0}, sf=0.001))
    assert guard_reference(path, 4, 0.1) == {}
    assert not guard_trips(2.5, guard_reference(path, 4, 0.1).get("q"))
    # and neither run erased the other's reference
    assert guard_reference(path, 32, 0.1) == {"q": 1.0}
    assert guard_reference(path, 4, 0.001) == {"q": 1.0}


def test_subset_run_keeps_references_it_did_not_time(tmp_path):
    path = str(tmp_path / "bench_last.json")
    save_record(path, _record({"a": 1.0, "b": 2.0}))
    save_record(path, _record({"a": 0.5}))
    assert guard_reference(path, 4, 0.1) == {"a": 0.5, "b": 2.0}
    with open(path) as f:
        assert json.load(f)["queries"] == {"a": 0.5}


def test_missing_corrupt_or_non_object_file_gives_no_reference(tmp_path):
    path = tmp_path / "bench_last.json"
    assert guard_reference(str(path), 4, 0.1) == {}
    for text in ("{not json", "[1, 2, 3]", '{"queries": {"q": 1.0}}',
                 '{"references": [1]}'):
        path.write_text(text)
        assert guard_reference(str(path), 4, 0.1) == {}, text
    # the next run overwrites a broken record with a usable one
    save_record(str(path), _record({"q": 1.0}))
    assert guard_reference(str(path), 4, 0.1) == {"q": 1.0}


def test_publish_line_fits_every_headline_name():
    """The curated HEADLINE fits the driver's bounded stdout tail by
    construction (1900 chars, headroom under the observed ~2000-char
    tail), so every benched query is published and none is shed — the
    shed's missing names were flagged as dropped_from_bench by the
    driver's round diff (PERF_r16/r17). Worst-case widths: 4-char
    timings, a 3-digit total, the three longest names as reruns, 3
    attempts."""
    from bench import HEADLINE, publish_line

    t = {n: 9.99 for n in HEADLINE}
    longest = sorted(HEADLINE, key=len, reverse=True)[:3]
    line = publish_line(t, 999.99, 99.99, longest, 3, 0.1)
    d = json.loads(line)
    assert len(line) <= 1900, len(line)
    assert set(d["queries"]) == set(HEADLINE)
    assert d["queries_dropped"] == 0 and d["n_queries"] == len(HEADLINE)
