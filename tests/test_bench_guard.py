"""Unit tests for bench.py's outlier-guard reference loader — pure
file logic, no Spark: the guard must read the LATEST strictly-named
BENCH round, unwrap the driver's "parsed" envelope, and never crash on
stray or corrupt files (a broken guard silently disables re-runs)."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _prior_timings


def _write(d, name, payload):
    (d / name).write_text(json.dumps(payload))


def test_prior_timings_min_of_last_two_rounds(tmp_path):
    """The guard reference is the per-query MINIMUM across the last
    two rounds CONTAINING the query (r11 hardening: one contended
    publication must not become the sole comparison base; r12: shed
    queries look back, bounded at four rounds), with queries known to
    only one round still covered."""
    _write(tmp_path, "BENCH_r07.json",
           {"parsed": {"queries": {"q": 0.1}}})  # 3rd-most-recent for q
    _write(tmp_path, "BENCH_r08.json",
           {"parsed": {"queries": {"q": 1.0, "only8": 3.0}}})
    _write(tmp_path, "BENCH_r09.json",
           {"parsed": {"queries": {"q": 2.0, "only9": 4.0}}})
    assert _prior_timings(str(tmp_path)) == {
        "q": 1.0, "only8": 3.0, "only9": 4.0,
    }


def test_prior_timings_skips_other_scale_factors(tmp_path):
    """A round recorded at a different sf is not a valid reference —
    sf0.001 smoke timings would trip the guard on every sf0.1 query
    and spin the systemic-contention restart loop."""
    _write(tmp_path, "BENCH_r08.json",
           {"parsed": {"queries": {"q": 0.01}, "sf": 0.001}})
    _write(tmp_path, "BENCH_r09.json",
           {"parsed": {"queries": {"q": 2.0}, "sf": 0.1}})
    assert _prior_timings(str(tmp_path), sf=0.1) == {"q": 2.0}
    # sf unknown on the record (pre-r11 artifacts): still adopted
    _write(tmp_path, "BENCH_r10.json", {"parsed": {"queries": {"q": 1.5}}})
    assert _prior_timings(str(tmp_path), sf=0.1) == {"q": 1.5}


def test_prior_timings_strict_name_and_corrupt_tolerance(tmp_path):
    _write(tmp_path, "BENCH_r08.json", {"parsed": {"queries": {"q": 1.0}}})
    # stray variant must not be parsed as a later round
    _write(tmp_path, "BENCH_r08_v2.json", {"parsed": {"queries": {"q": 9.0}}})
    (tmp_path / "BENCH_r10.json").write_text("{not json")
    assert _prior_timings(str(tmp_path)) == {"q": 1.0}


def test_prior_timings_unwrapped_and_empty(tmp_path):
    # bench.py's own raw output (no driver envelope) also works
    _write(tmp_path, "BENCH_r03.json", {"queries": {"x": 0.5}})
    assert _prior_timings(str(tmp_path)) == {"x": 0.5}
    assert _prior_timings(str(tmp_path / "nowhere")) == {}


def test_prior_timings_crash_artifact_does_not_shadow(tmp_path):
    """A published crash round ({"parsed": null} or an empty queries
    dict) must not win as latest with {} — that would silently disable
    the guard while a perfectly good earlier round exists."""
    _write(tmp_path, "BENCH_r08.json", {"parsed": {"queries": {"q": 1.0}}})
    _write(tmp_path, "BENCH_r09.json", {"parsed": None, "error": "oom"})
    _write(tmp_path, "BENCH_r10.json", {"parsed": {"queries": {}}})
    assert _prior_timings(str(tmp_path)) == {"q": 1.0}


def test_bench_rounds_rejects_crash_wrapper(tmp_path):
    """The r11 regression caught at review: a driver wrapper with
    "parsed": null (the r10 crash artifact) must NOT fall back to the
    wrapper dict itself — the ledger would then print the contended
    round as 'clean' with 0 reruns."""
    from bench import bench_rounds

    _write(tmp_path, "BENCH_r10.json",
           {"n": 10, "rc": 0, "sf": 0.1, "tail": "...", "parsed": None})
    _write(tmp_path, "BENCH_r09.json",
           {"parsed": {"queries": {"q": 2.0}, "sf": 0.1}})
    rounds = bench_rounds(str(tmp_path))
    assert 10 not in rounds
    assert rounds[9]["queries"] == {"q": 2.0}

def test_ledger_bench_history_tolerates_non_dict_payload(tmp_path):
    """r11 ADVICE: a BENCH_r*.json holding valid non-object JSON (a
    bare list) crashed bench_history() with AttributeError on
    data.get('tail') while bench_rounds() tolerated the same shape —
    the ledger regeneration must skip it instead."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from ledger import bench_history

    _write(tmp_path, "BENCH_r08.json", [1, 2, 3])
    _write(tmp_path, "BENCH_r09.json",
           {"parsed": {"queries": {"q": 2.0}, "value": 2.0,
                       "n_queries": 1, "sf": 0.1}})
    lines = bench_history(str(tmp_path))
    joined = "\n".join(lines)
    assert "| r9 |" in joined
    assert "| r8 |" not in joined


def test_prior_timings_per_query_lookback_survives_shedding(tmp_path):
    """A query shed from recent publications keeps its guard reference
    from the most recent rounds that DID publish it — persistent
    shedding must not silently erase coverage (the min is still over
    the last two rounds CONTAINING the query)."""
    _write(tmp_path, "BENCH_r07.json",
           {"parsed": {"queries": {"big": 1.0, "tiny": 0.10}}})
    _write(tmp_path, "BENCH_r08.json",
           {"parsed": {"queries": {"big": 1.2, "tiny": 0.12}}})
    # two shed rounds in a row: tiny absent from both
    _write(tmp_path, "BENCH_r09.json",
           {"parsed": {"queries": {"big": 1.1}, "queries_dropped": 1}})
    _write(tmp_path, "BENCH_r10.json",
           {"parsed": {"queries": {"big": 0.9}, "queries_dropped": 1}})
    ref = _prior_timings(str(tmp_path))
    assert ref["big"] == 0.9  # min of the last two rounds containing it
    assert ref["tiny"] == 0.10  # looked back past the shed rounds
    # the lookback is BOUNDED at four rounds: an ancient artifact must
    # age out, not resurrect as a guard reference
    _write(tmp_path, "BENCH_r11.json",
           {"parsed": {"queries": {"big": 1.0}, "queries_dropped": 1}})
    ref = _prior_timings(str(tmp_path))
    assert ref["tiny"] == 0.12  # r8 is still inside the 4-round window
    _write(tmp_path, "BENCH_r12.json",
           {"parsed": {"queries": {"big": 1.0}, "queries_dropped": 1}})
    ref = _prior_timings(str(tmp_path))
    # tiny fell off the 4-round window: it ages out like any other
    # query (every benched query is published, so none is absent for
    # long while still benched)
    assert "tiny" not in ref
    assert ref["big"] == 1.0  # min of its two MOST RECENT rounds (r11, r12)


def test_prior_timings_above_floor_queries_still_age_out(tmp_path):
    """A query absent from the 4-round window (retired from the
    headline set, or a different machine era) ages out whatever its
    timing — a stale reference resurrected forever is exactly what the
    bound exists to prevent."""
    _write(tmp_path, "BENCH_r07.json",
           {"parsed": {"queries": {"heavy": 5.0, "tiny": 0.2}}})
    for r in range(9, 13):
        _write(tmp_path, f"BENCH_r{r:02d}.json",
               {"parsed": {"queries": {"big": 1.0}, "queries_dropped": 1}})
    ref = _prior_timings(str(tmp_path))
    assert "heavy" not in ref  # above-floor: aged out with its round
    assert "tiny" not in ref  # sub-floor: no longer carried either
    assert ref["big"] == 1.0


def test_prior_timings_carry_respects_most_recent_pre_window_state(tmp_path):
    """r13 review repro: a query whose MOST RECENT pre-window record
    was above the floor (it slowed legitimately, published that, then
    retired) must age out — resurrecting an older sub-floor record
    from an earlier round would falsely trip the guard on the query's
    genuine steady state if it is ever re-added. Nothing before the
    window is read at all."""
    _write(tmp_path, "BENCH_r05.json",
           {"parsed": {"queries": {"q": 0.2}}})   # ancient sub-floor
    _write(tmp_path, "BENCH_r06.json",
           {"parsed": {"queries": {"q": 0.6}}})   # newest pre-window: above
    for r in range(7, 11):
        _write(tmp_path, f"BENCH_r{r:02d}.json",
               {"parsed": {"queries": {"big": 1.0}}})
    ref = _prior_timings(str(tmp_path))
    assert "q" not in ref  # the r5 0.2 must NOT resurrect past r6's 0.6


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
