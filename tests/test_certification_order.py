"""Unit tests for the driver-window rotation logic in
__spark_entry__._certification_order — the scheduling that keeps every
registry entry re-certified within a bounded number of rounds. Pure
file logic (monkeypatched round files), no Spark."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def _with_rounds(monkeypatch, tmp_path, rounds: dict[str, dict]):
    for fname, data in rounds.items():
        (tmp_path / fname).write_text(json.dumps(data))
    monkeypatch.setattr(
        entrymod.os.path, "dirname", lambda _p, _d=str(tmp_path): _d
    )


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
RED = {"rows_match": True, "schema_match": True, "hash_match": False}


def test_never_certified_first_then_oldest(monkeypatch, tmp_path):
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r06.json": {"old6": GREEN},
        "CORRECTNESS_r07.json": {"old7": GREEN},
    })
    order = entrymod._certification_order(["old7", "old6", "brand_new"])
    assert order == ["brand_new", "old6", "old7"]


def test_red_latest_round_goes_to_front(monkeypatch, tmp_path):
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r06.json": {"a": GREEN, "b": GREEN},
        "CORRECTNESS_r07.json": {"a": RED},
    })
    # 'a' regressed in its LATEST appearance: treated as uncertified
    order = entrymod._certification_order(["b", "a"])
    assert order == ["a", "b"]


def test_stray_variant_files_ignored(monkeypatch, tmp_path):
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r06.json": {"a": GREEN},
        "CORRECTNESS_r06_v2.json": {"b": GREEN},   # must not count
        "CORRECTNESS_rXX.json": {"b": GREEN},      # must not count
    })
    order = entrymod._certification_order(["a", "b"])
    assert order == ["b", "a"]                     # b is still uncertified


def test_family_members_stay_adjacent(monkeypatch, tmp_path):
    # fam_a has one stale (r05) and one fresh (r09) member; lone_mid was
    # certified r07.  Without family grouping the order would be
    # fam_stale, lone_mid, fam_fresh — splitting the family.  With the
    # 200+-cadence policy the family travels at its most-stale member's
    # priority, so both fam_* entries precede lone_mid and are adjacent.
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r05.json": {"fam_stale": GREEN},
        "CORRECTNESS_r07.json": {"lone_mid": GREEN},
        "CORRECTNESS_r09.json": {"fam_fresh": GREEN},
    })
    order = entrymod._certification_order(["fam_fresh", "lone_mid", "fam_stale"])
    assert order == ["fam_stale", "fam_fresh", "lone_mid"]


def test_never_certified_pulls_family_to_front(monkeypatch, tmp_path):
    # A brand-new family member drags its certified siblings to the
    # front of the window so the whole family certifies together.
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r06.json": {"fam_old": GREEN, "other_old": GREEN},
        "CORRECTNESS_r08.json": {"other_old": GREEN},
    })
    order = entrymod._certification_order(["other_old", "fam_old", "fam_new"])
    assert order == ["fam_new", "fam_old", "other_old"]


def test_stalest_entry_still_first_within_family_pull(monkeypatch, tmp_path):
    # The globally stalest entry sorts first even when another family
    # is pulled forward: family priority is min over members, so no
    # family can outrank the family containing the oldest entry.
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r04.json": {"alpha_one": GREEN},
        "CORRECTNESS_r06.json": {"beta_one": GREEN, "beta_two": GREEN},
    })
    order = entrymod._certification_order(["beta_one", "beta_two", "alpha_one"])
    assert order[0] == "alpha_one"
    assert order[1:] == ["beta_one", "beta_two"]


def test_ties_keep_registration_order(monkeypatch, tmp_path):
    _with_rounds(monkeypatch, tmp_path, {
        "CORRECTNESS_r06.json": {"x": GREEN, "y": GREEN},
    })
    assert entrymod._certification_order(["x", "y"]) == ["x", "y"]
    assert entrymod._certification_order(["y", "x"]) == ["y", "x"]
