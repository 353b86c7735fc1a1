"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import gen, harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("write", [
    lambda d, s: gen.write_catalog(d, s, 300),
    lambda d, s: gen.write_night(d, s, 1, 200, master_parts=50, master_custs=30),
    lambda d, s: gen.write_corpus(d, s, 100, 2, 20),
])
def test_generator_is_deterministic(tmp_path, write):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    assert write(str(a), 5) == write(str(b), 5)
    assert _tree_digest(str(a)) == _tree_digest(str(b))
    write(str(c), 6)
    assert _tree_digest(str(a)) != _tree_digest(str(c))


def test_night_counts_match_files(tmp_path):
    counts = gen.write_night(str(tmp_path), 3, 0, 400, master_parts=50, master_custs=30)
    for name in ("lineitem", "orders", "customer"):
        with open(tmp_path / f"{name}.csv") as f:
            assert sum(1 for _ in f) - 1 == counts[name]["rows"]
    assert counts["lineitem"]["corrupt"] + counts["lineitem"]["unknown"] > 0


def test_replica_keys_are_disjoint():
    import numpy as np

    a = gen.star_tables(np.random.default_rng(1), 100, 10, 10, 3, 10, 5, replica=0)
    b = gen.star_tables(np.random.default_rng(1), 100, 10, 10, 3, 10, 5, replica=1)
    assert not set(a["orders"]["o_orderkey"]) & set(b["orders"]["o_orderkey"])


def test_salted_drop_copies_share_no_id_or_token(tmp_path):
    import pyarrow.parquet as pq

    gen.write_corpus(str(tmp_path), 2, 50, 1, 40)
    src = str(tmp_path / "drops" / "drop_0.parquet")
    assert gen.salt_drop(src, str(tmp_path / "copy1.parquet"), 1) == 40
    gen.salt_drop(src, str(tmp_path / "copy2.parquet"), 2)
    tables = [pq.read_table(p).to_pydict()
              for p in (src, tmp_path / "copy1.parquet", tmp_path / "copy2.parquet")]
    for a, b in ((0, 1), (0, 2), (1, 2)):
        assert not set(tables[a]["doc_id"]) & set(tables[b]["doc_id"])
        tokens = [{w for t in tables[i]["text"] for w in t.split()} for i in (a, b)]
        assert not tokens[0] & tokens[1]


@pytest.mark.parametrize("n, p", [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
                                  (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                                  (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert harness.tail_percentile(n) == p


def test_percentile_interpolates():
    assert harness.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert harness.percentile([1.0, 2.0], 50) == 1.5
    assert harness.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == pytest.approx(4.6)


def test_self_time_subtracts_children():
    spans = [{"id": "a", "parent": None, "start": 0.0, "end": 10.0},
             {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
             {"id": "c", "parent": "a", "start": 5.0, "end": 6.0}]
    assert harness.self_times(spans) == {"a": 6.0, "b": 3.0, "c": 1.0}


def test_metric_names_are_valid_and_unique():
    names = [n for n, _ in harness.END_TO_END] + [n for n, _ in harness.per_layer_metrics()]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    assert len(harness.per_layer_metrics()) <= 128


def test_benchmark_json_names_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(harness.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == harness.per_layer_metrics()
    from perfbench.run import WORKLOADS

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    """Run from a copy holding only the benchmark: exit non-zero, print
    no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "nightly_close",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
