"""Opt-in scaling probe: asserts the heavy operators grow SUB-QUADRATIC
as the corpus replicates — the measured evidence behind COVERAGE.md's
100 TB claims, regenerated on demand instead of rotting.

Timing-based, so it is NOT part of the default suite (thresholds flake
on loaded CI boxes): run it explicitly with

    RUN_SCALING_PROBE=1 python -m pytest tests/test_scaling.py -q

or `-m scaling` after enabling the env var. Uses 1x/4x replication of
the sf0.01 documents/lineitem tables (minutes, not the CLI probe's
sf0.1 1/4/16x sweep — `tools/scaling_probe.py` remains the full
measurement tool whose numbers COVERAGE.md cites).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

pytestmark = [
    pytest.mark.scaling,
    pytest.mark.skipif(
        not os.environ.get("RUN_SCALING_PROBE"),
        reason="timing probe; set RUN_SCALING_PROBE=1 to run",
    ),
]

# 4x the data may cost at most this factor: linear is ~4 (plus constant
# overheads that AMORTIZE with size, so often < 4); a quadratic shape
# is ~16. 8 splits the two regimes with headroom for timer noise.
MAX_GROWTH_4X = 8.0


def test_heavy_operators_grow_subquadratic(spark):
    from tools.scaling_probe import run_probe

    results = run_probe(
        spark, "/root/testdata/sf0.01", replicas=(1, 4), quiet=True
    )
    bad = {
        name: (ts[1], ts[4], round(ts[4] / ts[1], 2))
        for name, ts in results.items()
        # sub-100ms baselines are dominated by job-scheduling constants;
        # growth ratios on them are noise, not shape
        if ts[1] >= 0.1 and ts[4] / ts[1] > MAX_GROWTH_4X
    }
    assert not bad, f"superlinear growth (t1, t4, ratio): {bad}"
