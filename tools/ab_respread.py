"""Interleaved A/B of the keyed fact-scan respread (r16): single-row-
group scans serialize the whole broadcast-join + decimal-conv +
partial-aggregate map side on one core; `tables.respread_narrow`
spreads surviving scan rows to defaultParallelism (no-op at real
scale).

VERDICT RECORDED IN OPTIMIZATION_r16.md: spreading move_lines for
every consumer measured a +19% net LOSS across 14 ledger entries (the
consumers' partial aggregates collapse rows before any exchange, and
per-scope collect jobs re-pay the shuffle), so that spread was
REVERTED. The respread now stays only where this A/B shows a win: the
single-pass heavy-aggregate consumer `a1_hash_agg` (−59% with the
keyed spread) — the DEFAULT list.

Plain arm: `tables.respread_narrow` swapped for identity. `a1_hash_agg`
imports that name at call time, so the swap reaches it (modules that
bind it at import keep theirs). Protocol: bench.ab_main.

Usage: python tools/ab_respread.py [sf_dir] [rounds] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from etl_staging_spark import tables  # noqa: E402

DEFAULT = ["a1_hash_agg"]

_RESPREAD = tables.respread_narrow


def set_spread(spark, on: bool) -> None:
    """Arm setter: the real respread (on) or identity (off)."""
    tables.respread_narrow = _RESPREAD if on else (lambda df, *a, **k: df)


if __name__ == "__main__":
    bench.ab_main("ab-respread", set_spread, sys.argv[3:] or DEFAULT,
                  ("spread", "plain"))
