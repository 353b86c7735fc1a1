"""Interleaved A/B of the keyed fact-scan respread (r16): single-row-
group scans serialize the whole broadcast-join + decimal-conv +
partial-aggregate map side on one core; `tables.respread_narrow`
spreads surviving scan rows to defaultParallelism (no-op at real
scale).

VERDICT RECORDED IN OPTIMIZATION_r16.md: spreading move_lines for
every consumer measured a +19% net LOSS across 14 ledger entries (the
consumers' partial aggregates collapse rows before any exchange, and
per-scope collect jobs re-pay the shuffle), so that spread was
REVERTED. The single-pass heavy-aggregate consumer `a1_hash_agg`
measured −59% with the keyed spread — the DEFAULT list. The other
call sites are measured by naming their queries.

Plain arm: every binding of `tables.respread_narrow` in a loaded
`etl_staging_spark` module swapped for identity — `tables` itself,
which `a1_hash_agg` reads at call time, and the modules that bind it
at import (`simsearch._respread_narrow`, through which `decontam`
calls it too; `catalog_llm`; `catalog_misc`) — so every call site
takes the arm. Protocol: bench.ab_main.

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


def _plain(df, *args, **kwargs):
    return df


def set_spread(spark, on: bool) -> None:
    """Arm setter: the real respread (on) or identity (off), in every
    loaded `etl_staging_spark` module attribute bound to either."""
    arm = _RESPREAD if on else _plain
    for name, mod in list(sys.modules.items()):
        if mod is None or name.split(".")[0] != "etl_staging_spark":
            continue
        for attr, val in list(vars(mod).items()):
            if val is _RESPREAD or val is _plain:
                setattr(mod, attr, arm)


if __name__ == "__main__":
    bench.ab_main("ab-respread", set_spread, sys.argv[3:] or DEFAULT,
                  ("spread", "plain"))
