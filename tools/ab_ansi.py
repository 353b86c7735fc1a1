"""Interleaved A/B of the session ANSI pin (`session.py` —
`spark.sql.ansi.enabled=true`, added r14) against the +32% uniform
core-subset drift in BENCH_r14 (r14 verdict, "What's wrong #1").

`spark.sql.ansi.enabled` is a runtime SQL conf and every timed pass
rebuilds the query's DataFrame fresh, so analysis picks up the arm's
conf within one session. Arm A = pin on, B = off. Protocol:
bench.ab_main.

Usage: python tools/ab_ansi.py [sf_dir] [rounds]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

LLM_MOVERS = ["dedup_minhash_lsh", "sim_cosine_topk", "m4_serial_rebuild"]


def set_ansi(spark, on: bool) -> None:
    spark.conf.set("spark.sql.ansi.enabled", "true" if on else "false")


if __name__ == "__main__":
    bench.ab_main("ab-ansi", set_ansi, bench.CORE_R1 + LLM_MOVERS,
                  ("ansi_on", "ansi_off"))
