"""Catalog-wide plan-shape lock: every registry entry's physical-plan
shape (join strategies, exchange counts, Python boundaries) must match
the committed PLAN_LOCK.json — a broadcast join silently degrading to
sort-merge, a new shuffle creeping into a single-aggregate card, or a
Python boundary appearing where none is promised fails HERE instead of
shipping as a quiet 100x-at-scale regression.

When a plan change is INTENTIONAL, regenerate with

    python tools/plan_lock.py --write

and review the diff the tool prints before committing the new lock.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_registry_plan_shapes_match_lock(spark):
    from tools.plan_lock import LOCK_PATH, current_shapes, diff_shapes

    with open(LOCK_PATH) as fh:
        lock = json.load(fh)
    cur = current_shapes(spark)
    msgs = diff_shapes(lock, cur)
    assert not msgs, (
        "plan shapes drifted from PLAN_LOCK.json (regenerate with "
        "`python tools/plan_lock.py --write` IF intentional):\n"
        + "\n".join(msgs)
    )
