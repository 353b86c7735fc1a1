"""Physical-plan shape lock: a committed inventory of the join
strategies, exchanges and Python boundaries of EVERY registry entry, so
a silent plan regression — a broadcast join degrading to sort-merge, a
new shuffle creeping into a single-aggregate card, a Python boundary
appearing where the plan audits promise none — fails a test instead of
quietly shipping.

The per-operator plan audits (tests/test_plans.py) pin hand-picked
invariants for the operators whose shape IS their scale argument; this
lock covers the whole catalog with coarse counts. The metrics are
substring-token counts over ``executedPlan().toString()`` taken BEFORE
execution (the AQE initial plan — deterministic for fixed data, config
and code), so the lock is cheap to check and stable across runs on the
same box.

Usage:
    python tools/plan_lock.py --write   # regenerate PLAN_LOCK.json
    python tools/plan_lock.py           # diff current plans vs the lock

Regenerate DELIBERATELY when a plan change is intentional, and read the
diff the tool prints before committing it — the diff IS the review
surface. tests/test_plan_lock.py runs the same comparison in CI.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOCK_PATH = os.path.join(os.path.dirname(__file__), "..", "PLAN_LOCK.json")
SF_DIR = "/root/testdata/sf0.001"

# word-boundary tokens: "Exchange" matches the shuffle exchange only
# (BroadcastExchange / ReusedExchange are single words the \b excludes)
METRICS = (
    "Exchange",
    "BroadcastExchange",
    "ReusedExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "Sort",
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)


def plan_shape(plan: str) -> dict[str, int]:
    out = {}
    for m in METRICS:
        n = len(re.findall(rf"\b{m}\b", plan))
        if n:
            out[m] = n
    return out


def current_shapes(spark, sf_dir: str = SF_DIR) -> dict[str, dict[str, int]]:
    import __spark_entry__ as entrymod
    from etl_staging_spark.tables import release_pinned

    shapes: dict[str, dict[str, int]] = {}
    for name, fn in entrymod.queries().items():
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        release_pinned(df)
        shapes[name] = plan_shape(plan)
    return shapes


def diff_shapes(
    lock: dict[str, dict[str, int]], cur: dict[str, dict[str, int]]
) -> list[str]:
    msgs = []
    for name in sorted(set(lock) | set(cur)):
        a, b = lock.get(name), cur.get(name)
        if a is None:
            msgs.append(f"NEW       {name}: {b} (not in lock — regenerate)")
        elif b is None:
            msgs.append(f"REMOVED   {name}: was {a} (regenerate)")
        elif a != b:
            keys = sorted(set(a) | set(b))
            delta = {
                k: (a.get(k, 0), b.get(k, 0))
                for k in keys
                if a.get(k, 0) != b.get(k, 0)
            }
            msgs.append(f"CHANGED   {name}: lock->current {delta}")
    return msgs


def main() -> int:
    from etl_staging_spark.session import get_spark

    write = "--write" in sys.argv
    spark = get_spark("plan-lock")
    cur = current_shapes(spark)
    if write:
        with open(LOCK_PATH, "w") as fh:
            json.dump(cur, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(cur)} plan shapes to {os.path.normpath(LOCK_PATH)}")
        return 0
    with open(LOCK_PATH) as fh:
        lock = json.load(fh)
    msgs = diff_shapes(lock, cur)
    for m in msgs:
        print(m)
    print(json.dumps({"locked": len(lock), "current": len(cur),
                      "drifted": len(msgs)}))
    return 1 if msgs else 0


if __name__ == "__main__":
    raise SystemExit(main())
