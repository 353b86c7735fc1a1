"""Snapshot .explain("formatted") for headline queries into plans/$SPARK_GRAFT_PLANS_ROUND/ (default r17).

Usage: python tools/snap_plans.py before|after [query ...]

Writes plans/<round>/<query>_<tag>.txt for every bench HEADLINE query (or
the listed subset). Pure driver-side: no job runs, so it is safe to
run while other Spark work is active.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])

    from etl_staging_spark.session import get_spark
    import __spark_entry__ as entrymod
    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("snap-plans")
    qs = entrymod.queries()
    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r17")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    names = [n for n in bench.HEADLINE if not only or n in only]
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{tag}.txt ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
