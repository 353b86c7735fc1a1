"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` / ``oracle_sql()`` are assembled from the registry in
``etl_staging_spark.queries`` — every implemented operator from
SURVEY.md §2 registers a Spark builder and (when SQL-expressible) a
DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Import catalog modules for their registration side effects.
from etl_staging_spark.queries import registry  # noqa: E402
from etl_staging_spark.queries import catalog_core  # noqa: E402,F401
from etl_staging_spark.queries import catalog_joins  # noqa: E402,F401
from etl_staging_spark.queries import catalog_llm  # noqa: E402,F401
from etl_staging_spark.queries import catalog_engines  # noqa: E402,F401
from etl_staging_spark.queries import catalog_reports  # noqa: E402,F401
from etl_staging_spark.queries import catalog_audit  # noqa: E402,F401
from etl_staging_spark.queries import catalog_dashboards  # noqa: E402,F401
from etl_staging_spark.queries import catalog_etl  # noqa: E402,F401
from etl_staging_spark.queries import catalog_hierarchy  # noqa: E402,F401
from etl_staging_spark.queries import catalog_misc  # noqa: E402,F401
from etl_staging_spark.queries import catalog_events  # noqa: E402,F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the star-join revenue
    rollup (GL-style dim joins + currency rounding + hash agg)."""
    return registry.QUERIES["j1_star_join_revenue"](spark, "/root/testdata/sf0.001")


def _certification_order(names: list[str]) -> list[str]:
    """Order queries so the driver's bounded correctness snapshot (first
    ~50 entries) always lands on the least-RECENTLY-certified tail:
    entries never present in any past CORRECTNESS_r*.json come first,
    then by oldest last-certified round, then by certification count.
    Ties keep registration order, so the ordering is deterministic.

    Family adjacency (the 200+-entry cadence policy, COVERAGE.md
    "POLICY for registry growth" item 3): entries sharing an
    oracle family — the first ``_``-separated token of the name, e.g.
    every ``dedup_*`` entry — are kept ADJACENT, with the whole family
    scheduled at the staleness of its MOST-stale member. A family then
    re-certifies as a unit instead of straddling a window boundary and
    aging unevenly; a regression in shared family machinery shows up in
    ONE round's snapshot, not smeared across two. The largest family
    (13 entries) is far inside the 50-slot window, and because a
    family's priority is at most the priority of any member, the
    globally stalest entry still sorts first — the bounded-rotation
    guarantee is preserved (tests/test_certification_order.py).

    At 200+ registry entries the driver window cycle is ceil(N/50) >= 5
    rounds, so the window is the spot-check-of-record only; the
    documented freshness guarantee is the committed per-round FULL
    ``tools/check.py`` run (every entry vs its oracle at sf0.01),
    recorded in COVERAGE.md each round."""
    counts: dict[str, int] = {}
    last_round: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        # strict parse: a stray variant (CORRECTNESS_r07_v2.json) must be
        # skipped, not read as round 72
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        try:
            rnd = int(m.group(1))
            data = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, res in data.items():
            if not isinstance(res, dict):
                continue
            fully_green = res.get("rows_match") and res.get(
                "hash_match", True
            ) and res.get("schema_match", True)
            if fully_green:
                counts[name] = counts.get(name, 0) + 1
                last_round[name] = max(last_round.get(name, 0), rnd)
            elif last_round.get(name, 0) <= rnd:
                # latest appearance was NOT fully green: this entry is
                # uncertified regardless of history — front of the queue
                last_round[name] = 0
                counts[name] = 0
    idx = {n: i for i, n in enumerate(names)}
    entry_key = {
        n: (last_round.get(n, 0), counts.get(n, 0), idx[n]) for n in names
    }
    fam_key: dict[str, tuple[int, int, int]] = {}
    for n in names:
        fam = n.split("_", 1)[0]
        k = entry_key[n]
        if fam not in fam_key or k < fam_key[fam]:
            fam_key[fam] = k
    return sorted(names, key=lambda n: (fam_key[n.split("_", 1)[0]], entry_key[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    order = _certification_order(list(registry.QUERIES))
    return {n: registry.QUERIES[n] for n in order}


def oracle_sql() -> dict[str, str]:
    order = _certification_order(list(registry.QUERIES))
    return {n: registry.ORACLES[n] for n in order if n in registry.ORACLES}
