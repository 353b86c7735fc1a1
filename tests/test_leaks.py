"""Released catalog results leave nothing in the session's cache.

A long-lived session (an accountant's report service, a stream) never
calls ``clearCache()`` between requests, so every cached relation a
query builds must be pinned to its result and dropped by
``tables.release_pinned``. The one cache entry a session keeps on
purpose is the resident ledger fact (``engines.ledger.move_lines``),
which ``ledger.release`` drops. For each registry entry:
``clearCache()``, build, run the plan to a noop sink,
``release_pinned``, ``ledger.release``, then assert that the
CacheManager is empty — so a per-query frame left cached still fails.

Out of scope: ``localCheckpoint`` blocks (the connected-components
rounds, the ANN cell assignments). They are unnamed persistent RDDs,
not CacheManager entries, so ``clearCache()`` never drops them either;
the ContextCleaner reclaims them once their lineage is unreachable.

Tiers: every entry runs under ``-m ""``; the default tier runs a
deterministic md5 sample plus the entries that once leaked, so a
regression in the pin plumbing they exercise fails fast."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pytest

import __spark_entry__ as entrymod
from etl_staging_spark.engines import ledger
from etl_staging_spark.tables import release_pinned

from tests.conftest import SF_DIR

QUERIES = entrymod.queries()

# Entries whose builders persisted frames without pinning them to the
# result (or dropped an operator's pins in a final projection).
ONCE_LEAKED = {
    "br_report",
    "corpus_assembly",
    "corpus_assembly_full",
    "corpus_assembly_v2",
    "dedup_canonicals_by_score",
    "dedup_cluster_cc",
    "dedup_cluster_sizes",
    "hier_rollup",
    "sa_stock_ageing",
    "sim_ann_ivf",
    "sim_ann_lsh",
    "split_by_cluster",
    "split_leakage_audit",
}


def _fast(name: str) -> bool:
    return name in ONCE_LEAKED or (
        int(hashlib.md5(name.encode()).hexdigest(), 16) % 8 == 0
    )


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if _fast(n) else pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_released_entry_leaves_no_cached_relation(name, spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    release_pinned(df)
    ledger.release(spark)
    assert cache.isEmpty(), f"{name}: cached relations remain after release"


def _persisted_ids(spark) -> set:
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _resident(spark, sf_dir: str):
    # read the memo itself: move_lines would re-persist a dropped fact
    entry = ledger._LEDGER_CACHE.get(spark)
    return entry[1] if entry is not None and entry[0] == sf_dir else None


def test_resident_facts_outlive_query_release_until_ledger_release(spark):
    """Request cycles of two report entries built on the fact release
    their own frames and leave exactly the one resident fact cached;
    ``ledger.release`` then empties the CacheManager."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ledger.release(spark)
    before = _persisted_ids(spark)
    for _ in range(3):
        for name in ("gl_report", "hg_column_groups"):
            df = QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            release_pinned(df)
    fact = _resident(spark, SF_DIR)
    assert fact is not None and fact.storageLevel.useMemory
    assert len(_persisted_ids(spark) - before) == 1
    ledger.release(spark)
    assert cache.isEmpty()
    assert _resident(spark, SF_DIR) is None


def test_move_lines_recaches_after_clear_cache(spark):
    ledger.move_lines(spark, SF_DIR)
    spark.catalog.clearCache()
    assert ledger.move_lines(spark, SF_DIR).storageLevel.useMemory
    ledger.release(spark)


def test_spread_keyword_selects_the_one_fact(spark):
    assert ledger.move_lines(spark, SF_DIR, spread=True) is ledger.move_lines(spark, SF_DIR)
    ledger.release(spark)


def test_new_directory_unpersists_the_other_directorys_facts(spark):
    other = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    old = ledger.move_lines(spark, other)
    assert old.storageLevel.useMemory
    assert _resident(spark, other) is old
    ledger.move_lines(spark, SF_DIR)
    assert not old.storageLevel.useMemory
    assert _resident(spark, other) is None
    assert _resident(spark, SF_DIR) is not None
    ledger.release(spark)


def test_gl_report_rows_match_on_fill_and_cached_read(spark):
    """The call that fills the resident fact and the call that reads it
    return the same rows."""
    spark.catalog.clearCache()
    rows = []
    for _ in range(2):
        df = QUERIES["gl_report"](spark, SF_DIR)
        rows.append(Counter(df.collect()))
        release_pinned(df)
    assert rows[0] == rows[1] and rows[0]


def test_once_leaked_entries_are_registered():
    assert ONCE_LEAKED <= set(QUERIES)


def test_pin_scope_releases_on_exception(spark):
    from etl_staging_spark.tables import PinScope, pin

    base = spark.range(10)
    held = base.selectExpr("id + 1 AS z").persist()
    with pytest.raises(RuntimeError):
        with PinScope() as scope:
            own = scope.persist(base.selectExpr("id * 2 AS x"))
            scope.adopt(pin(base.selectExpr("id AS y"), held))
            raise RuntimeError("batch handler failed")
    assert not own.storageLevel.useMemory
    assert not held.storageLevel.useMemory
