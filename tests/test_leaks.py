"""Released catalog results leave nothing in the session's cache.

A long-lived session (an accountant's report service, a stream) never
calls ``clearCache()`` between requests, so every cached relation a
query builds must be pinned to its result and dropped by
``tables.release_pinned``. For each registry entry: ``clearCache()``,
build, run the plan to a noop sink, release, then assert that the
CacheManager is empty.

Out of scope: ``localCheckpoint`` blocks (the connected-components
rounds, the ANN cell assignments). They are unnamed persistent RDDs,
not CacheManager entries, so ``clearCache()`` never drops them either;
the ContextCleaner reclaims them once their lineage is unreachable.

Tiers: every entry runs under ``-m ""``; the default tier runs a
deterministic md5 sample plus the entries that once leaked, so a
regression in the pin plumbing they exercise fails fast."""

from __future__ import annotations

import hashlib

import pytest

import __spark_entry__ as entrymod
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
    assert cache.isEmpty(), f"{name}: cached relations remain after release"


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
