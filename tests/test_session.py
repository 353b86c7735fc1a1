"""The session's driver-heap default is sized from the machine, and its
generated-code cache holds a working set."""

from __future__ import annotations

import pytest

from etl_staging_spark import session


@pytest.mark.parametrize("gib, heap", [(15, "7680m"), (256, "49152m")])
def test_driver_memory_default_is_half_the_machine_capped_at_48g(monkeypatch, gib, heap):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session.default_driver_memory() == heap


def test_codegen_cache_keeps_a_query_over_150_other_classes(spark):
    """A query's generated classes stay compiled while 150 other
    classes (more than Spark's default cache of 100) are generated:
    running it again compiles nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def query():
        return spark.range(40).selectExpr("sum(id * 7919 % 104729) AS s").collect()

    want = query()
    before = compiles()
    for i in range(150):
        # a distinct int literal is inlined into the generated source,
        # so each projection compiles a class of its own
        spark.range(1).selectExpr(f"id + {1_000_003 + i} AS x").collect()
    assert compiles() >= before + 150
    before = compiles()
    assert query() == want
    assert compiles() == before
