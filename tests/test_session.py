"""The session's driver-heap default is sized from the machine, its
generated-code cache holds a working set, and building a Column costs
no origin-capture round trips."""

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


def test_column_build_skips_origin_capture_round_trips(spark):
    """With origin capture off, ``F.col("a") + 1`` is four py4j calls
    (two ``functions`` lookups, ``col``, ``plus``); with it on, each
    call also walks the stack and sets and clears the call site on the
    JVM (24 calls). Memory commands are the garbage collector releasing
    JVM objects, not calls the build makes, so they are not counted."""
    from py4j.protocol import MEMORY_COMMAND_NAME
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    real = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent.append(command)
        return real(command, *args, **kwargs)

    built = [F.col("a") + 1]  # warm: first call reads the conf
    client.send_command = counting
    try:
        built += [F.col("a") + 1 for _ in range(50)]
    finally:
        del client.send_command
    assert len(sent) <= 5 * 50
