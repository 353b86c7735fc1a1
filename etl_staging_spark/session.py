"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism actually available, UTC
session timezone so timestamp semantics match the DuckDB oracle, and
Arrow enabled for the few Pandas-UDF paths (multimodal stubs).

The generated-code cache is sized to the session's working set.
Whole-stage codegen compiles a class per distinct generated source and
keeps it in an LRU cache of 100 entries by default. One nightly close
needs about 300 classes, so with 100 entries every night recompiled
~266 classes it had compiled the night before. A session not built by
`get_spark` (an external driver's own) keeps Spark's default.

PySpark's per-call origin capture is off. By default PySpark wraps
every ``pyspark.sql.functions`` call and every ``Column`` operator so
that it walks the Python stack and sets the call site on the JVM, only
to name that line in error messages: ``F.col("a") + 1`` costs 24 py4j
round trips instead of 4, and a steady ``perfbench`` nightly close
sends about 11.2k py4j commands instead of 4.0k. With capture off,
errors keep their class, SQLSTATE and SQL context and lose only the
Python call-site line. A session not built by `get_spark` keeps
capture on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Generated classes the session keeps compiled (Spark's default is 100).
# Distinct classes per session, counted as compiles under an unbounded
# cache (4 vCPU): perfbench nightly_close set-up plus one night 295;
# ledger_reports warm-up plus its 12-round parameter cycle 442;
# `python bench.py` 1514; `tools/check.py` (215 entries) 2702; the
# Tier-1 test session 4111. 4096 holds each of these whole except the
# Tier-1 session, which it nearly holds.
CODEGEN_CACHE_ENTRIES = 4096

# PySpark's per-call origin capture (see the module docstring). Static:
# PySpark reads it once per process, from the first active session.
DATAFRAME_DEBUGGING = "false"


def default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 48g: a local-mode
    driver heap shares the box with its Python workers, and a default
    above the machine's memory gets the JVM killed instead of
    collected. ``SPARK_DRIVER_MEM`` overrides it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2 // 2**20, 48 * 1024)}m"


def get_spark(app_name: str = "etl_staging_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the shared local SparkSession.

    On a real cluster the same configs apply, minus ``master``:
    AQE handles skewed ledger keys (hot accounts/partners), and
    ``spark.sql.shuffle.partitions`` should be ~2-3x total cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The engine's NULL conventions assume ANSI semantics (Spark 4
        # default, but a cluster can disable it): size(NULL array) must
        # be NULL — not -1 — for the token-count cards' NULL-text docs
        # to carry no mass, and volume_counts' decimal-cast guard
        # expects ANSI overflow errors, not silent NULLs. Pin it.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static: it must be set before the context starts
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", DATAFRAME_DEBUGGING)
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read the raw int64 and convert at the catalog layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed tables (bucketed fact tables, etl.bucketed) live outside
        # the repo; on a cluster this is the metastore-backed warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
