"""S4/S5/S6 sinks: the presentation edge of the engine.

Formatting is driver-side by design — sinks consume ALREADY-AGGREGATED
results (O(report lines)), never raw facts. The xlsx path degrades to
CSV when no Excel writer is importable (this container ships none);
the pipeline shape is identical either way.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str) -> None:
    """Distributed CSV sink (one part per partition; coalesce upstream
    if a single file is wanted)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_report_file(df: DataFrame, path: str, title: str | None = None,
                      subtitle: str = "") -> str:
    """S4/S5: register sink. ``.xlsx`` paths go through the built-in
    styled writer (`etl.xlsx` — title/header/totals-row contract of the
    register wizards, no Excel library needed); anything else is a CSV.
    Returns the path written."""
    if path.endswith(".xlsx"):
        from .xlsx import write_register_xlsx

        write_register_xlsx(df, path, title or "Report", subtitle)
        return path
    if path.endswith(".html"):
        from ..reports.html import write_report_html

        cols = df.columns
        lines = [
            {
                "id": f"row~{i}",
                "name": row[cols[0]],
                "level": 0,
                "columns": [{"no_format": row[c]} for c in cols[1:]],
            }
            # bounded: report lines — sinks consume already-aggregated
            # results (module contract above), never raw facts
            for i, row in enumerate(df.collect())
        ]
        return write_report_html(path, title or "Report", cols[1:], lines)
    # bounded: report lines (same contract as the collect above)
    df.toPandas().to_csv(path, index=False)
    return path


def dashboard_json(df: DataFrame, key_col: str, path: str | None = None) -> dict:
    """S6: the journal-dashboard JSON sink
    (`etl_account/models/account_move.py:139-263`) — a dict of formatted
    aggregates per entity, from a collected small aggregate."""
    # bounded: one row per dashboard entity (a grouped aggregate)
    rows = df.collect()
    out = {
        str(r[key_col]): {k: v for k, v in r.asDict().items() if k != key_col}
        for r in rows
    }
    if path:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=2, default=str, sort_keys=True)
    return out


# one lock per JVM session: the overwrite-mode conf is session-global
# IN THE JVM, and PySpark freely mints new Python wrappers for the same
# JVM session (foreachBatch builds one per batch), so the key must be
# the JVM object's identity hash, not the wrapper. Cloned sessions
# (each foreachBatch handler gets one) have isolated confs and get
# their own locks, so they never queue behind each other's writes.
# Entries are tiny (an int and a Lock) and sessions per process are
# few, so the map is not weakly keyed.
_OVERWRITE_MODE_LOCKS: dict[int, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _overwrite_mode_lock(spark) -> threading.Lock:
    key = spark._jsparkSession.hashCode()
    with _LOCKS_GUARD:
        lock = _OVERWRITE_MODE_LOCKS.get(key)
        if lock is None:
            lock = _OVERWRITE_MODE_LOCKS[key] = threading.Lock()
        return lock


def write_partitioned_snapshot(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "dynamic",
) -> None:
    """Maintenance-job write path: the reference's raw ``UPDATE``/
    ``DELETE`` jobs (SURVEY §2.11 — backdating, bank-date stamping,
    purge) become *partition-overwrite* semantics on an immutable
    parquet snapshot. With ``mode='dynamic'`` only the partitions
    present in ``df`` are replaced (the Spark analog of an UPDATE
    scoped by the partition key); ``'static'`` rewrites the whole
    table. Partition columns should be the job's natural scope keys
    (date, company) so a correction touches only its slice — at 100 TB
    a full-table rewrite per correction is the failure mode this sink
    exists to avoid."""
    if mode not in ("dynamic", "static"):
        raise ValueError(f"unknown overwrite mode {mode!r}")
    writer = df.write.format("parquet").partitionBy(*partition_cols)
    # BOTH branches pin the conf for the duration of the write: a
    # session whose ambient default is 'dynamic' would otherwise
    # execute a mode='static' compaction as a dynamic overwrite —
    # replacing only the partitions present in df and silently leaving
    # every other partition in place (double-counting, for the
    # additive-card delta logs this sink compacts). The conf is
    # session-global, so the flip-write-restore is serialized PER
    # SESSION (cloned foreachBatch sessions have isolated confs and
    # run unserialized; same-session concurrent maintenance jobs would
    # otherwise execute under each other's mode).
    spark = df.sparkSession
    with _overwrite_mode_lock(spark):
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
        try:
            writer.mode("overwrite").save(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
