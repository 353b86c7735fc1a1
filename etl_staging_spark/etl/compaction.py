"""Small-file compaction — the table-maintenance job every long-lived
parquet corpus needs: streaming ingest, partition-scoped corrections
and per-batch delta writes each leave a trickle of small files, and at
100 TB the resulting scan overhead (one task + one footer read per
tiny file) quietly dominates job time long before storage does.

`compact_partitions` rewrites a partitioned snapshot's SCOPED slice to
a bounded file count per partition with partition-overwrite semantics
(`etl.sinks.write_partitioned_snapshot`): untouched partitions keep
their bytes, the rewrite is idempotent (re-running converges to the
same layout), and the read-then-overwrite hazard — the rewrite deletes
the very files its lazy plan still references — is cut with the same
eager localCheckpoint barrier `streaming.ingest.compact_card_state`
uses.

Scale posture: compaction is embarrassingly partition-parallel; scope
it with a predicate on the partition keys (a date range, one company)
and run it as a rolling maintenance window instead of one full-table
rewrite — the same correction-scoping argument as the sink it rides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..tables import local_frame
from .sinks import write_partitioned_snapshot


def _validate_scope(df: DataFrame, scope: str, partition_cols: list[str]) -> None:
    """Refuse a scope predicate that references anything but partition
    columns. The failure this guards is DESTRUCTIVE: a predicate on a
    data column (``"quality < 0.5"``) combined with dynamic partition
    overwrite rewrites every touched partition with only the matching
    rows — silently deleting the rest of those partitions in a
    maintenance job. The check analyses the predicate against a frame
    carrying ONLY the partition columns, so any data-column reference
    fails resolution before a single byte is rewritten. The probe is a
    LINEAGE-FREE empty relation (not a select over the scan — Spark's
    ResolveMissingReferences would resolve a filter's data columns
    straight through a projection back to the scan).

    Column references are not the only hazard: a column-free
    NON-DETERMINISTIC predicate (``"part = 0 AND rand() < 0.5"``,
    ``"input_file_name() LIKE ..."``) resolves cleanly against the
    partition-only probe yet is not row-constant within a partition —
    under dynamic overwrite it would still silently delete the
    non-matching rows of every touched partition. So after resolution
    the ANALYZED filter condition must also report deterministic
    (Catalyst marks ``rand``/``uuid``/``input_file_name``/monotonic id
    non-deterministic; the check walks the whole expression tree)."""
    spark = df.sparkSession
    probe = local_frame(
        spark, [], df.select(*[F.col(c) for c in partition_cols]).schema
    )
    try:
        filtered = probe.where(scope)
        filtered.schema  # force analysis, no execution
    except Exception as exc:  # AnalysisException: unresolved column
        raise ValueError(
            f"compaction scope must reference only partition columns "
            f"{partition_cols}; got {scope!r} — a data-column predicate "
            f"under dynamic partition overwrite would silently drop the "
            f"non-matching rows of every touched partition ({exc})"
        ) from None
    plan = filtered._jdf.queryExecution().analyzed()
    # the probe.where() plan is Filter(condition, LocalRelation) — walk
    # the condition for any non-deterministic subexpression
    if plan.getClass().getSimpleName() == "Filter" and not (
        plan.condition().deterministic()
    ):
        raise ValueError(
            f"compaction scope must be deterministic; got {scope!r} — a "
            f"non-deterministic predicate is not row-constant within a "
            f"partition, so dynamic partition overwrite would silently "
            f"drop an arbitrary subset of every touched partition"
        )


def _scoped_file_count(df: DataFrame) -> int:
    """Files behind a (possibly scoped) parquet read, counted through
    the scan itself: distinct `input_file_name()` over the scoped rows.
    Works on any filesystem the scan works on (local, HDFS, S3 — no
    driver-side `os.walk`, which silently returns nothing off the local
    FS) and is exactly partition-pruned to the compacted slice rather
    than table-wide. Zero-row files are invisible to it — acceptable
    for a job whose cost model is per-file TASKS, which zero-row files
    don't generate on a pruned scan's row path."""
    return df.select(F.input_file_name().alias("f")).distinct().count()


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    scope: str | None = None,
    files_per_partition: int = 1,
) -> dict[str, int]:
    """Rewrite the ``scope``-selected partitions of the snapshot at
    ``path`` to AT MOST ``files_per_partition`` files each. ``scope``
    is a SQL predicate over the PARTITION columns only — validated
    before any write, because a data-column predicate under dynamic
    partition overwrite silently deletes the non-matching rows of
    every touched partition (partition-pruned read — the unscoped data
    is never touched, read, or rewritten); ``None`` compacts the whole
    table. Returns {files_before, files_after, rows} for the
    maintenance log, counted over the SCOPED slice on whatever
    filesystem backs the table.

    The rewrite repartitions on (partition cols + a bounded salt) so
    each partition's rows spread over up to ``files_per_partition``
    writer tasks — a plain repartition(partition_cols) would put EVERY
    row of a partition through one task (the hot-partition straggler),
    while coalesce would merge across partitions and break the
    one-directory-one-task write. The target is an UPPER bound, not an
    exact count: hash collisions across (partition, salt) groups can
    land two groups in one task, yielding fewer files for a directory
    (pinned by test). Content is byte-stable: the same rows land in
    the same partition directories, only file boundaries change."""
    if files_per_partition < 1:
        raise ValueError("files_per_partition must be >= 1")
    df = spark.read.parquet(path)
    if scope is not None:
        _validate_scope(df, scope, partition_cols)
        df = df.where(scope)
    cols = df.columns
    # rows and files before are observed by the checkpointing action
    # below. The file name is projected first: an observed metric may
    # not take a non-deterministic argument directly.
    before = Observation()
    df = (
        df.withColumn("__f", F.input_file_name())
        .observe(
            before,
            F.count(F.lit(1)).alias("rows"),
            F.size(F.collect_set("__f")).alias("files"),
        )
        .select(*cols)
    )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in cols]),
        F.lit(files_per_partition),
    )
    out = df.repartition(
        *[F.col(c) for c in partition_cols], salt.alias("__salt")
    )
    # the overwrite deletes files the lazy plan still references:
    # materialize the scoped slice and cut lineage BEFORE the delete
    out = out.localCheckpoint(eager=True)
    write_partitioned_snapshot(out, path, partition_cols, mode="dynamic")
    after_df = spark.read.parquet(path)
    if scope is not None:
        after_df = after_df.where(scope)
    return {
        "files_before": before.get["files"],
        "files_after": _scoped_file_count(after_df),
        "rows": before.get["rows"],
    }
