"""S2: CSV sources with declared schemas and a validation-failure
channel.

The reference decodes base64 CSV attachments through csv.DictReader
(`etl_stock/models/company.py:396-413`) and raises on the first bad
row; at scale the failure channel must be a dataset, not an exception:
``read_csv`` keeps malformed rows in a ``_corrupt_record`` column
(PERMISSIVE mode), and ``validate_against_master`` splits staged rows
into (valid, rejected-with-reason) by anti-joining the master keys —
the M1 "fail on missing keys" check as data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-declared CSV scan (never inferred — SURVEY §1.1). Malformed
    rows land in the corrupt-record column instead of failing the job.
    A schema already declaring the corrupt column (re-reading a staged
    reject dataset) takes the JSONL source's sentinel-and-fold path —
    appending it again would be a duplicate-field AnalysisException,
    and pointing the parser at the staged column would silently read
    the payload back NULL (Spark excludes the
    ``columnNameOfCorruptRecord`` column from the parsed schema)."""
    from .jsonl_io import _fold_sentinel, _scan_plan

    scan_schema, corrupt_name = _scan_plan(schema)
    df = spark.read.csv(
        path,
        header=True,
        schema=scan_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_name,
    )
    return _fold_sentinel(df, corrupt_name)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the channel column, corrupt rows with the raw
    line in CORRUPT_COL). The corrupt side keeps all columns — Spark
    forbids projecting ONLY the corrupt-record column from a raw scan."""
    # Spark refuses plans whose only referenced file column is the
    # corrupt-record column; the documented pattern is to cache the
    # parsed batch first (a staging batch, so bounded by the ingest size)
    df = df.cache()
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def validate_against_master(
    staged: DataFrame, master: DataFrame, staged_key: str, master_key: str
) -> tuple[DataFrame, DataFrame]:
    """(valid, rejected): staged rows whose key exists in the master vs
    the rest. Broadcast the master keys when the master is a dimension;
    for fact-sized masters the semi/anti joins shuffle on the key. The
    master keys go in raw: a semi or anti join only tests whether a key
    exists, so duplicates change nothing, and a NULL key never matches
    (a ``distinct`` would cost a shuffle stage on every action)."""
    keys = master.select(F.col(master_key).alias(staged_key))
    valid = staged.join(keys, staged_key, "left_semi")
    rejected = staged.join(keys, staged_key, "left_anti").withColumn(
        "reject_reason", F.lit("unknown_key")
    )
    return valid, rejected
