"""The ledger fact: account_move_line mapped onto the driver tables.

The reference's single central fact is ``account_move_line`` (SURVEY
§1.2). The driver ships TPC-H-ish tables, so the engine layer derives a
move-line-shaped fact from lineitem ⋈ orders:

| ledger column    | derivation                                        |
|------------------|---------------------------------------------------|
| id               | l_orderkey * 8 + l_linenumber (linenumber <= 7)   |
| move_id          | l_orderkey                                        |
| date             | o_orderdate                                       |
| partner_id       | o_custkey                                         |
| company_id       | l_suppkey % 3                                     |
| account_code     | (1 + l_partkey % 8) || lpad(l_partkey % 100, 2)   |
| balance          | ±l_extendedprice * (1 - l_discount), negative on  |
|                  | returned lines (l_returnflag = 'R')               |
| tag_name         | o_orderpriority                                   |
| tag_sign         | '+' on even line numbers, '-' on odd              |
| tax_tag_invert   | l_returnflag = 'R'                                |

Account classes: first code digit 1..8; classes 1-5 are balance-sheet
(include_initial_balance = true), 6-8 are P&L — mirroring the
reference's account_type split used by date-scope 'normal' and the
unaffected-earnings fold.

``conv`` is the currency-converted per-row amount
SUM-able exactly: ROUND(CAST(balance AS DECIMAL(18,6)) * rate, 2),
the reference's "round per row before summing" convention
(`account_report.py:2563`). Rates come from a 3-row company rate
table — broadcast in every plan.

The DuckDB oracle twin of this mapping is ``O_LEDGER`` — every engine
oracle builds on it, so engine results are hash-checked end to end.

The fact stays resident per session, as the reference's hot
``account_move_line`` stays in PostgreSQL's buffer cache: ``move_lines``
memoizes a *persisted* frame, so a session's report requests read the
cached relation instead of re-joining lineitem ⋈ orders and recomputing
``conv``. It is a snapshot of ``sf_dir`` at first use (``tables.load``
already pins the file listing). A session keeps one resident fact, for
one directory at a time; ``release(spark)`` drops it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, local_frame

RATES = [(0, "1.00"), (1, "1.10"), (2, "1.25")]


def rate_table(spark: SparkSession) -> DataFrame:
    rows = [(cid, r) for cid, r in RATES]
    return local_frame(spark, rows, "company_id int, rate_str string").select(
        "company_id", F.col("rate_str").cast("decimal(6,2)").alias("rate")
    )


_LEDGER_CACHE: dict = {}


def move_lines(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """The ledger fact, resident in the session's cache. Every engine
    entry starts from it; engines' filters and projections read the
    cached columns instead of pushing down into the two parquet scans.

    The memo maps a session to ``(sf_dir, fact)``. ``persist()`` is
    lazy, so the first consumer's action fills the cache and no extra
    job runs. A hit whose cache entry was dropped (``clearCache()``) is
    re-persisted before it is returned. The fact is a snapshot of
    ``sf_dir`` at first use; a call for another directory unpersists it
    and builds that directory's fact instead. ``release`` drops it; a
    long-lived caller needs it and ``tables.release_pinned`` for its
    per-query frames, nothing else.

    ``spread`` is accepted and ignored: every caller gets the one fact."""
    # reads the module global at call time: a tracer may swap the dict
    entry = _LEDGER_CACHE.get(spark)
    if entry is not None:
        cached_dir, cached = entry
        if cached_dir == sf_dir:
            if not cached.storageLevel.useMemory:
                cached.persist()
            return cached
        cached.unpersist()
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey", "o_orderpriority"
    )
    sign = F.when(F.col("l_returnflag") == "R", F.lit(-1)).otherwise(F.lit(1))
    led = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            F.col("l_orderkey").alias("move_id"),
            F.col("o_orderdate").alias("date"),
            F.col("o_custkey").alias("partner_id"),
            (F.col("l_suppkey") % 3).alias("company_id"),
            F.concat(
                (1 + F.col("l_partkey") % 8).cast("string"),
                F.lpad((F.col("l_partkey") % 100).cast("string"), 2, "0"),
            ).alias("account_code"),
            (sign * F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("balance"),
            F.col("o_orderpriority").alias("tag_name"),
            F.when(F.col("l_linenumber") % 2 == 0, "+").otherwise("-").alias("tag_sign"),
            (F.col("l_returnflag") == "R").alias("tax_tag_invert"),
        )
    )
    conv = F.round(F.col("balance").cast("decimal(18,6)") * F.col("rate"), 2)
    out = led.join(F.broadcast(rate_table(spark)), "company_id").withColumn("conv", conv)
    _LEDGER_CACHE[spark] = (sf_dir, out.persist())
    return out


def release(spark: SparkSession) -> None:
    """Unpersist and drop the resident ledger fact of ``spark``."""
    entry = _LEDGER_CACHE.pop(spark, None)
    if entry is not None:
        entry[1].unpersist()


def is_balance_sheet(code_col=None) -> F.Column:
    c = code_col if code_col is not None else F.col("account_code")
    return F.substring(c, 1, 1).cast("int") <= 5


_RATE_ROWS = ", ".join(f"({cid}, CAST({r} AS DECIMAL(6,2)))" for cid, r in RATES)

# DuckDB oracle twin. `led` has the same columns as move_lines(),
# including the exact-decimal `conv`.
O_LEDGER = f"""
ledger AS (
  SELECT l.l_orderkey * 8 + l.l_linenumber AS id,
         l.l_orderkey AS move_id,
         o.o_orderdate AS date,
         o.o_custkey AS partner_id,
         l.l_suppkey % 3 AS company_id,
         CAST(1 + l.l_partkey % 8 AS VARCHAR)
           || lpad(CAST(l.l_partkey % 100 AS VARCHAR), 2, '0') AS account_code,
         (CASE WHEN l.l_returnflag = 'R' THEN -1 ELSE 1 END)
           * l.l_extendedprice * (1 - l.l_discount) AS balance,
         o.o_orderpriority AS tag_name,
         CASE WHEN l.l_linenumber % 2 = 0 THEN '+' ELSE '-' END AS tag_sign,
         (l.l_returnflag = 'R') AS tax_tag_invert
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
rates AS (SELECT * FROM (VALUES {_RATE_ROWS}) AS r(company_id, rate)),
led AS (
  SELECT ledger.*,
         ROUND(CAST(balance AS DECIMAL(18,6)) * rate, 2) AS conv
  FROM ledger JOIN rates USING (company_id)
)"""
