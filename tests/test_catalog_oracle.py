"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same comparison at sf0.01). Queries without an
oracle get a weaker runs-and-returns-rows smoke check."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check import table_hash  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        assert srows is not None  # rows-only smoke: executes, stable schema
        assert len(sdf.columns) > 0
        return
    res = duck.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    sh, sn = table_hash(sdf.columns, srows)
    oh, on = table_hash(ocols, orows)
    assert sorted(sdf.columns) == sorted(ocols), f"{name}: column mismatch"
    assert sn == on, f"{name}: row count {sn} != {on}"
    assert sh == oh, f"{name}: value hash mismatch"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_arrow_types_are_harness_safe(name, duck):
    """No oracle may emit a column whose DuckDB->Arrow type is
    decimal128 or any other non-standard numeric: DuckDB silently
    widens SUM(BIGINT) to HUGEINT (Arrow decimal128(38,0)), and a
    harness that canonicalizes through Arrow/pandas then renders
    Decimal('k') against Spark's int64 k — the exact signature of the
    three entries that stayed driver-red through rounds 4-5 while
    passing every str()-canonicalizing local check. Cast integer SUMs
    back to BIGINT at the oracle's output edge."""
    import re as _re

    tbl = duck.execute(ORACLES[name]).arrow()
    # Arrow type strings parameterize three ways: decimal128(38, 0),
    # timestamp[us], list<item: int64> — strip at any of ( [ <
    odd = {
        f.name: str(f.type)
        for f in tbl.schema
        if _re.split(r"[([<]", str(f.type))[0]
        not in ("int8", "int16", "int32", "int64", "double", "float",
                "string", "large_string", "bool", "date32", "timestamp",
                "list", "large_list")
    }
    assert not odd, f"{name}: harness-unsafe oracle column types {odd}"
