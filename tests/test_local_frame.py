"""Driver-side rows become frames through one helper,
``tables.local_frame``: a ``LocalRelation`` the driver answers without
a Spark job, with the rows, types and nullability that
``spark.createDataFrame(<list>, schema)`` gives."""

from __future__ import annotations

import datetime as dt
import os
import re
from decimal import Decimal

import pytest

import __spark_entry__ as entrymod
from etl_staging_spark.tables import local_frame
from tests.conftest import SF_DIR

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "etl_staging_spark")

# every column type the package builds local frames with, plus the edges
# a driver-side row can carry (NULL, NaN, +-inf, values past int32)
CASES = [
    ("line string, result double",
     [("a", 1.5), ("b", float("nan")), ("c", float("inf")), ("d", float("-inf")),
      ("e", None), (None, -0.0)]),
    ("company_id int, rate_str string", [(0, "1.00"), (2147483647, None)]),
    ("id long, parent_path string", [(2**40, "1/2/"), (None, "")]),
    ("n_docs bigint, n_kept bigint", [(-(2**62), 2**31), (None, None)]),
    ("bal decimal(38,18), rate decimal(6,2)",
     [(Decimal("12345678901234567890.123456789012345678"), Decimal("1.10")),
      (None, None)]),
    ("d date, ts timestamp",
     [(dt.date(2024, 2, 29), dt.datetime(2024, 3, 1, 12, 30, 5, 123456)), (None, None)]),
    ("vec array<double>", [([1.0, None, float("nan")],), ([],), (None,)]),
    ("label string, lo int, hi int", []),
]


def _same(rows_a, rows_b) -> bool:
    # repr: NaN != NaN, and -0.0 == 0.0, under plain equality
    return [tuple(map(repr, r)) for r in rows_a] == [tuple(map(repr, r)) for r in rows_b]


@pytest.mark.parametrize("ddl, rows", CASES, ids=[c[0] for c in CASES])
def test_local_frame_matches_create_data_frame(spark, ddl, rows):
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert _same(got.collect(), want.collect())


def test_local_frame_takes_a_struct_schema(spark):
    schema = spark.createDataFrame([], "k string, v bigint").schema
    got = local_frame(spark, [("x", 3)], schema)
    assert got.schema == schema and got.collect() == [("x", 3)]


def _optimized_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_local_frame_is_a_local_relation_collected_without_a_job(spark):
    df = local_frame(spark, [(f"L{i}", float(i)) for i in range(20)],
                     "line string, result double")
    assert _optimized_node(df) == "LocalRelation"
    sc = spark.sparkContext
    group = "local-frame-collect"
    sc.setJobGroup(group, "local_frame collect")
    try:
        assert len(df.collect()) == 20
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_executive_summary_lines_are_a_local_relation(spark):
    df = entrymod.queries()["es_report"](spark, SF_DIR)
    assert _optimized_node(df) == "LocalRelation"


def test_create_data_frame_only_inside_local_frame():
    """The Python-worker path (``createDataFrame`` over a list) must not
    creep back: the package calls ``createDataFrame(`` only from
    ``tables.local_frame``."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if name == "tables.py" and os.path.dirname(path) == PKG:
                # cut out local_frame's own body
                src = re.sub(r"\ndef local_frame\(.*?(?=\ndef )", "\n", src, flags=re.S)
            hits += [f"{os.path.relpath(path, PKG)}:{src[:m.start()].count(chr(10)) + 1}"
                     for m in re.finditer(r"createDataFrame\(", src)]
    assert hits == []
