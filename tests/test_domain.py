"""Unit tests for the Odoo-domain → Column compiler (F1).

Mirrors the semantics the reference relies on in osv.expression:
implicit AND, prefix '|'/'&'/'!', substring (i)like, =like raw
patterns, in/not-in with NULL handling.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_staging_spark.domain import compile_domain, domain_to_sql, normalize

ROWS = [
    (1, "1010", "posted", 100.0),
    (2, "1020", "posted", -50.0),
    (3, "4000", "draft", 10.0),
    (4, None, "posted", 0.0),
    (5, "40%0", "cancel", 7.0),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "id long, code string, state string, balance double")


def ids(df, dom):
    return sorted(r.id for r in df.where(compile_domain(dom)).collect())


def test_normalize_implicit_and():
    assert normalize([("a", "=", 1), ("b", "=", 2)]) == ["&", ("a", "=", 1), ("b", "=", 2)]


def test_normalize_or_tail():
    out = normalize(["|", ("a", "=", 1), ("a", "=", 2), ("b", "=", 3)])
    assert out == ["&", "|", ("a", "=", 1), ("a", "=", 2), ("b", "=", 3)]


def test_eq_and(df):
    assert ids(df, [("state", "=", "posted"), ("balance", ">", 0)]) == [1]


def test_or(df):
    assert ids(df, ["|", ("code", "=", "1010"), ("code", "=", "4000")]) == [1, 3]


def test_not(df):
    assert ids(df, ["!", ("state", "=", "posted")]) == [3, 5]


def test_neq_includes_null(df):
    # Odoo's != keeps NULL rows (unlike raw SQL).
    assert ids(df, [("code", "!=", "1010")]) == [2, 3, 4, 5]


def test_eq_none_is_null(df):
    assert ids(df, [("code", "=", None)]) == [4]


def test_in(df):
    assert ids(df, [("code", "in", ["1010", "1020"])]) == [1, 2]


def test_not_in_keeps_null(df):
    assert ids(df, [("code", "not in", ["1010"])]) == [2, 3, 4, 5]


def test_like_substring(df):
    assert ids(df, [("code", "like", "10")]) == [1, 2]


def test_like_escapes_wildcards(df):
    assert ids(df, [("code", "like", "0%0")]) == [5]


def test_eqlike_raw_pattern(df):
    assert ids(df, [("code", "=like", "10%")]) == [1, 2]


def test_ilike(df):
    assert ids(df, [("state", "ilike", "POST")]) == [1, 2, 4]


def test_malformed_raises():
    with pytest.raises(ValueError):
        normalize(["|", ("a", "=", 1)])


def test_negated_constant_leaves(df):
    # osv.expression flips TRUE_LEAF<->FALSE_LEAF under '!' instead of
    # producing (1, '!=', 1), which would name a field `1`.
    assert ids(df, ["!", (1, "=", 1)]) == []
    assert ids(df, ["!", (0, "=", 1)]) == [1, 2, 3, 4, 5]
    assert ids(df, ["!", "&", (1, "=", 1), ("state", "=", "posted")]) == [3, 5]


def test_domain_sql_escapes_backslash_and_quote(spark):
    # Spark unescapes backslashes inside SQL string literals: the text
    # must escape them (and quotes) to compare against the raw value
    named = spark.createDataFrame(
        [(1, "a\\b"), (2, "ab"), (3, "it's"), (4, "a\\\\b")], "id long, name string"
    )
    for value, want in (("a\\b", [1]), ("it's", [3]), ("a\\\\b", [4])):
        pred = F.expr(domain_to_sql([("name", "=", value)]))
        assert sorted(r.id for r in named.where(pred).collect()) == want, value


def test_dotted_field_is_a_struct_path(spark):
    nested = spark.createDataFrame(
        [(1, ("BE",)), (2, ("FR",))], "id long, partner struct<country_code: string>"
    )
    dom = [("partner.country_code", "=", "BE")]
    assert [r.id for r in nested.where(compile_domain(dom)).collect()] == [1]
