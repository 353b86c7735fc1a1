"""ETL-layer tests: CSV ingestion with corrupt/validation channels,
SCD-0 upsert, sinks, and the RLS plan assertion."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_staging_spark.etl import sinks
from etl_staging_spark.etl.csv_io import read_csv, split_corrupt, validate_against_master
from etl_staging_spark.etl.upsert import dedup_purge, scd0_upsert
from etl_staging_spark.tables import register_views

SCHEMA = StructType(
    [
        StructField("code", StringType()),
        StructField("qty", LongType()),
        StructField("price", DoubleType()),
    ]
)


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "stock.csv"
    p.write_text(
        "code,qty,price\n"
        "A1,5,1.5\n"
        "A2,7,2.0\n"
        "BAD,notanumber,xx\n"   # malformed -> corrupt channel
        "ZZ,1,9.9\n"            # unknown key -> rejected channel
    )
    return str(p)


def test_csv_corrupt_channel(spark, csv_file):
    df = read_csv(spark, csv_file, SCHEMA)
    clean, bad = split_corrupt(df)
    assert clean.count() == 3
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "notanumber" in bad_rows[0]["_corrupt_record"]


def _join_right(plan):
    """The right (master) side of the first Join in a JVM plan tree."""
    if plan.getClass().getSimpleName() == "Join":
        return plan.right()
    kids = plan.children()
    for i in range(kids.size()):
        found = _join_right(kids.apply(i))
        if found is not None:
            return found
    return None


def test_validate_against_master(spark, csv_file):
    clean, _ = split_corrupt(read_csv(spark, csv_file, SCHEMA))
    for master_keys in (
        ["A1", "A2", "A3"],
        # duplicate and NULL keys: existence alone decides, a NULL never matches
        ["A1", None, "A2", "A1", "A3", None, "A2"],
    ):
        master = spark.createDataFrame([(k,) for k in master_keys], "pcode string")
        valid, rejected = validate_against_master(clean, master, "code", "pcode")
        assert sorted((r.code, r.qty) for r in valid.collect()) == [("A1", 5), ("A2", 7)]
        rej = rejected.collect()
        assert [r.code for r in rej] == ["ZZ"]
        assert rej[0].reject_reason == "unknown_key"
        for df in (valid, rejected):
            master_side = _join_right(df._jdf.queryExecution().optimizedPlan())
            assert master_side is not None
            assert "Aggregate" not in master_side.toString()


def test_scd0_upsert_keeps_master_rows(spark):
    master = spark.createDataFrame([("A", 1), ("B", 2)], "code string, v int")
    incoming = spark.createDataFrame([("B", 99), ("C", 3)], "code string, v int")
    out = {r.code: (r.v, r.is_new) for r in scd0_upsert(master, incoming, "code").collect()}
    assert out["A"] == (1, False)
    assert out["B"] == (2, False)  # NOT clobbered to 99 (SCD-0)
    assert out["C"] == (3, True)


def test_dedup_purge_survivor(spark):
    df = spark.createDataFrame(
        [("k1", 5.0), ("k1", 3.0), ("k2", 7.0)], "k string, v double"
    )
    out = {r.k: (r.n_dups, r.kept_v) for r in dedup_purge(df, ["k"], "v").collect()}
    assert out["k1"] == (2, 3.0)
    assert out["k2"] == (1, 7.0)


def test_report_file_sink_writes_native_xlsx(spark, tmp_path):
    df = spark.createDataFrame([("x", 1.0)], "a string, b double")
    path = sinks.write_report_file(df, str(tmp_path / "report.xlsx"))
    assert os.path.exists(path) and path.endswith(".xlsx")


def test_styled_xlsx_totals_and_styles(spark, tmp_path):
    """The register workbook contract (sales_report.py:188-225): merged
    title, gray header row, 2-dp numbers, and a bold gray totals row
    whose cells equal the column sums — asserted cell-by-cell on the
    OOXML parts."""
    import re
    import zipfile

    from etl_staging_spark.etl.xlsx import S_HEADER, S_TOTAL_NUM, write_register_xlsx

    df = spark.createDataFrame(
        [("1997-01-03", "alpha", 10.5, 2.0),
         ("1997-02-11", "beta", 4.25, 1.0),
         ("1997-03-20", "gamma", -3.75, 5.0)],
        "invoice_date string, partner string, amount double, qty double",
    )
    path = str(tmp_path / "sales_register.xlsx")
    out = write_register_xlsx(df, path, "Sales Register", "From 1997-01-01 to 1997-03-31")
    assert out["totals"] == {2: 10.5 + 4.25 - 3.75, 3: 8.0}

    with zipfile.ZipFile(path) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
        styles = z.read("xl/styles.xml").decode()
    # title merged across all 4 columns
    assert '<mergeCell ref="A1:D1"/>' in sheet
    # header row (row 3) styled with the header xf
    assert f'<c r="A3" s="{S_HEADER}" t="inlineStr"><is><t xml:space="preserve">invoice_date</t></is></c>' in sheet
    # totals row = row 7 (title, subtitle, header, 3 data rows): label +
    # per-column sums in the bold gray style
    assert re.search(r'<c r="A7" s="\d+" t="inlineStr"><is><t[^>]*>Total</t></is></c>', sheet)
    assert f'<c r="C7" s="{S_TOTAL_NUM}"><v>11.0</v></c>' in sheet
    assert f'<c r="D7" s="{S_TOTAL_NUM}"><v>8.0</v></c>' in sheet
    # the totals style really is bold + solid gray + 2-dp numFmt
    assert 'formatCode="#,##0.00;-#,##0.00"' in styles
    assert '<fgColor rgb="FFC0C0C0"/>' in styles


def test_dashboard_json_sink(spark, tmp_path):
    df = spark.createDataFrame([(0, 10.0), (1, 20.0)], "company_id int, balance double")
    out = sinks.dashboard_json(df, "company_id", str(tmp_path / "dash.json"))
    assert out["0"]["balance"] == 10.0
    assert os.path.exists(tmp_path / "dash.json")


def test_rls_predicate_reaches_scan(spark):
    """F4: the injected RLS predicate must appear in the physical plan
    (pushed to the parquet scan, not applied post-hoc)."""
    register_views(
        spark, "/root/testdata/sf0.001",
        rls_filter={"customer": F.col("c_nationkey").isin(1, 2, 3)},
    )
    plan = spark.sql("SELECT c_custkey FROM customer")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "c_nationkey" in plan
    register_views(spark, "/root/testdata/sf0.001")
    nations = {r.c_nationkey for r in
               spark.sql("SELECT DISTINCT c_nationkey FROM customer").collect()}
    assert len(nations) > 3  # unfiltered again after re-register


def test_report_file_sink_writes_html(spark, tmp_path):
    df = spark.createDataFrame(
        [("alpha", 10.0), ("beta", -2.5)], "partner string, amount double")
    path = sinks.write_report_file(
        df, str(tmp_path / "register.html"), title="Sales Register")
    with open(path) as fh:
        html = fh.read()
    assert "Sales Register" in html and "alpha" in html
    assert '<td class="number color-red">-2.50</td>' in html


def test_partitioned_snapshot_dynamic_overwrite(spark, tmp_path):
    """A correction batch replaces ONLY its partitions — other
    partitions' files stay untouched (the UPDATE-scoped-by-key
    semantics of the reference's maintenance jobs)."""
    from etl_staging_spark.etl.sinks import write_partitioned_snapshot

    path = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(0, "a", 1.0), (0, "b", 2.0), (1, "a", 3.0), (1, "b", 4.0)],
        "company_id int, k string, v double",
    )
    write_partitioned_snapshot(base, path, ["company_id"])
    # correction touches company 1 only
    fix = spark.createDataFrame([(1, "a", 30.0)], "company_id int, k string, v double")
    write_partitioned_snapshot(fix, path, ["company_id"])
    got = {
        (r.company_id, r.k): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {(0, "a"): 1.0, (0, "b"): 2.0, (1, "a"): 30.0}
    # static mode rewrites everything
    write_partitioned_snapshot(fix, path, ["company_id"], mode="static")
    got2 = {(r.company_id, r.k): r.v for r in spark.read.parquet(path).collect()}
    assert got2 == {(1, "a"): 30.0}


SF_DIR = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts
    join with NO shuffle — the write-once-shuffle contract of bucketed
    fact tables."""
    import contextlib
    import io

    from etl_staging_spark.etl.bucketed import co_located_join, write_bucketed
    from etl_staging_spark.tables import load

    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders", ["l_orderkey"], 8, sort_cols=["l_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = co_located_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the join is actually correct
        n = joined.count()
        want = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


# ---------------------------------------------------------------------------
# Assembled registers: stock ageing and production planning on planted
# hand-computable ledgers.
# ---------------------------------------------------------------------------

_MOVE_COLS = (
    "l_partkey l_suppkey l_linenumber l_quantity l_shipdate "
    "l_returnflag l_extendedprice l_discount"
).split()


def _moves(spark, rows):
    from datetime import datetime

    data = [
        (p, s, ln, float(q), datetime.fromisoformat(d), fl, float(ep), float(dc))
        for p, s, ln, q, d, fl, ep, dc in rows
    ]
    return spark.createDataFrame(
        data,
        "l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_shipdate timestamp, l_returnflag string, l_extendedprice double, "
        "l_discount double",
    )


def test_stock_ageing_planted_ledger(spark):
    from etl_staging_spark.etl.registers import stock_ageing

    li = _moves(
        spark,
        [
            # loc 1: part 1 in 10 @ Apr 20 (age 10), out 4 -> stock 6 @ cost 10
            (1, 1, 1, 10, "2020-04-20", "N", 100.0, 0.0),
            (1, 1, 1, 4, "2020-04-25", "R", 999.0, 0.0),
            # loc 2: part 2 in 8 @ Dec 1 (age 151 -> older), net 80 -> cost 10
            (2, 1, 2, 8, "2019-12-01", "N", 160.0, 0.5),
            # loc 0: part 3 nets to zero -> no line row
            (3, 1, 3, 5, "2020-04-01", "N", 50.0, 0.0),
            (3, 1, 3, 5, "2020-04-10", "R", 50.0, 0.0),
            # after the as-of date: invisible
            (1, 1, 1, 99, "2020-05-02", "N", 990.0, 0.0),
        ],
    )
    out = {
        (r["row_type"], r["location_id"], r["product"]): r
        for r in stock_ageing(li, "2020-04-30").collect()
    }
    assert set(out) == {
        ("line", 1, 1),
        ("line", 2, 2),
        ("total_quantity", None, None),
        ("total_value", None, None),
    }
    l1 = out[("line", 1, 1)]
    assert l1["stock_in_hand"] == 6.0 and l1["unit_cost"] == 10.0
    assert l1["qty_0_30"] == 6.0 and l1["val_0_30"] == 60.0
    assert l1["qty_older"] == 0.0 and l1["val_older"] == 0.0
    l2 = out[("line", 2, 2)]
    assert l2["stock_in_hand"] == 8.0 and l2["unit_cost"] == 10.0
    assert l2["qty_older"] == 8.0 and l2["val_older"] == 80.0
    assert out[("total_quantity", None, None)]["stock_in_hand"] == 14.0
    assert out[("total_value", None, None)]["stock_in_hand"] == 140.0


def test_production_planning_rows_and_quirk_columns(spark):
    from datetime import datetime

    from etl_staging_spark.etl.registers import production_planning

    orders = spark.createDataFrame(
        [
            (1, 10, datetime(2020, 6, 5)),
            (2, 11, datetime(2020, 7, 5)),  # outside window
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    li = spark.createDataFrame(
        [(1, 1, 100), (1, 2, 101), (2, 1, 100)],
        "l_orderkey long, l_linenumber int, l_partkey long",
    )
    part = spark.createDataFrame(
        [(100, "belt A", "Brand#1", "BOX"), (101, "belt B", "Brand#2", "BAG")],
        "p_partkey long, p_name string, p_brand string, p_type string",
    )
    cust = spark.createDataFrame(
        [(10, "ACME"), (11, "other")], "c_custkey long, c_name string"
    )
    rows = production_planning(
        orders, li, part, cust, "2020-06-01", "2020-06-30"
    ).collect()
    assert {(r["order_ref"], r["line_no"]) for r in rows} == {(1, 1), (1, 2)}
    for r in rows:
        assert r["customer"] == "ACME"
        # reference writes the bags/belts headers but never the cells
        assert r["n_bags"] is None and r["n_belts"] is None
    by_line = {r["line_no"]: r for r in rows}
    assert by_line[1]["grade"] == "Brand#1" and by_line[2]["compound"] == "BAG"


def test_drop_managed_table_external_data_survives(spark, tmp_path):
    """DROP on an EXTERNAL table must leave the data files in place —
    including when the external location coincides with the managed
    warehouse layout and DESCRIBE fails mid-resolution (the fallback
    rmtree must not fire for any table the catalog listed)."""
    from etl_staging_spark.etl.bucketed import drop_managed_table

    loc = tmp_path / "ext_tbl"
    spark.range(5).write.mode("overwrite").parquet(str(loc))
    spark.sql(
        f"CREATE TABLE ext_probe (id BIGINT) USING parquet LOCATION '{loc}'"
    )
    try:
        drop_managed_table(spark, "ext_probe")
        assert not spark.catalog.tableExists("ext_probe")
        # the external data is untouched and still readable
        assert spark.read.parquet(str(loc)).count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_probe")


def test_drop_managed_table_managed_dir_cleaned(spark):
    """The managed-table path still removes the leftover warehouse
    directory so a subsequent saveAsTable never hits 'location already
    exists'."""
    import os

    from etl_staging_spark.etl.bucketed import drop_managed_table

    spark.range(3).write.mode("overwrite").saveAsTable("mgd_probe")
    loc = None
    for row in spark.sql("DESCRIBE TABLE EXTENDED mgd_probe").collect():
        if row[0] == "Location":
            loc = row[1]
    assert loc is not None
    path = loc[len("file:"):] if loc.startswith("file:") else loc
    drop_managed_table(spark, "mgd_probe")
    assert not spark.catalog.tableExists("mgd_probe")
    assert not os.path.exists(path)


# ---------------------------------------------------------------------------
# JSONL corpus IO (etl/jsonl_io.py)
# ---------------------------------------------------------------------------


def _doc_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )


def test_jsonl_roundtrip_matches_parquet_source(spark, tmp_path):
    """write_jsonl -> read_jsonl reproduces the real documents table
    exactly (gzip shards, declared schema, no corrupt rows)."""
    from etl_staging_spark.etl.jsonl_io import (
        CORRUPT_COL,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, shards=3, compression="gzip")
    # cache before touching the corrupt channel: Spark disallows plans
    # whose only referenced file column is the corrupt-record column
    # (the split_corrupt convention)
    back = read_jsonl(spark, out, docs.schema).cache()
    assert back.where(back[CORRUPT_COL].isNotNull()).count() == 0
    got = sorted(tuple(r) for r in back.drop(CORRUPT_COL).collect())
    want = sorted(tuple(r) for r in docs.collect())
    assert got == want and len(got) > 0


def test_jsonl_corrupt_channel_and_validation(spark, tmp_path):
    """A malformed line lands in the corrupt channel (reason
    ``corrupt``), a NULL id rejects as ``null_id``, BOTH copies of a
    duplicated id reject as ``dup_id``, and the valid side keeps
    exactly the clean unique rows without the channel column."""
    from etl_staging_spark.etl.jsonl_io import read_jsonl, validate_documents

    d = tmp_path / "drop"
    d.mkdir()
    (d / "part0.jsonl").write_text(
        '{"doc_id": 1, "text": "a", "source": "s"}\n'
        '{"doc_id": 2, "text": "b", "source": "s"}\n'
        "{not json at all\n"
        '{"doc_id": 2, "text": "b2", "source": "s"}\n'
        '{"doc_id": null, "text": "c", "source": "s"}\n'
    )
    raw = read_jsonl(spark, str(d), _doc_schema())
    valid, rejected = validate_documents(raw)
    assert [tuple(r) for r in valid.collect()] == [(1, "a", "s")]
    reasons = sorted(
        ((r.doc_id is not None, r.doc_id or 0, r.reject_reason)
         for r in rejected.collect()),
    )
    assert [(d if ok else None, why) for ok, d, why in reasons] == [
        (None, "corrupt"),
        (None, "null_id"),
        (2, "dup_id"),
        (2, "dup_id"),
    ]


def test_jsonl_reread_with_corrupt_col_in_schema(spark, tmp_path):
    """Re-reading a staged reject dataset whose DECLARED schema already
    carries the corrupt column must not append a duplicate field (an
    AnalysisException at scan time) AND must parse the staged field as
    data: Spark excludes the ``columnNameOfCorruptRecord`` column from
    the parsed schema, so without the sentinel-and-fold path the staged
    payload reads back NULL on every well-formed line — assert the
    payload VALUE survives, not just the count."""
    from pyspark.sql.types import StringType, StructField, StructType

    from etl_staging_spark.etl.jsonl_io import (
        CORRUPT_COL,
        read_jsonl,
        write_jsonl,
    )

    d = tmp_path / "drop"
    d.mkdir()
    (d / "p.jsonl").write_text(
        '{"doc_id": 1, "text": "a", "source": "s"}\n'
        "{broken line\n"
    )
    first = read_jsonl(spark, str(d), _doc_schema()).cache()
    staged = str(tmp_path / "rejects")
    write_jsonl(first.where(first[CORRUPT_COL].isNotNull()), staged)
    again = read_jsonl(spark, staged, first.schema).cache()
    assert CORRUPT_COL in again.columns
    assert again.columns.count(CORRUPT_COL) == 1
    assert again.count() == 1
    # the staged payload round-trips as a VALUE, not just a row count
    [row] = again.collect()
    assert row[CORRUPT_COL] == "{broken line"
    # a line malformed IN the staged dataset still lands in the channel
    (tmp_path / "rejects2").mkdir()
    (tmp_path / "rejects2" / "p.jsonl").write_text(
        '{"doc_id": 7, "text": "t", "source": "s", "_corrupt_record": "{orig"}\n'
        "{staged-broken\n"
    )
    twice = read_jsonl(spark, str(tmp_path / "rejects2"), first.schema).cache()
    got = sorted(
        ((r.doc_id, r[CORRUPT_COL]) for r in twice.collect()),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    assert got == [(None, "{staged-broken"), (7, "{orig")]
    # the stream source takes the same sentinel-and-fold path
    from etl_staging_spark.etl.jsonl_io import jsonl_doc_stream

    stream = jsonl_doc_stream(spark, staged, first.schema)
    assert stream.columns.count(CORRUPT_COL) == 1
    assert stream.columns == again.columns


def test_jsonl_doc_stream_feeds_card_streams(spark, tmp_path):
    """The JSONL streaming source composes with the additive card
    machinery: after the documented corrupt-channel split, a length
    card maintained over JSONL drops equals the batch card over the
    union of the CLEAN rows — the planted malformed line lands in the
    channel instead of inflating the card as a phantom all-NULL doc."""
    from pyspark.sql import functions as F

    from etl_staging_spark.etl.jsonl_io import CORRUPT_COL, jsonl_doc_stream
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import length_card_stream

    d = tmp_path / "drops"
    d.mkdir()
    (d / "f0.jsonl").write_text(
        '{"doc_id": 1, "text": "a b c", "source": "s1"}\n'
    )
    (d / "f1.jsonl").write_text(
        '{"doc_id": 2, "text": "d", "source": "s1"}\n'
        "{broken line\n"
        '{"doc_id": 3, "text": "", "source": "s2"}\n'
    )
    stream = jsonl_doc_stream(spark, str(d), _doc_schema())
    clean = stream.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    cards: dict[int, list] = {}
    q = length_card_stream(
        clean,
        str(tmp_path / "state"),
        lambda bid, c: cards.__setitem__(bid, [tuple(r) for r in c.collect()]),
    )
    q.awaitTermination()
    full = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d", "s1"), (3, "", "s2")], _doc_schema()
    )
    want = sorted(tuple(r) for r in stats.length_histogram_card(full).collect())
    assert sorted(cards[max(cards)]) == want


def test_compact_partitions_scoped_and_idempotent(spark, tmp_path):
    """Small-file compaction: a fragmented partitioned snapshot
    compacts the SCOPED partition to AT MOST the target file count
    (an upper bound — (partition, salt) hash collisions can merge two
    writer groups) with byte-identical content, leaves the unscoped
    partition's files untouched (dynamic overwrite — the 100 TB
    argument), reports files_before/after over the SCOPED slice only,
    refuses a data-column scope (destructive under dynamic overwrite),
    and re-running converges (idempotent layout)."""
    import os

    import pytest as _pytest

    from etl_staging_spark.etl.compaction import compact_partitions

    def _leaf_files(p):
        return [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(p)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]

    path = str(tmp_path / "snap")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frag = docs.withColumn(
        "part", (F.col("doc_id") % 2).cast("int")
    ).repartition(16)
    frag.write.partitionBy("part").parquet(path)
    want = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    files0 = {f for f in _leaf_files(path) if "part=0" in f}
    files1 = {f for f in _leaf_files(path) if "part=1" in f}
    assert len(files0) > 2 and len(files1) > 2  # genuinely fragmented

    # a scope touching a DATA column is refused before any write:
    # under dynamic overwrite it would silently delete the
    # non-matching rows of every touched partition
    with _pytest.raises(ValueError, match="partition columns"):
        compact_partitions(
            spark, path, ["part"], scope="n_chars > 10", files_per_partition=2
        )
    # a column-free NON-DETERMINISTIC scope resolves against the
    # partition-only probe but is not row-constant per partition —
    # refused by the determinism walk, again before any write
    for bad in ("part = 0 AND rand() < 0.5", "input_file_name() LIKE 'x%'"):
        with _pytest.raises(ValueError, match="deterministic"):
            compact_partitions(
                spark, path, ["part"], scope=bad, files_per_partition=2
            )
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == want

    res = compact_partitions(
        spark, path, ["part"], scope="part = 0", files_per_partition=2
    )
    after0 = {f for f in _leaf_files(path) if "part=0" in f}
    after1 = {f for f in _leaf_files(path) if "part=1" in f}
    assert len(after0) <= 2 and not (after0 & files0)  # rewritten
    assert after1 == files1                            # untouched
    # counts are SCOPED to part=0, not table-wide
    assert res["files_before"] == len(files0)
    assert res["files_after"] == len(after0)
    assert res["files_after"] < res["files_before"]
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == want                                 # content stable
    # idempotent: a second run converges without changing row content
    compact_partitions(
        spark, path, ["part"], scope="part = 0", files_per_partition=2
    )
    assert len({f for f in _leaf_files(path) if "part=0" in f}) <= 2
    assert sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    ) == want


def test_csv_reread_with_corrupt_col_in_schema(spark, tmp_path):
    """The CSV source takes the same sentinel-and-fold staged-reject
    re-read path as JSONL: a declared schema already carrying the
    corrupt column must not duplicate the field, and the staged
    payload must parse as DATA (value asserted, not just count)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from etl_staging_spark.etl.csv_io import CORRUPT_COL, read_csv

    d = tmp_path / "drop"
    d.mkdir()
    (d / "p.csv").write_text(
        "id,name\n"
        "1,alpha\n"
        "notanumber,beta\n"
    )
    schema = StructType([
        StructField("id", LongType()), StructField("name", StringType()),
    ])
    first = read_csv(spark, str(d), schema).cache()
    bad = first.where(first[CORRUPT_COL].isNotNull())
    assert bad.count() == 1
    # stage the rejects as CSV WITH the corrupt column as a data field
    staged = tmp_path / "rejects"
    bad.write.option("header", True).csv(str(staged))
    again = read_csv(spark, str(staged), first.schema).cache()
    assert again.columns.count(CORRUPT_COL) == 1
    [row] = again.collect()
    assert row[CORRUPT_COL] is not None and "notanumber" in row[CORRUPT_COL]
