"""ETL/source/sink entries: master upsert (S3), validated ingest (M1),
dedup purge (M3), SQL view source (S7), row-level security (F4), and
the register pivot pipeline (S4/3.3).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..etl.csv_io import validate_against_master
from ..etl.registers import sales_register
from ..etl.upsert import dedup_purge, scd0_upsert
from ..tables import load, local_frame, pin, register_views
from .registry import dsum, o_dsum, query


# ---------------------------------------------------------------------------
# S3: SCD-0 master upsert — incoming batch keyed on code; existing rows
# never change, new keys append (etl_stock/models/company.py:1262-1371).
# ---------------------------------------------------------------------------

_O_INCOMING = """
incoming AS (
  SELECT s_suppkey + 2000000 AS c_custkey, s_name AS c_name,
         'NEW_SEG' AS c_mktsegment
  FROM supplier WHERE s_suppkey % 2 = 0
  UNION ALL
  SELECT s_suppkey, s_name, 'CLOBBER_SEG'
  FROM supplier WHERE s_suppkey % 2 = 1
)"""


@query(
    "s3_master_upsert",
    oracle=f"""
    WITH {_O_INCOMING}
    SELECT c_custkey, c_name, c_mktsegment, FALSE AS is_new FROM customer
    UNION ALL
    SELECT i.c_custkey, i.c_name, i.c_mktsegment, TRUE
    FROM incoming i
    WHERE i.c_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
)
def s3_master_upsert(spark, sf_dir):
    master = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    sup = load(spark, sf_dir, "supplier")
    incoming = (
        sup.where(F.col("s_suppkey") % 2 == 0)
        .select(
            (F.col("s_suppkey") + 2000000).alias("c_custkey"),
            F.col("s_name").alias("c_name"),
            F.lit("NEW_SEG").alias("c_mktsegment"),
        )
        .unionByName(
            sup.where(F.col("s_suppkey") % 2 == 1).select(
                F.col("s_suppkey").alias("c_custkey"),
                F.col("s_name").alias("c_name"),
                F.lit("CLOBBER_SEG").alias("c_mktsegment"),
            )
        )
    )
    return scd0_upsert(master, incoming, "c_custkey")


# ---------------------------------------------------------------------------
# M1: validated ingest — staged rows split into valid/rejected by a
# master-key check, then aggregated (etl_stock/models/company.py:970-1074).
# ---------------------------------------------------------------------------


@query(
    "m1_validated_ingest",
    oracle=f"""
    WITH staged AS (
      SELECT l_partkey + CASE WHEN l_orderkey % 97 = 0 THEN 3000000 ELSE 0 END
                 AS part_key,
             l_quantity
      FROM lineitem
    ),
    valid AS (SELECT * FROM staged
              WHERE part_key IN (SELECT p_partkey FROM part)),
    rejected AS (SELECT * FROM staged
                 WHERE part_key NOT IN (SELECT p_partkey FROM part))
    SELECT 'valid' AS status, part_key, {o_dsum('l_quantity')} AS total_qty,
           COUNT(*) AS n_rows
    FROM valid GROUP BY part_key
    UNION ALL
    SELECT 'rejected', part_key, {o_dsum('l_quantity')}, COUNT(*)
    FROM rejected GROUP BY part_key
    """,
)
def m1_validated_ingest(spark, sf_dir):
    staged = load(spark, sf_dir, "lineitem").select(
        (
            F.col("l_partkey")
            + F.when(F.col("l_orderkey") % 97 == 0, 3000000).otherwise(0)
        ).alias("part_key"),
        "l_quantity",
    )
    part = load(spark, sf_dir, "part")
    valid, rejected = validate_against_master(staged, part, "part_key", "p_partkey")

    def summarize(df, status):
        return df.groupBy("part_key").agg(
            dsum("l_quantity").alias("total_qty"), F.count("*").alias("n_rows")
        ).select(F.lit(status).alias("status"), "part_key", "total_qty", "n_rows")

    return summarize(valid, "valid").unionByName(summarize(rejected, "rejected"))


# ---------------------------------------------------------------------------
# M3: dedup/purge — one deterministic survivor per natural key
# (etl_stock/models/company.py:1186-1195).
# ---------------------------------------------------------------------------


@query(
    "m3_dedup_purge",
    oracle="""
    SELECT l_orderkey, l_linenumber, COUNT(*) AS n_dups,
           MIN(l_extendedprice) AS kept_l_extendedprice
    FROM lineitem GROUP BY l_orderkey, l_linenumber
    """,
)
def m3_dedup_purge(spark, sf_dir):
    return dedup_purge(
        load(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"], "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# S7: SQL view source — a temp view extended with derived columns,
# queried through the SQL API (etl_account/models/account_move.py:2058-2070).
# ---------------------------------------------------------------------------


@query(
    "s7_sql_view",
    oracle="""
    WITH invoice_report AS (
      SELECT o.*,
             CASE WHEN o_totalprice >= 200000 THEN 'large'
                  WHEN o_totalprice >= 50000 THEN 'mid'
                  ELSE 'small' END AS size_bucket
      FROM orders o
    )
    SELECT size_bucket, o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS amount
    FROM invoice_report
    GROUP BY size_bucket, o_orderstatus
    """,
)
def s7_sql_view(spark, sf_dir):
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW invoice_report AS
        SELECT o.*,
               CASE WHEN o_totalprice >= 200000 THEN 'large'
                    WHEN o_totalprice >= 50000 THEN 'mid'
                    ELSE 'small' END AS size_bucket
        FROM orders o
        """
    )
    return spark.sql(
        """
        SELECT size_bucket, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS amount
        FROM invoice_report
        GROUP BY size_bucket, o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# F4: branch row-level security — the mandatory predicate injected at
# the view layer reaches every query, SQL or DataFrame
# (branch_accounting/models/account_reports.py:32-56).
# ---------------------------------------------------------------------------

RLS_NATIONS = (1, 2, 3)


@query(
    "f4_rls",
    oracle=f"""
    SELECT c_nationkey, COUNT(*) AS n_customers,
           {o_dsum('c_acctbal')} AS balance
    FROM customer
    WHERE c_nationkey IN {RLS_NATIONS}
    GROUP BY c_nationkey
    """,
)
def f4_rls(spark, sf_dir):
    register_views(
        spark, sf_dir, rls_filter={"customer": F.col("c_nationkey").isin(*RLS_NATIONS)}
    )
    out = spark.sql(
        """
        SELECT c_nationkey, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS balance
        FROM customer
        GROUP BY c_nationkey
        """
    )
    # re-register the unfiltered views so later entries in the same
    # session see the full tables
    register_views(spark, sf_dir)
    return out


# ---------------------------------------------------------------------------
# S4/3.3: the sales-register pivot pipeline with a grand-total row.
# ---------------------------------------------------------------------------


@query(
    "sr_sales_register",
    oracle="""
    WITH inv AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <= TIMESTAMP '1997-12-31 23:59:59'
    ),
    li AS (
      SELECT l_orderkey, l_quantity, l_returnflag,
             ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2)
                 AS net
      FROM lineitem
    ),
    pi AS (
      SELECT o_orderkey, o_custkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec,
             SUM(net) AS net_dec,
             SUM(CASE WHEN l_returnflag = 'A' THEN net
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS a_a,
             SUM(CASE WHEN l_returnflag = 'N' THEN net
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS a_n,
             SUM(CASE WHEN l_returnflag = 'R' THEN net
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS a_r
      FROM inv JOIN li ON o_orderkey = l_orderkey
      GROUP BY o_orderkey, o_custkey
    )
    SELECT CAST(o_orderkey AS VARCHAR) AS invoice,
           CAST(o_custkey AS VARCHAR) AS partner,
           CAST(qty_dec AS DOUBLE) AS total_qty,
           CAST(net_dec AS DOUBLE) AS net_total,
           CAST(a_a AS DOUBLE) AS amount_A, CAST(a_n AS DOUBLE) AS amount_N,
           CAST(a_r AS DOUBLE) AS amount_R
    FROM pi
    UNION ALL
    SELECT '__TOTAL__', NULL,
           CAST(SUM(qty_dec) AS DOUBLE), CAST(SUM(net_dec) AS DOUBLE),
           CAST(SUM(a_a) AS DOUBLE), CAST(SUM(a_n) AS DOUBLE),
           CAST(SUM(a_r) AS DOUBLE)
    FROM pi
    """,
)
def sr_sales_register(spark, sf_dir):
    return sales_register(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "1997-01-01",
        "1997-12-31",
    )


# ---------------------------------------------------------------------------
# M2: SVL as-of costing — out-layer unit costs from prior in-layers
# (etl_stock/models/svl.py:181-242): single prior's cost, else weighted
# average over priors, else 0; strictly-before-by-date RANGE frames.
# ---------------------------------------------------------------------------

_O_LAYERS = """
layers AS (
  SELECT l_partkey AS part_key,
         CAST(l_shipdate AS DATE) AS layer_date,
         (l_returnflag <> 'R') AS is_in,
         CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) / 100
              AS DECIMAL(18,2)) AS unit_cost,
         ROUND(CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) / 100
                    AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2)), 2) AS value
  FROM lineitem
),
enriched AS (
  SELECT *,
         COUNT(CASE WHEN is_in THEN unit_cost END) OVER w AS n_priors,
         MIN(CASE WHEN is_in THEN unit_cost END) OVER w AS single_cost,
         SUM(CASE WHEN is_in AND unit_cost > 0 THEN value END) OVER w AS val_sum,
         SUM(CASE WHEN is_in AND unit_cost > 0 THEN qty END) OVER w AS qty_sum
  FROM (SELECT *, date_diff('day', DATE '1970-01-01', layer_date) AS day_i
        FROM layers)
  WINDOW w AS (PARTITION BY part_key ORDER BY day_i
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
costed AS (
  SELECT part_key, layer_date, qty,
         CASE WHEN n_priors = 1 THEN CAST(single_cost AS DOUBLE)
              WHEN n_priors > 1 AND qty_sum > 0
                THEN FLOOR(CAST(val_sum AS DOUBLE) / CAST(qty_sum AS DOUBLE)
                           * 1000 + 0.5) / 1000
              ELSE 0.0 END AS out_unit_cost
  FROM enriched WHERE NOT is_in
)
SELECT part_key, strftime(layer_date, '%Y-%m-%d') AS out_date,
       CAST(qty AS DOUBLE) AS out_qty, out_unit_cost,
       CAST(ROUND(CAST(out_unit_cost AS DECIMAL(18,6))
                  * CAST(qty AS DECIMAL(18,2)), 2) AS DOUBLE) AS out_value
FROM costed"""


@query("m2_svl_costing", oracle=f"WITH {_O_LAYERS}")
def m2_svl_costing(spark, sf_dir):
    from pyspark.sql import functions as F2

    from ..etl.costing import svl_costing

    li = load(spark, sf_dir, "lineitem")
    # floor-based 2-dp rounding: engine-independent on doubles (see
    # etl/costing.py on round() divergence between Spark and DuckDB)
    unit_cost = (
        F2.floor(F2.col("l_extendedprice") / F2.col("l_quantity") * 100 + 0.5) / 100
    ).cast("decimal(18,2)")
    layers = li.select(
        F2.col("l_partkey").alias("part_key"),
        F2.col("l_shipdate").cast("date").alias("layer_date"),
        (F2.col("l_returnflag") != "R").alias("is_in"),
        F2.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        unit_cost.alias("unit_cost"),
        F2.round(unit_cost * F2.col("l_quantity").cast("decimal(18,2)"), 2).alias(
            "value"
        ),
    )
    return svl_costing(layers)


# ---------------------------------------------------------------------------
# M5: bank-date stamping — stamp each order with the latest shipment
# date of its lines (the UPDATE-by-join of etl_account/wizard/bank_rec.py).
# ---------------------------------------------------------------------------


@query(
    "m5_bank_date_stamp",
    oracle="""
    SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           strftime(s.bank_date, '%Y-%m-%d') AS bank_date
    FROM orders o
    LEFT JOIN (SELECT l_orderkey, MAX(l_shipdate) AS bank_date
               FROM lineitem GROUP BY l_orderkey) s
      ON s.l_orderkey = o.o_orderkey
    """,
)
def m5_bank_date_stamp(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    stamped = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("bank_date"))
    )
    return o.join(stamped, o.o_orderkey == stamped.l_orderkey, "left").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format("bank_date", "yyyy-MM-dd").alias("bank_date"),
    )


# ---------------------------------------------------------------------------
# M6: opening-balance upload — balanced journal generation: one line on
# the partner's side, one on the offset account, per entity
# (etl_stock/models/company.py upload_ob_* jobs).
# ---------------------------------------------------------------------------


@query(
    "m6_ob_upload",
    oracle="""
    SELECT c_custkey AS partner_id, 1 AS line_no,
           CASE WHEN c_acctbal >= 0 THEN '100' ELSE '200' END AS account_code,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS amount
    FROM customer
    UNION ALL
    SELECT c_custkey, 2, '999',
           CAST(-CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
    FROM customer
    """,
)
def m6_ob_upload(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    side = (
        c.select(
            F.col("c_custkey").alias("partner_id"),
            F.lit(1).alias("line_no"),
            F.when(F.col("c_acctbal") >= 0, "100").otherwise("200").alias("account_code"),
            bal.cast("double").alias("amount"),
        )
    )
    offset = c.select(
        F.col("c_custkey").alias("partner_id"),
        F.lit(2).alias("line_no"),
        F.lit("999").alias("account_code"),
        (-bal).cast("double").alias("amount"),
    )
    return side.unionByName(offset)


# ---------------------------------------------------------------------------
# S4/3.3: purchase register (purchase_report.py:44-198) and HSN summary
# (hsn_report.py) — the remaining register wizards as pivot pipelines.
# ---------------------------------------------------------------------------

_O_NET = "ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2)"
_O_RATE = "CAST(l_tax AS DECIMAL(4,2))"


@query(
    "pr_purchase_register",
    oracle=f"""
    WITH inv AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
    ),
    li AS (
      SELECT l_orderkey, l_suppkey AS vendor_id, l_quantity,
             CAST(ROUND({_O_RATE} * 100) AS INT) AS rate_pct,
             {_O_NET} AS net,
             ROUND({_O_NET} * {_O_RATE}, 2) AS tax_amt
      FROM lineitem
    ),
    pb AS (
      SELECT o_orderkey, vendor_id,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec,
             SUM(net) AS net_dec, SUM(tax_amt) AS tax_dec,
             SUM(CASE WHEN rate_pct BETWEEN 0 AND 2 THEN tax_amt
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS tax_low,
             SUM(CASE WHEN rate_pct BETWEEN 3 AND 5 THEN tax_amt
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS tax_mid,
             SUM(CASE WHEN rate_pct BETWEEN 6 AND 8 THEN tax_amt
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS tax_high
      FROM inv JOIN li ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    )
    SELECT CAST(o_orderkey AS VARCHAR) AS bill,
           CAST(vendor_id AS VARCHAR) AS vendor,
           CAST(qty_dec AS DOUBLE) AS total_qty,
           CAST(net_dec AS DOUBLE) AS net_total,
           CAST(tax_dec AS DOUBLE) AS tax_total,
           CAST(tax_low AS DOUBLE) AS tax_low,
           CAST(tax_mid AS DOUBLE) AS tax_mid,
           CAST(tax_high AS DOUBLE) AS tax_high
    FROM pb
    UNION ALL
    SELECT '__TOTAL__', NULL,
           CAST(SUM(qty_dec) AS DOUBLE), CAST(SUM(net_dec) AS DOUBLE),
           CAST(SUM(tax_dec) AS DOUBLE), CAST(SUM(tax_low) AS DOUBLE),
           CAST(SUM(tax_mid) AS DOUBLE), CAST(SUM(tax_high) AS DOUBLE)
    FROM pb
    """,
)
def pr_purchase_register(spark, sf_dir):
    from ..etl.registers import purchase_register

    return purchase_register(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "1996-01-01",
        "1996-12-31",
    )


@query(
    "hsn_summary",
    oracle=f"""
    WITH inv AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <= TIMESTAMP '1997-12-31 23:59:59'
    ),
    li AS (
      SELECT l_orderkey, l_partkey, l_quantity,
             {_O_NET} AS net,
             ROUND({_O_NET} * {_O_RATE}, 2) AS tax_amt
      FROM lineitem
    ),
    pc AS (
      SELECT p.p_type AS hsn_class, COUNT(*) AS n_lines,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec,
             SUM(net) AS taxable_dec, SUM(tax_amt) AS tax_dec
      FROM inv
      JOIN li ON o_orderkey = l_orderkey
      JOIN part p ON p.p_partkey = li.l_partkey
      GROUP BY 1
    )
    SELECT hsn_class, n_lines,
           CAST(qty_dec AS DOUBLE) AS total_qty,
           CAST(taxable_dec AS DOUBLE) AS taxable_value,
           CAST(tax_dec AS DOUBLE) AS tax_amount,
           CAST(taxable_dec + tax_dec AS DOUBLE) AS gross
    FROM pc
    UNION ALL
    SELECT '__TOTAL__', CAST(SUM(n_lines) AS BIGINT),
           CAST(SUM(qty_dec) AS DOUBLE), CAST(SUM(taxable_dec) AS DOUBLE),
           CAST(SUM(tax_dec) AS DOUBLE),
           CAST(SUM(taxable_dec) + SUM(tax_dec) AS DOUBLE)
    FROM pc
    """,
)
def hsn_summary(spark, sf_dir):
    from ..etl.registers import hsn_summary as hsn

    return hsn(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        "1997-01-01",
        "1997-12-31",
    )


@query(
    "pp_production_planning",
    oracle="""
    SELECT o.o_orderkey AS order_ref, l.l_linenumber AS line_no,
           p.p_name AS product, p.p_brand AS grade,
           p.p_type AS compound,
           CAST(NULL AS DOUBLE) AS n_bags, CAST(NULL AS DOUBLE) AS n_belts,
           c.c_name AS customer
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-06-01'
      AND o.o_orderdate <= TIMESTAMP '1998-06-30 23:59:59'
    """,
)
def pp_production_planning(spark, sf_dir):
    from ..etl.registers import production_planning

    return production_planning(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "customer"),
        "1998-06-01",
        "1998-06-30",
    )


# ---------------------------------------------------------------------------
# S4/3.3: assembled stock-ageing register (stock_ageing.py:46-316) —
# the end-to-end composition of A9 netting, M2 avg cost and W5 buckets.
# ---------------------------------------------------------------------------

_SA_ASOF = "1997-06-30"
_SA_BUCKETS = ((0, 30), (31, 60), (61, 90), (91, 120))
_SA_Q3 = "CAST(l_quantity AS DECIMAL(30,3))"
_SA_Z3 = "CAST(0 AS DECIMAL(30,3))"
_SA_BQ = ",\n             ".join(
    f"SUM(CASE WHEN age BETWEEN {lo} AND {hi} THEN sl_qty ELSE {_SA_Z3} END)"
    f" AS q_{lo}_{hi}"
    for lo, hi in _SA_BUCKETS
)
_SA_BNAMES = [f"q_{lo}_{hi}" for lo, hi in _SA_BUCKETS] + ["q_older"]
_SA_BV = ",\n             ".join(
    f"ROUND(CAST(COALESCE(cost.unit_cost, 0.0) AS DECIMAL(18,6)) * {b}, 3)"
    f" AS v_{b}"
    for b in _SA_BNAMES
)
_SA_OUT = ",\n           ".join(
    f"CAST({b} AS DOUBLE) AS qty_{b[2:]}, CAST(v_{b} AS DOUBLE) AS val_{b[2:]}"
    for b in _SA_BNAMES
)
_SA_NULLS = ", ".join(
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)" for _ in _SA_BNAMES
)


@query(
    "sa_stock_ageing",
    oracle=f"""
    WITH mv AS (
      SELECT l_partkey, l_suppkey, l_linenumber % 3 AS location_id,
             l_quantity, l_shipdate, l_returnflag = 'R' AS is_out,
             {_O_NET} AS net
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '{_SA_ASOF} 23:59:59'
    ),
    ser AS (
      SELECT l_partkey, l_suppkey, location_id,
             SUM(CASE WHEN NOT is_out THEN {_SA_Q3} ELSE {_SA_Z3} END) AS q_in,
             SUM(CASE WHEN is_out THEN {_SA_Q3} ELSE {_SA_Z3} END) AS q_out
      FROM mv GROUP BY 1, 2, 3
    ),
    pos AS (
      SELECT *, q_in - q_out AS sl_qty FROM ser WHERE q_in - q_out > 0
    ),
    birth AS (
      SELECT l_partkey, l_suppkey, MIN(l_shipdate) AS bdate
      FROM mv GROUP BY 1, 2
    ),
    cost AS (
      SELECT l_partkey,
             CASE WHEN SUM({_SA_Q3}) > 0
                  THEN FLOOR(CAST(SUM(net) AS DOUBLE)
                             / CAST(SUM({_SA_Q3}) AS DOUBLE) * 1000 + 0.5) / 1000
                  ELSE 0.0 END AS unit_cost
      FROM mv WHERE NOT is_out GROUP BY 1
    ),
    aged AS (
      SELECT p.location_id, p.l_partkey, p.sl_qty,
             datediff('day', CAST(b.bdate AS DATE), DATE '{_SA_ASOF}') AS age
      FROM pos p JOIN birth b USING (l_partkey, l_suppkey)
    ),
    prod AS (
      SELECT location_id, l_partkey, SUM(sl_qty) AS stock_dec,
             {_SA_BQ},
             SUM(CASE WHEN age > {_SA_BUCKETS[-1][1]} THEN sl_qty
                      ELSE {_SA_Z3} END) AS q_older
      FROM aged GROUP BY 1, 2
    ),
    enr AS (
      SELECT prod.*, COALESCE(cost.unit_cost, 0.0) AS uc,
             {_SA_BV}
      FROM prod LEFT JOIN cost USING (l_partkey)
    )
    SELECT 'line' AS row_type, location_id, l_partkey AS product,
           CAST(stock_dec AS DOUBLE) AS stock_in_hand, uc AS unit_cost,
           {_SA_OUT}
    FROM enr
    UNION ALL
    SELECT 'total_quantity', NULL, NULL, CAST(SUM(stock_dec) AS DOUBLE),
           CAST(NULL AS DOUBLE), {_SA_NULLS}
    FROM enr
    UNION ALL
    SELECT 'total_value', NULL, NULL,
           CAST(SUM({" + ".join("v_" + b for b in _SA_BNAMES)}) AS DOUBLE),
           CAST(NULL AS DOUBLE), {_SA_NULLS}
    FROM enr
    """,
)
def sa_stock_ageing(spark, sf_dir):
    from ..etl.registers import stock_ageing

    return stock_ageing(load(spark, sf_dir, "lineitem"), _SA_ASOF)


# ---------------------------------------------------------------------------
# S2/JSONL: the JSONL file source's corrupt channel + validation split,
# certified end-to-end (registered r14, VERDICT r13 item 5). The CSV
# twin (S2/M1) certifies validate_against_master; this row certifies
# the jsonl_io path the corpus drops actually take: a REAL shard is
# written (valid lines + planted malformed/null-id/dup-id lines), read
# back through `read_jsonl`'s PERMISSIVE corrupt channel, split by
# `validate_documents`, and summarized — while the DuckDB oracle
# derives the same split from the `documents` view directly, so the
# hash certifies that file-write -> scan -> corrupt-channel ->
# validation reproduces exactly what the table implies, at any sf.
# ---------------------------------------------------------------------------


def _o_jsonl_corrupt_split() -> str:
    """Oracle twin of `jsonl_corrupt_split`: the shard content is a
    deterministic function of `documents` (docs with doc_id % 97 = 0
    are written mangled; three planted lines exercise null_id and
    dup_id), so the expected (valid, rejected-by-reason) summary is
    derivable from the view — no file read, no execution-order
    coupling between the Spark run and the oracle run."""
    return """
    WITH jl AS (
      SELECT doc_id, text, source FROM documents
      WHERE doc_id IS NULL OR doc_id % 97 <> 0
      UNION ALL SELECT NULL, 'planted-null', 'planted'
      UNION ALL SELECT -1, 'planted-dup-a', 'planted'
      UNION ALL SELECT -1, 'planted-dup-b', 'planted'
    ),
    keyed AS (SELECT * FROM jl WHERE doc_id IS NOT NULL),
    dupk AS (
      SELECT doc_id FROM keyed GROUP BY doc_id HAVING COUNT(*) > 1
    )
    SELECT 'valid' AS status, source, COUNT(*) AS n_rows,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id
    FROM keyed WHERE doc_id NOT IN (SELECT doc_id FROM dupk)
    GROUP BY source
    UNION ALL
    SELECT 'corrupt', CAST(NULL AS VARCHAR), COUNT(*),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM documents WHERE doc_id % 97 = 0 GROUP BY 1, 2
    UNION ALL
    SELECT 'null_id', source, COUNT(*),
           CAST(SUM(length(text)) AS BIGINT), CAST(NULL AS BIGINT)
    FROM jl WHERE doc_id IS NULL GROUP BY source
    UNION ALL
    SELECT 'dup_id', source, COUNT(*),
           CAST(SUM(length(text)) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
    FROM keyed WHERE doc_id IN (SELECT doc_id FROM dupk)
    GROUP BY source"""


@query("jsonl_corrupt_split", oracle=_o_jsonl_corrupt_split())
def jsonl_corrupt_split(spark, sf_dir):
    """Write a JSONL shard of the documents table with deterministic
    planted defects (docs with pmod(doc_id, 97) = 0 mangled to
    malformed JSON; one null-id line; one duplicated-id pair), read it
    back through `etl.jsonl_io.read_jsonl` (declared schema, PERMISSIVE
    corrupt channel), split with `validate_documents`, and summarize
    each side per (status, source) with exact char/id sums — the
    corrupt-channel hash row the CSV source got via M1. The shard lands
    under the system temp dir keyed by the sf basename and is rewritten
    per call (deterministic content, overwrite mode), so the entry is
    self-staging at every scale the driver runs."""
    import os
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..etl.jsonl_io import read_jsonl, validate_documents

    docs = load(spark, sf_dir, "documents")
    payload = F.to_json(F.struct("doc_id", "text", "source"))
    line = F.when(
        F.pmod("doc_id", F.lit(97)) == 0,
        F.concat(F.lit("{corrupt "), payload),
    ).otherwise(payload)
    planted = local_frame(
        spark,
        [
            ('{"doc_id": null, "text": "planted-null", "source": "planted"}',),
            ('{"doc_id": -1, "text": "planted-dup-a", "source": "planted"}',),
            ('{"doc_id": -1, "text": "planted-dup-b", "source": "planted"}',),
        ],
        "line string",
    )
    import hashlib

    # key by the FULL normalized path (digest + basename for
    # readability) AND the process id: two sf dirs sharing a basename,
    # or the same dir driven by two concurrent harnesses, must not
    # overwrite each other's shard mid-scan
    norm = os.path.normpath(os.path.abspath(sf_dir))
    shard = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_jsonl_cert",
        f"{os.path.basename(norm)}"
        f"-{hashlib.md5(norm.encode()).hexdigest()[:12]}-p{os.getpid()}",
    )
    docs.select(line.alias("line")).unionByName(planted).write.mode(
        "overwrite"
    ).text(shard)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    # both sides of one scan are consumed: cache first (the corrupt-
    # record-only plan restriction, see validate_documents)
    raw = read_jsonl(spark, shard, schema).cache()
    valid, rejected = validate_documents(raw)

    def summarize(df, status_col):
        return df.groupBy(status_col.alias("status"), "source").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_id"),
        )

    out = summarize(valid, F.lit("valid")).unionByName(
        summarize(rejected, F.col("reject_reason"))
    )
    return pin(out, raw)
