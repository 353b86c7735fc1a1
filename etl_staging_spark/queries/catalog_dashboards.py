"""Report-aggregation entries A10-A15 (SURVEY §2.4): dashboard
scalars, tax rollup, EC sales, cash-flow classification, suspense
split, read_group — on the engine ledger + dims.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..engines.ledger import O_LEDGER, move_lines
from ..tables import load, pin
from .registry import dsum, o_dsum, query


# ---------------------------------------------------------------------------
# A10: read_group aggregates (ORM group-by,
# etl_account/models/account_move.py:230-238).
# ---------------------------------------------------------------------------


@query(
    "a10_read_group",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n,
           {o_dsum('o_totalprice')} AS total_amount
    FROM orders GROUP BY o_orderstatus
    """,
)
def a10_read_group(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total_amount"))
    )


# ---------------------------------------------------------------------------
# A11: per-entity dashboard scalars (journal dashboard: balance,
# outstanding in/out, to-check count —
# etl_account/models/account_move.py:139-263, 295-328).
# ---------------------------------------------------------------------------


@query(
    "a11_dashboard_scalars",
    oracle=f"""
    WITH {O_LEDGER}
    SELECT company_id,
           CAST(SUM(conv) AS DOUBLE) AS balance,
           CAST(SUM(CASE WHEN conv >= 0 THEN conv
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS to_collect,
           CAST(SUM(CASE WHEN conv < 0 THEN -conv
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS to_pay,
           CAST(SUM(CASE WHEN tax_tag_invert THEN 1 ELSE 0 END)
                AS BIGINT) AS n_to_check,
           COUNT(DISTINCT move_id) AS n_moves
    FROM led GROUP BY company_id
    """,
)
def a11_dashboard_scalars(spark, sf_dir):
    # Exact-decimal internal sums, DOUBLE at the output edge — the dsum
    # convention shared by every driver-green entry.
    led = move_lines(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    return led.groupBy("company_id").agg(
        F.sum("conv").cast("double").alias("balance"),
        F.sum(F.when(F.col("conv") >= 0, F.col("conv")).otherwise(zero))
        .cast("double")
        .alias("to_collect"),
        F.sum(F.when(F.col("conv") < 0, -F.col("conv")).otherwise(zero))
        .cast("double")
        .alias("to_pay"),
        F.sum(F.when(F.col("tax_tag_invert"), 1).otherwise(0)).alias("n_to_check"),
        F.countDistinct("move_id").alias("n_moves"),
    )


# ---------------------------------------------------------------------------
# A12: tax-report 2-level rollup — (group, member) sums plus per-group
# total rows, with a distinct-move double-count guard
# (account_generic_tax_report.py:115-272). Group expansion = the
# region -> nation hierarchy.
# ---------------------------------------------------------------------------


@query(
    "a12_tax_rollup",
    oracle=f"""
    WITH {O_LEDGER},
    joined AS (
      SELECT led.*, n.n_name, r.r_name
      FROM led
      JOIN customer c ON led.partner_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    )
    SELECT COALESCE(r_name, '__ALL__') AS tax_group,
           COALESCE(n_name, '__GROUP_TOTAL__') AS tax_member,
           CAST(SUM(conv) AS DOUBLE) AS base_amount,
           COUNT(DISTINCT move_id) AS n_distinct_moves
    FROM joined
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def a12_tax_rollup(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        led.join(F.broadcast(c), led.partner_id == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.sum("conv").cast("double").alias("base_amount"),
            F.countDistinct("move_id").alias("n_distinct_moves"),
        )
        .select(
            F.coalesce("r_name", F.lit("__ALL__")).alias("tax_group"),
            F.coalesce("n_name", F.lit("__GROUP_TOTAL__")).alias("tax_member"),
            "base_amount",
            "n_distinct_moves",
        )
    )


# ---------------------------------------------------------------------------
# A13: EC sales listing — -SUM(balance) by (partner, tag, country) with
# a VAT-style completeness check (account_sales_report.py:250-308).
# ---------------------------------------------------------------------------


@query(
    "a13_ec_sales",
    oracle=f"""
    WITH {O_LEDGER}
    SELECT led.partner_id, n.n_name AS country, led.tag_name,
           CAST(-SUM(conv) AS DOUBLE) AS amount,
           (c.c_acctbal >= 0) AS vat_ok
    FROM led
    JOIN customer c ON led.partner_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(substr(led.account_code, 1, 1) AS INT) = 6
    GROUP BY led.partner_id, n.n_name, led.tag_name, (c.c_acctbal >= 0)
    """,
)
def a13_ec_sales(spark, sf_dir):
    led = move_lines(spark, sf_dir).where(
        F.substring("account_code", 1, 1).cast("int") == 6
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = led.join(F.broadcast(c), led.partner_id == c.c_custkey).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return joined.groupBy(
        "partner_id",
        F.col("n_name").alias("country"),
        "tag_name",
        (F.col("c_acctbal") >= 0).alias("vat_ok"),
    ).agg((-F.sum("conv")).cast("double").alias("amount"))


# ---------------------------------------------------------------------------
# A14: cash-flow classification — union of three filtered aggregates
# (credit-reconciled / debit-reconciled / total) combined with a
# sign-flip per block (account_cash_flow_report.py:254-376).
# ---------------------------------------------------------------------------

_O_CF_BLOCK = """
    SELECT tag_name, '{label}' AS block, SUM(conv) AS bal
    FROM led WHERE {cond} GROUP BY tag_name"""


@query(
    "a14_cash_flow",
    oracle=f"""
    WITH {O_LEDGER},
    blocks AS (
      {_O_CF_BLOCK.format(label='credit_reconciled',
                          cond="conv < 0 AND tax_tag_invert")}
      UNION ALL
      {_O_CF_BLOCK.format(label='debit_reconciled',
                          cond="conv >= 0 AND tax_tag_invert")}
      UNION ALL
      {_O_CF_BLOCK.format(label='total', cond="TRUE")}
    )
    SELECT tag_name AS cash_flow_bucket,
           CAST(SUM(CASE WHEN block = 'total' THEN bal ELSE -bal END)
                AS DOUBLE) AS net_cash,
           COUNT(*) AS n_blocks
    FROM blocks GROUP BY tag_name
    """,
)
def a14_cash_flow(spark, sf_dir):
    led = move_lines(spark, sf_dir)

    def block(cond, label):
        return (
            led.where(cond)
            .groupBy("tag_name")
            .agg(F.sum("conv").alias("bal"))
            .withColumn("block", F.lit(label))
        )

    blocks = (
        block((F.col("conv") < 0) & F.col("tax_tag_invert"), "credit_reconciled")
        .unionByName(
            block((F.col("conv") >= 0) & F.col("tax_tag_invert"), "debit_reconciled")
        )
        .unionByName(block(F.lit(True), "total"))
    )
    return blocks.groupBy(F.col("tag_name").alias("cash_flow_bucket")).agg(
        F.sum(F.when(F.col("block") == "total", F.col("bal")).otherwise(-F.col("bal")))
        .cast("double")
        .alias("net_cash"),
        F.count("*").alias("n_blocks"),
    )


# ---------------------------------------------------------------------------
# A15: bank-reco suspense split — per move, suspense-account balance vs
# the rest (account_bank_reconciliation_report.py:406-439). Suspense
# accounts = the '29' prefix.
# ---------------------------------------------------------------------------


@query(
    "a15_suspense_split",
    oracle=f"""
    WITH {O_LEDGER}
    SELECT move_id,
           CAST(SUM(CASE WHEN account_code LIKE '29%' THEN conv
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS suspense_amount,
           CAST(SUM(CASE WHEN account_code LIKE '29%' THEN CAST(0 AS DECIMAL(18,2))
                         ELSE conv END) AS DOUBLE) AS other_amount
    FROM led
    GROUP BY move_id
    HAVING SUM(CASE WHEN account_code LIKE '29%' THEN conv
                    ELSE CAST(0 AS DECIMAL(18,2)) END) <> 0
    """,
)
def a15_suspense_split(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    susp = F.when(F.col("account_code").like("29%"), F.col("conv")).otherwise(zero)
    other = F.when(F.col("account_code").like("29%"), zero).otherwise(F.col("conv"))
    agg = led.groupBy("move_id").agg(
        F.sum(susp).alias("susp_dec"), F.sum(other).cast("double").alias("other_amount")
    )
    return agg.where(F.col("susp_dec") != 0).select(
        "move_id",
        F.col("susp_dec").cast("double").alias("suspense_amount"),
        "other_amount",
    )


# ---------------------------------------------------------------------------
# VAT closing entry (account_generic_tax_report.py:586-770,
# _generate_tax_closing_entries / _compute_vat_closing_entry): per
# (tax group, tax account) period sums become inverse move lines that
# zero each account (debit=|amt| when negative, credit=amt when
# positive), and each group's total settles into a receivable/payable
# line. One grouped aggregate + one tiny per-group aggregate.
# ---------------------------------------------------------------------------


@query(
    "tax_closing",
    oracle=f"""
    WITH {O_LEDGER},
    per_acct AS (
      SELECT tag_name AS tax_group, account_code,
             SUM(conv) AS amt
      FROM led
      WHERE account_code LIKE '4%'
        AND date >= TIMESTAMP '1997-01-01'
        AND date <= TIMESTAMP '1997-12-31 23:59:59'
      GROUP BY 1, 2
    ),
    balance_lines AS (
      SELECT tax_group, 'balance' AS line_type, account_code,
             CAST(CASE WHEN amt < 0 THEN -amt ELSE 0 END AS DOUBLE) AS debit,
             CAST(CASE WHEN amt > 0 THEN amt ELSE 0 END AS DOUBLE) AS credit
      FROM per_acct
    ),
    settle AS (
      SELECT tax_group,
             CASE WHEN SUM(amt) >= 0 THEN 'payable' ELSE 'receivable' END
                 AS line_type,
             'SETTLE' AS account_code,
             CAST(CASE WHEN SUM(amt) >= 0 THEN SUM(amt) ELSE 0 END AS DOUBLE)
                 AS debit,
             CAST(CASE WHEN SUM(amt) < 0 THEN -SUM(amt) ELSE 0 END AS DOUBLE)
                 AS credit
      FROM per_acct GROUP BY tax_group
    )
    SELECT * FROM balance_lines UNION ALL SELECT * FROM settle
    """,
)
def tax_closing(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    zero = F.lit(0).cast("decimal(38,2)")
    per_acct = (
        led.where(
            F.col("account_code").like("4%")
            & (F.col("date") >= "1997-01-01")
            & (F.col("date") <= "1997-12-31 23:59:59")
        )
        .groupBy(F.col("tag_name").alias("tax_group"), "account_code")
        .agg(F.sum("conv").alias("amt"))
        .persist()
    )
    balance_lines = per_acct.select(
        "tax_group",
        F.lit("balance").alias("line_type"),
        "account_code",
        F.when(F.col("amt") < 0, -F.col("amt")).otherwise(zero).cast("double").alias("debit"),
        F.when(F.col("amt") > 0, F.col("amt")).otherwise(zero).cast("double").alias("credit"),
    )
    settle = per_acct.groupBy("tax_group").agg(F.sum("amt").alias("total")).select(
        "tax_group",
        F.when(F.col("total") >= 0, "payable").otherwise("receivable").alias("line_type"),
        F.lit("SETTLE").alias("account_code"),
        F.when(F.col("total") >= 0, F.col("total")).otherwise(zero).cast("double").alias("debit"),
        F.when(F.col("total") < 0, -F.col("total")).otherwise(zero).cast("double").alias("credit"),
    )
    return pin(balance_lines.unionByName(settle), per_acct)
