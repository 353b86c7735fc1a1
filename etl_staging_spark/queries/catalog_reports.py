"""Assembled-report entries: general ledger (sums + unaffected
earnings + running detail, across two column groups) and aged
receivable — each composing 4+ SURVEY §2 operators.
"""

from __future__ import annotations

from ..engines.ledger import O_LEDGER, move_lines
from ..engines.options import build_comparison, make_options
from ..reports.aged_partner import aged_receivable
from ..reports.general_ledger import gl_detail, gl_sums
from ..tables import load, pin
from .registry import query

# current year + 1 generated previous_period comparison (1996) — the
# comparison generator (options.build_comparison) produces the same
# bounds the reference's date filter would.
GL_OPTS = build_comparison(
    make_options("1997-01-01", "1997-12-31"), "previous_period", 1
)

_O_DEBIT = "CAST(SUM(CASE WHEN conv >= 0 THEN conv ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)"
_O_CREDIT = "CAST(SUM(CASE WHEN conv < 0 THEN -conv ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)"


def _o_gl_group(cg_key: str, date_from: str, date_to: str) -> str:
    fy_eve = f"{date_from[:4]}-01-01"
    return f"""
    SELECT '{cg_key}' AS column_group_key, 'sum' AS key, account_code AS groupby,
           {_O_DEBIT} AS debit, {_O_CREDIT} AS credit,
           CAST(SUM(conv) AS DOUBLE) AS balance,
           strftime(MAX(date), '%Y-%m-%d') AS max_date
    FROM led
    WHERE date <= TIMESTAMP '{date_to} 23:59:59'
      AND (date >= TIMESTAMP '{date_from}'
           OR CAST(substr(account_code, 1, 1) AS INT) <= 5)
    GROUP BY account_code
    UNION ALL
    SELECT '{cg_key}', 'unaffected_earnings', CAST(company_id AS VARCHAR),
           {_O_DEBIT}, {_O_CREDIT}, CAST(SUM(conv) AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM led
    WHERE date < TIMESTAMP '{fy_eve}'
      AND CAST(substr(account_code, 1, 1) AS INT) > 5
    GROUP BY company_id
    """


@query(
    "gl_report",
    oracle=f"""
    WITH {O_LEDGER}
    {_o_gl_group('cg0', '1997-01-01', '1997-12-31')}
    UNION ALL
    {_o_gl_group('cg1', '1996-01-01', '1996-12-31')}
    """,
)
def gl_report(spark, sf_dir):
    """General ledger sums: column groups (A8/U1) x ('normal'-scope
    account sums with initial balances (W1/F3) + unaffected-earnings
    fold (W4)), currency-rounded per row (J2)."""
    return gl_sums(move_lines(spark, sf_dir), GL_OPTS)


def _o_gl_hg_group(cg_key: str, date_from: str, date_to: str, cid: int) -> str:
    """One horizontal-group cell of the oracle: the period block ANDed
    with the group value filter."""
    fy_eve = f"{date_from[:4]}-01-01"
    return f"""
    SELECT '{cg_key}' AS column_group_key, 'sum' AS key, account_code AS groupby,
           {_O_DEBIT} AS debit, {_O_CREDIT} AS credit,
           CAST(SUM(conv) AS DOUBLE) AS balance,
           strftime(MAX(date), '%Y-%m-%d') AS max_date
    FROM led
    WHERE company_id = {cid}
      AND date <= TIMESTAMP '{date_to} 23:59:59'
      AND (date >= TIMESTAMP '{date_from}'
           OR CAST(substr(account_code, 1, 1) AS INT) <= 5)
    GROUP BY account_code
    UNION ALL
    SELECT '{cg_key}', 'unaffected_earnings', CAST(company_id AS VARCHAR),
           {_O_DEBIT}, {_O_CREDIT}, CAST(SUM(conv) AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM led
    WHERE company_id = {cid}
      AND date < TIMESTAMP '{fy_eve}'
      AND CAST(substr(account_code, 1, 1) AS INT) > 5
    GROUP BY company_id
    """


_HG_PERIODS = {0: ("1997-01-01", "1997-12-31"), 1: ("1996-01-01", "1996-12-31")}

HG_OPTS = build_comparison(
    make_options("1997-01-01", "1997-12-31"), "previous_period", 1
)
HG_OPTS["horizontal_groups"] = {"field": "company_id", "values": [0, 1, 2]}


@query(
    "hg_column_groups",
    oracle=f"""
    WITH {O_LEDGER}
    {" UNION ALL ".join(
        _o_gl_hg_group(f"cg{{i}}_hg{{j}}".format(i=i, j=j), lo, hi, cid)
        for i, (lo, hi) in _HG_PERIODS.items()
        for j, cid in enumerate([0, 1, 2])
    )}
    """,
)
def hg_column_groups(spark, sf_dir):
    """Horizontal-group column groups (`account_report.py:1193-1282`):
    the column-group matrix is (current + comparison periods) x the
    horizontal groupby field's values — here 2 periods x 3 companies =
    6 groups, each adding a ``forced_domain`` leaf that rides the same
    pushed-down scan predicate as its date scope. Drives the SAME
    gl_sums pipeline as gl_report, so the variant required by the
    reference's comparison x groups filter matrix shares one code
    path."""
    return gl_sums(move_lines(spark, sf_dir), HG_OPTS)


@query(
    "gl_report_detail",
    oracle=f"""
    WITH {O_LEDGER},
    opening AS (
      SELECT account_code, SUM(conv) AS opening
      FROM led
      WHERE date < TIMESTAMP '1997-01-01'
        AND CAST(substr(account_code, 1, 1) AS INT) <= 5
      GROUP BY account_code
    )
    SELECT l.account_code, l.id, strftime(l.date, '%Y-%m-%d') AS line_date,
           CAST(l.conv AS DOUBLE) AS amount,
           CAST(COALESCE(o.opening, 0)
                + SUM(l.conv) OVER (PARTITION BY l.account_code
                                    ORDER BY l.date, l.id, l.conv
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_balance
    FROM led l LEFT JOIN opening o USING (account_code)
    WHERE l.date >= TIMESTAMP '1997-01-01'
      AND l.date <= TIMESTAMP '1997-12-31 23:59:59'
    """,
)
def gl_report_detail(spark, sf_dir):
    """GL detail lines: opening balance seed + per-account running
    balance window (W1 + W2)."""
    return gl_detail(move_lines(spark, sf_dir), GL_OPTS)


AGED_AS_OF = "1998-06-01"


@query(
    "aged_report",
    oracle=f"""
    WITH paid AS (
      SELECT l_orderkey AS pay_key,
             SUM(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2))
                 AS paid
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '{AGED_AS_OF} 23:59:59'
      GROUP BY l_orderkey
    ),
    res AS (
      SELECT i.o_custkey AS partner_id,
             CAST(i.o_totalprice AS DECIMAL(18,2))
               - COALESCE(p.paid, CAST(0 AS DECIMAL(18,2))) AS residual,
             date_diff('day', CAST(i.o_orderdate AS DATE) + 30,
                       DATE '{AGED_AS_OF}') AS dd
      FROM orders i LEFT JOIN paid p ON i.o_orderkey = p.pay_key
      WHERE i.o_orderdate <= TIMESTAMP '{AGED_AS_OF} 23:59:59'
    ),
    bucketed AS (
      SELECT partner_id, residual,
             CASE WHEN dd <= 0 THEN 0 WHEN dd <= 30 THEN 1 WHEN dd <= 60 THEN 2
                  WHEN dd <= 90 THEN 3 WHEN dd <= 120 THEN 4 ELSE 5 END AS bucket
      FROM res
    )
    SELECT partner_id, COUNT(*) AS aml_count,
           CAST(SUM(CASE WHEN bucket = 0 THEN residual ELSE 0 END) AS DOUBLE) AS period0,
           CAST(SUM(CASE WHEN bucket = 1 THEN residual ELSE 0 END) AS DOUBLE) AS period1,
           CAST(SUM(CASE WHEN bucket = 2 THEN residual ELSE 0 END) AS DOUBLE) AS period2,
           CAST(SUM(CASE WHEN bucket = 3 THEN residual ELSE 0 END) AS DOUBLE) AS period3,
           CAST(SUM(CASE WHEN bucket = 4 THEN residual ELSE 0 END) AS DOUBLE) AS period4,
           CAST(SUM(CASE WHEN bucket = 5 THEN residual ELSE 0 END) AS DOUBLE) AS period5,
           CAST(SUM(residual) AS DOUBLE) AS total
    FROM bucketed
    GROUP BY partner_id
    HAVING SUM(residual) <> 0
    """,
)
def aged_report(spark, sf_dir):
    """Aged receivable: reconciled-as-of pre-agg + left join (J3),
    day-diff bucketization (J4/W5), residual pivot (A3), HAVING (A5)."""
    return aged_receivable(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem"), AGED_AS_OF
    )


# ---------------------------------------------------------------------------
# Trial balance: initial | period debit/credit | end balance per account
# (account_trial_balance_report.py:83-150 — the GL engine under
# strict_range with a to-beginning-of-period initial column).
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402


@query(
    "tb_report",
    oracle=f"""
    WITH {O_LEDGER},
    initial AS (
      SELECT account_code, SUM(conv) AS init_dec
      FROM led
      WHERE date < TIMESTAMP '1997-01-01'
        AND CAST(substr(account_code, 1, 1) AS INT) <= 5
      GROUP BY account_code
    ),
    period AS (
      SELECT account_code,
             SUM(CASE WHEN conv >= 0 THEN conv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS debit_dec,
             SUM(CASE WHEN conv < 0 THEN -conv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS credit_dec,
             SUM(conv) AS bal_dec
      FROM led
      WHERE date >= TIMESTAMP '1997-01-01'
        AND date <= TIMESTAMP '1997-12-31 23:59:59'
      GROUP BY account_code
    )
    SELECT COALESCE(p.account_code, i.account_code) AS account_code,
           CAST(COALESCE(i.init_dec, 0) AS DOUBLE) AS initial_balance,
           CAST(COALESCE(p.debit_dec, 0) AS DOUBLE) AS debit,
           CAST(COALESCE(p.credit_dec, 0) AS DOUBLE) AS credit,
           CAST(COALESCE(i.init_dec, 0) + COALESCE(p.bal_dec, 0) AS DOUBLE)
               AS end_balance
    FROM period p FULL OUTER JOIN initial i USING (account_code)
    """,
)
def tb_report(spark, sf_dir):
    """Trial balance: the GL sums machinery under strict_range plus an
    initial-balance column (balance-sheet accounts only), end balance =
    initial + period movement."""
    led = move_lines(spark, sf_dir)
    from ..engines.ledger import is_balance_sheet

    zero = F.lit(0).cast("decimal(18,2)")
    initial = (
        led.where((F.col("date") < "1997-01-01") & is_balance_sheet())
        .groupBy("account_code")
        .agg(F.sum("conv").alias("init_dec"))
    )
    period = (
        led.where(
            (F.col("date") >= "1997-01-01") & (F.col("date") <= "1997-12-31 23:59:59")
        )
        .groupBy("account_code")
        .agg(
            F.sum(F.when(F.col("conv") >= 0, F.col("conv")).otherwise(zero)).alias(
                "debit_dec"
            ),
            F.sum(F.when(F.col("conv") < 0, -F.col("conv")).otherwise(zero)).alias(
                "credit_dec"
            ),
            F.sum("conv").alias("bal_dec"),
        )
    )
    joined = period.join(initial, "account_code", "full_outer")
    zinit = F.coalesce(F.col("init_dec"), zero)
    zbal = F.coalesce(F.col("bal_dec"), zero)
    return joined.select(
        "account_code",
        zinit.cast("double").alias("initial_balance"),
        F.coalesce(F.col("debit_dec"), zero).cast("double").alias("debit"),
        F.coalesce(F.col("credit_dec"), zero).cast("double").alias("credit"),
        (zinit + zbal).cast("double").alias("end_balance"),
    )


# ---------------------------------------------------------------------------
# Partner ledger with the NULL-partner bucket + reattribution
# (account_partner_ledger.py:266-346): partner-less lines get their own
# bucket, and their amounts are ALSO attributed back to the partner
# they reconcile with (here: the partnered identity of the same move).
# ---------------------------------------------------------------------------


@query(
    "pl_report",
    oracle=f"""
    WITH {O_LEDGER},
    pled AS (
      SELECT *, CASE WHEN id % 13 = 0 THEN NULL ELSE partner_id END AS pl_partner
      FROM led
      WHERE date >= TIMESTAMP '1997-01-01'
        AND date <= TIMESTAMP '1997-12-31 23:59:59'
    ),
    detail AS (
      SELECT 'detail' AS block, pl_partner AS partner_id,
             CAST(SUM(CASE WHEN conv >= 0 THEN conv
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS debit,
             CAST(SUM(CASE WHEN conv < 0 THEN -conv
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS credit,
             CAST(SUM(conv) AS DOUBLE) AS balance
      FROM pled GROUP BY pl_partner
    ),
    move_partner AS (
      SELECT DISTINCT move_id, partner_id FROM pled WHERE pl_partner IS NOT NULL
    ),
    reattributed AS (
      SELECT 'reattributed' AS block, m.partner_id,
             CAST(SUM(CASE WHEN n.conv >= 0 THEN n.conv
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS debit,
             CAST(SUM(CASE WHEN n.conv < 0 THEN -n.conv
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS credit,
             CAST(SUM(n.conv) AS DOUBLE) AS balance
      FROM pled n JOIN move_partner m ON n.move_id = m.move_id
      WHERE n.pl_partner IS NULL
      GROUP BY m.partner_id
    )
    SELECT * FROM detail UNION ALL SELECT * FROM reattributed
    """,
)
def pl_report(spark, sf_dir):
    """Partner ledger: per-partner period sums including the explicit
    NULL-partner bucket, plus the reattribution block folding
    partner-less lines back onto the partner of their move."""
    led = move_lines(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    pled = led.where(
        (F.col("date") >= "1997-01-01") & (F.col("date") <= "1997-12-31 23:59:59")
    ).withColumn(
        "pl_partner",
        F.when(F.col("id") % 13 == 0, F.lit(None).cast("long")).otherwise(
            F.col("partner_id")
        ),
    )

    def sums(df, keys):
        return df.groupBy(*keys).agg(
            F.sum(F.when(F.col("conv") >= 0, F.col("conv")).otherwise(zero))
            .cast("double")
            .alias("debit"),
            F.sum(F.when(F.col("conv") < 0, -F.col("conv")).otherwise(zero))
            .cast("double")
            .alias("credit"),
            F.sum("conv").cast("double").alias("balance"),
        )

    detail = sums(pled, [F.col("pl_partner").alias("partner_id")]).select(
        F.lit("detail").alias("block"), "partner_id", "debit", "credit", "balance"
    )
    move_partner = (
        pled.where(F.col("pl_partner").isNotNull())
        .select("move_id", "partner_id")
        .distinct()
        .withColumnRenamed("partner_id", "mp_partner")
    )
    nulls = pled.where(F.col("pl_partner").isNull()).select("move_id", "conv")
    reattributed = sums(
        nulls.join(move_partner, "move_id"),
        [F.col("mp_partner").alias("partner_id")],
    ).select(
        F.lit("reattributed").alias("block"), "partner_id", "debit", "credit", "balance"
    )
    return detail.unionByName(reattributed)


# ---------------------------------------------------------------------------
# Journal report: month sections (A16) with cumulative month-end running
# balance per journal (W2) — account_journal_report.py:547-596, 728-755.
# ---------------------------------------------------------------------------


@query(
    "jr_report",
    oracle=f"""
    WITH {O_LEDGER},
    monthly AS (
      SELECT company_id, strftime(date, '%Y-%m') AS month_key,
             COUNT(*) AS n_lines,
             SUM(CASE WHEN conv >= 0 THEN conv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS debit_dec,
             SUM(CASE WHEN conv < 0 THEN -conv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS credit_dec,
             SUM(conv) AS bal_dec
      FROM led GROUP BY company_id, strftime(date, '%Y-%m')
    )
    SELECT company_id, month_key, n_lines,
           CAST(debit_dec AS DOUBLE) AS debit,
           CAST(credit_dec AS DOUBLE) AS credit,
           CAST(SUM(bal_dec) OVER (PARTITION BY company_id ORDER BY month_key
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_balance
    FROM monthly
    """,
)
def jr_report(spark, sf_dir):
    """Journal report: distinct-month sections with per-journal
    (company) debit/credit and a cumulative month-end running balance —
    the month key is the window order, so the partitioned window
    streams sorted month runs per journal."""
    from pyspark.sql import Window as W

    led = move_lines(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    monthly = led.groupBy(
        "company_id", F.date_format("date", "yyyy-MM").alias("month_key")
    ).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("conv") >= 0, F.col("conv")).otherwise(zero)).alias("debit_dec"),
        F.sum(F.when(F.col("conv") < 0, -F.col("conv")).otherwise(zero)).alias("credit_dec"),
        F.sum("conv").alias("bal_dec"),
    )
    w = (
        W.partitionBy("company_id")
        .orderBy("month_key")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return monthly.select(
        "company_id",
        "month_key",
        "n_lines",
        F.col("debit_dec").cast("double").alias("debit"),
        F.col("credit_dec").cast("double").alias("credit"),
        F.sum("bal_dec").over(w).cast("double").alias("running_balance"),
    )


# ---------------------------------------------------------------------------
# Multicurrency revaluation: FX-exposed balances for to-adjust accounts
# (anti-join against the exclusion dim, J6) unioned with the excluded
# block (heterogeneous union, U2) —
# account_multicurrency_revaluation_report.py:205-243.
# ---------------------------------------------------------------------------


@query(
    "mc_report",
    oracle=f"""
    WITH {O_LEDGER},
    excl AS (
      SELECT DISTINCT account_code FROM led WHERE account_code LIKE '29%'
    ),
    fx AS (
      SELECT account_code,
             CAST(SUM(CAST(balance AS DECIMAL(18,6))) AS DOUBLE) AS fx_balance,
             CAST(SUM(conv) AS DOUBLE) AS converted_balance,
             COUNT(*) AS n_lines
      FROM led
      WHERE company_id <> 0
        AND CAST(substr(account_code, 1, 1) AS INT) <= 5
        AND account_code NOT IN (SELECT account_code FROM excl)
      GROUP BY account_code
    ),
    excluded AS (
      SELECT account_code,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), COUNT(*)
      FROM led
      WHERE company_id <> 0
        AND CAST(substr(account_code, 1, 1) AS INT) <= 5
        AND account_code IN (SELECT account_code FROM excl)
      GROUP BY account_code
    )
    SELECT 'to_adjust' AS block, * FROM fx
    UNION ALL
    SELECT 'excluded', * FROM excluded
    """,
)
def mc_report(spark, sf_dir):
    """Multicurrency revaluation: FX-exposed (non-base-rate company)
    balance-sheet lines, split into to-adjust accounts (anti-joined
    against the exclusion dim — left_anti, never NOT IN over a subquery)
    and the excluded block with its heterogeneous columns NULLed
    (unionByName shape)."""
    led = move_lines(spark, sf_dir)
    from ..engines.ledger import is_balance_sheet

    fx_lines = led.where((F.col("company_id") != 0) & is_balance_sheet())
    excl = (
        led.where(F.col("account_code").like("29%"))
        .select("account_code")
        .distinct()
    )

    def agg(df):
        return df.groupBy("account_code").agg(
            F.sum(F.col("balance").cast("decimal(18,6)")).cast("double").alias("fx_balance"),
            F.sum("conv").cast("double").alias("converted_balance"),
            F.count("*").alias("n_lines"),
        )

    to_adjust = agg(fx_lines.join(F.broadcast(excl), "account_code", "left_anti")).select(
        F.lit("to_adjust").alias("block"), "account_code",
        "fx_balance", "converted_balance", "n_lines",
    )
    excluded = (
        fx_lines.join(F.broadcast(excl), "account_code", "left_semi")
        .groupBy("account_code")
        .agg(F.count("*").alias("n_lines"))
        .select(
            F.lit("excluded").alias("block"), "account_code",
            F.lit(None).cast("double").alias("fx_balance"),
            F.lit(None).cast("double").alias("converted_balance"),
            "n_lines",
        )
    )
    return to_adjust.unionByName(excluded)


# ---------------------------------------------------------------------------
# Executive summary (data/executive_summary.xml +
# executive_summary_report.py:10-15): domain cash lines, cross_report
# profitability from the P&L definition, balance-sheet positions,
# ratios, and NDays-based average debtor/creditor days — every engine
# in one report. One Spark aggregate per date scope; driver fixpoint.
# ---------------------------------------------------------------------------

_ES_IN = "date >= TIMESTAMP '1997-01-01'"


@query(
    "es_report",
    oracle=f"""
    WITH {O_LEDGER},
    base AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '10%' AND conv > 0 AND {_ES_IN}
                               THEN conv END), 0) AS DOUBLE) AS cr,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '10%' AND conv < 0 AND {_ES_IN}
                               THEN conv END), 0) AS DOUBLE) AS cs,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '10%' THEN conv END), 0)
             AS DOUBLE) AS closing,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '12%' THEN conv END), 0)
             AS DOUBLE) AS deb,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '21%' THEN conv END), 0)
             AS DOUBLE) AS cre,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '6%' AND {_ES_IN}
                               THEN conv END), 0) AS DOUBLE) AS inc,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '70%' AND {_ES_IN}
                               THEN conv END), 0) AS DOUBLE) AS cos,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '8%' AND {_ES_IN}
                               THEN conv END), 0) AS DOUBLE) AS lex,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '1%' THEN conv END), 0)
             AS DOUBLE) AS ca,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '3%' THEN conv END), 0)
             AS DOUBLE) AS fa,
        CAST(COALESCE(SUM(CASE WHEN account_code LIKE '2%' THEN conv END), 0)
             AS DOUBLE) AS cl
      FROM led WHERE date <= TIMESTAMP '1997-12-31 23:59:59'
    )
    SELECT 'CR' AS line, cr AS result FROM base
    UNION ALL SELECT 'CS', cs FROM base
    UNION ALL SELECT 'CASH_SURPLUS', cr + cs FROM base
    UNION ALL SELECT 'CLOSING_BANK', closing FROM base
    UNION ALL SELECT 'ES_INC', inc FROM base
    UNION ALL SELECT 'ES_COS', cos FROM base
    UNION ALL SELECT 'ES_GRP', inc - cos FROM base
    UNION ALL SELECT 'ES_LEX', lex FROM base
    UNION ALL SELECT 'ES_NEP', (inc - cos) - lex FROM base
    UNION ALL SELECT 'DEB', deb FROM base
    UNION ALL SELECT 'CRE', cre FROM base
    UNION ALL SELECT 'NET_ASSETS', (ca + fa) - cl FROM base
    UNION ALL SELECT 'GP_MARGIN', (inc - cos) / inc * 100 FROM base
    UNION ALL SELECT 'NP_MARGIN', ((inc - cos) - lex) / inc * 100 FROM base
    UNION ALL SELECT 'ROI', ((inc - cos) - lex) / (ca + fa) * 100 FROM base
    UNION ALL SELECT 'AVG_DEBT_DAYS', deb / inc * 364.0 FROM base
    UNION ALL SELECT 'AVG_CRED_DAYS', -cre / inc * 364.0 FROM base
    UNION ALL SELECT 'ST_CASH_FORECAST', deb + cre FROM base
    UNION ALL SELECT 'CA_TO_L', ca / cl FROM base
    """,
)
def es_report(spark, sf_dir):
    from ..reports.executive_summary import executive_summary

    led = move_lines(spark, sf_dir)
    return executive_summary(spark, led, make_options("1997-01-01", "1997-12-31"))


# ---------------------------------------------------------------------------
# Bank reconciliation statement report
# (account_bank_reconciliation_report.py:406-439): per unreconciled
# statement line, split the move's balance into suspense-account vs
# other, then section the lines into receipts(+) / payments(-) with
# totals — the statement-level layer above the A15 split.
# ---------------------------------------------------------------------------


@query(
    "br_report",
    oracle=f"""
    WITH {O_LEDGER},
    st AS (
      SELECT l.move_id,
             SUM(CASE WHEN l.account_code LIKE '10%' THEN l.conv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS susp,
             SUM(CASE WHEN l.account_code LIKE '10%' THEN CAST(0 AS DECIMAL(18,2))
                      ELSE l.conv END) AS oth,
             strftime(MAX(l.date), '%Y-%m-%d') AS st_date,
             COUNT(*) AS n
      FROM led l JOIN orders o ON o.o_orderkey = l.move_id
      WHERE o.o_orderstatus = 'O'
        AND l.date >= TIMESTAMP '1997-01-01'
        AND l.date <= TIMESTAMP '1997-12-31 23:59:59'
      GROUP BY l.move_id
    ),
    details AS (
      SELECT CASE WHEN susp > 0 THEN 'receipts' ELSE 'payments' END AS section,
             'st_line' AS line_type, move_id, st_date,
             CAST(susp AS DECIMAL(18,2)) AS susp_dec,
             CAST(oth AS DECIMAL(18,2)) AS oth_dec, n
      FROM st WHERE susp <> 0
    )
    SELECT section, line_type, move_id, st_date,
           CAST(susp_dec AS DOUBLE) AS suspense_balance,
           CAST(oth_dec AS DOUBLE) AS other_balance, n
    FROM details
    UNION ALL
    SELECT section, 'total', NULL, NULL,
           CAST(SUM(susp_dec) AS DOUBLE),
           CAST(SUM(oth_dec) AS DOUBLE),
           -- DuckDB SUM(BIGINT) is HUGEINT -> Arrow decimal128, which a
           -- pandas/Arrow-canonicalizing harness renders as Decimal('k')
           -- vs Spark's int64 k: cast back to BIGINT (see registry.py)
           CAST(SUM(n) AS BIGINT)
    FROM details GROUP BY section
    """,
)
def br_report(spark, sf_dir):
    """Unreconciled statements (open orders) x suspense/other split
    (A15) -> sectioned detail + totals (U1). One shuffle on move_id;
    the section totals aggregate the bounded detail frame."""
    from pyspark.sql import functions as F

    led = move_lines(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    zero = F.lit(0).cast("decimal(18,2)")
    st = (
        led.where(
            (F.col("date") >= "1997-01-01") & (F.col("date") <= "1997-12-31 23:59:59")
        )
        .join(o, led.move_id == o.o_orderkey)
        .where(F.col("o_orderstatus") == "O")
        .groupBy("move_id")
        .agg(
            F.sum(
                F.when(F.col("account_code").like("10%"), F.col("conv")).otherwise(zero)
            ).alias("susp"),
            F.sum(
                F.when(F.col("account_code").like("10%"), zero).otherwise(F.col("conv"))
            ).alias("oth"),
            F.date_format(F.max("date"), "yyyy-MM-dd").alias("st_date"),
            F.count("*").alias("n"),
        )
    )
    # Internal frame stays exact decimal; the output edge casts to DOUBLE
    # (the dsum convention every driver-green entry uses).
    details = (
        st.where(F.col("susp") != 0)
        .select(
            F.when(F.col("susp") > 0, "receipts").otherwise("payments").alias("section"),
            F.lit("st_line").alias("line_type"),
            "move_id",
            "st_date",
            F.col("susp").cast("decimal(18,2)").alias("susp_dec"),
            F.col("oth").cast("decimal(18,2)").alias("oth_dec"),
            "n",
        )
        .persist()
    )
    out_cols = [
        "section",
        "line_type",
        "move_id",
        "st_date",
        F.col("susp_dec").cast("double").alias("suspense_balance"),
        F.col("oth_dec").cast("double").alias("other_balance"),
        "n",
    ]
    totals = details.groupBy("section").agg(
        F.lit("total").alias("line_type"),
        F.lit(None).cast("long").alias("move_id"),
        F.lit(None).cast("string").alias("st_date"),
        F.sum("susp_dec").alias("susp_dec"),
        F.sum("oth_dec").alias("oth_dec"),
        F.sum("n").alias("n"),
    )
    out = details.select(*out_cols).unionByName(totals.select(*out_cols))
    return pin(out, details)


# ---------------------------------------------------------------------------
# Analytic report (account_analytic_report.py:1-263): the report's
# columns are duplicated once per analytic plan / analytic account,
# each evaluating the SAME formulas over the shadow fact (analytic
# lines mapped into move-line schema with balance = -amount,
# _prepare_lines_for_analytic_groupby) filtered to that plan's
# accounts. Spark shape: ONE conditional aggregate — a column per
# analytic header, never a scan per plan.
# ---------------------------------------------------------------------------


@query(
    "analytic_report",
    oracle=f"""
    WITH {O_LEDGER},
    shadow AS (
      SELECT substr(account_code, 1, 1) AS account_class,
             id % 5 AS analytic_account,
             CAST(-conv AS DECIMAL(18,2)) AS balance
      FROM led
      WHERE date >= TIMESTAMP '1997-01-01'
        AND date <= TIMESTAMP '1997-12-31 23:59:59'
    )
    SELECT account_class,
           CAST(SUM(balance) AS DOUBLE) AS balance_total,
           CAST(SUM(CASE WHEN analytic_account IN (0, 1, 2) THEN balance
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS balance_plan_a,
           CAST(SUM(CASE WHEN analytic_account IN (3, 4) THEN balance
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS balance_plan_b,
           CAST(SUM(CASE WHEN analytic_account = 0 THEN balance
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS balance_acct0,
           COUNT(*) AS n_lines
    FROM shadow GROUP BY account_class
    """,
)
def analytic_report(spark, sf_dir):
    from pyspark.sql import functions as F

    led = move_lines(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    shadow = led.where(
        (F.col("date") >= "1997-01-01") & (F.col("date") <= "1997-12-31 23:59:59")
    ).select(
        F.substring("account_code", 1, 1).alias("account_class"),
        (F.col("id") % 5).alias("analytic_account"),
        (-F.col("conv")).cast("decimal(18,2)").alias("balance"),
    )
    return shadow.groupBy("account_class").agg(
        F.sum("balance").cast("double").alias("balance_total"),
        F.sum(
            F.when(F.col("analytic_account").isin(0, 1, 2), F.col("balance")).otherwise(zero)
        ).cast("double").alias("balance_plan_a"),
        F.sum(
            F.when(F.col("analytic_account").isin(3, 4), F.col("balance")).otherwise(zero)
        ).cast("double").alias("balance_plan_b"),
        F.sum(
            F.when(F.col("analytic_account") == 0, F.col("balance")).otherwise(zero)
        ).cast("double").alias("balance_acct0"),
        F.count("*").alias("n_lines"),
    )
