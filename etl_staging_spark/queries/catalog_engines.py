r"""Expression-engine query entries (E1-E6, SURVEY §2.9) over the
ledger mapping in ``engines.ledger``. One CORRECTNESS entry per engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..engines import account_codes as ac
from ..engines import aggregation, carryover, custom, formula
from ..engines import cross_report as xr
from ..engines.ledger import O_LEDGER, move_lines
from ..engines.options import make_options, o_date_scope_sql
from ..tables import load, local_frame
from .registry import query

OPTS = make_options("1997-01-01", "1997-12-31")
_SCOPE = o_date_scope_sql(OPTS, "strict_range")


# ---------------------------------------------------------------------------
# E1: domain engine — sum / sum_if_pos / sum_if_neg / count_rows, with
# the total-sign gate applied across groups (account_report.py:2604-2708).
# ---------------------------------------------------------------------------


@query(
    "e1_domain_engine",
    oracle=f"""
    WITH {O_LEDGER},
    f0 AS (
      SELECT 'receivables' AS formula, account_code AS grouping_key,
             SUM(conv) AS dsum, COUNT(DISTINCT id) AS count_rows
      FROM led WHERE {_SCOPE} AND account_code LIKE '1%'
      GROUP BY account_code
    ),
    f1 AS (
      SELECT 'returned_expenses' AS formula, account_code AS grouping_key,
             SUM(conv) AS dsum, COUNT(DISTINCT id) AS count_rows
      FROM led WHERE {_SCOPE} AND account_code LIKE '7%' AND tax_tag_invert
      GROUP BY account_code
    ),
    u AS (SELECT * FROM f0 UNION ALL SELECT * FROM f1)
    SELECT formula, grouping_key,
           CAST(dsum AS DOUBLE) AS res_sum,
           CAST(CASE WHEN SUM(dsum) OVER (PARTITION BY formula) >= 0
                     THEN dsum ELSE 0 END AS DOUBLE) AS res_sum_if_pos,
           CAST(CASE WHEN SUM(dsum) OVER (PARTITION BY formula) < 0
                     THEN dsum ELSE 0 END AS DOUBLE) AS res_sum_if_neg,
           count_rows
    FROM u
    """,
)
def e1_domain_engine(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    return formula.domain_engine(
        led,
        OPTS,
        {
            "receivables": [("account_code", "=like", "1%")],
            "returned_expenses": [
                ("account_code", "=like", "7%"),
                ("tax_tag_invert", "=", True),
            ],
        },
        groupby="account_code",
    )


# ---------------------------------------------------------------------------
# E2: tax_tags engine — signed tag sums with invert flags
# (account_report.py:2535-2602).
# ---------------------------------------------------------------------------

_TAGS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TAGS_SQL = ", ".join(f"'{t}'" for t in _TAGS)


@query(
    "e2_tax_tags_engine",
    oracle=f"""
    WITH {O_LEDGER}
    SELECT tag_name AS formula, CAST(NULL AS VARCHAR) AS grouping_key,
           CAST(SUM(conv
                    * (CASE WHEN tag_sign = '-' THEN -1 ELSE 1 END)
                    * (CASE WHEN tax_tag_invert THEN -1 ELSE 1 END))
                AS DOUBLE) AS balance,
           COUNT(id) AS aml_count
    FROM led WHERE {_SCOPE} AND tag_name IN ({_TAGS_SQL})
    GROUP BY tag_name
    """,
)
def e2_tax_tags_engine(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    return formula.tax_tags_engine(led, OPTS, _TAGS)


# ---------------------------------------------------------------------------
# E3: account_codes DSL — prefix sums with exclusions and per-account
# D/C balance gating (account_report.py:31-38, 2710-2864).
# ---------------------------------------------------------------------------

# NB: a D/C immediately before '\(' is part of the PREFIX (greedy match,
# reference regex account_report.py:33-38); to combine an exclusion with
# a balance gate the gate goes after the parens: '2\(29)C'.
_E3_FORMULAS = ["1", "10\\(104,106)", "1D + 3 - 4C", "2\\(29)C", "1 + 9"]


@query(
    "e3_account_codes",
    oracle=rf"""
    WITH {O_LEDGER},
    per_acct AS (
      SELECT account_code, SUM(conv) AS s
      FROM led WHERE {_SCOPE} GROUP BY account_code
    )
    SELECT '1' AS formula,
           CAST(COALESCE((SELECT SUM(s) FROM per_acct WHERE account_code LIKE '1%'), 0)
                AS DOUBLE) AS result
    UNION ALL
    SELECT '10\(104,106)',
           CAST(COALESCE((SELECT SUM(s) FROM per_acct
                          WHERE account_code LIKE '10%'
                            AND NOT account_code LIKE '104%'
                            AND NOT account_code LIKE '106%'), 0) AS DOUBLE)
    UNION ALL
    SELECT '1D + 3 - 4C',
           CAST(COALESCE((SELECT SUM(s) FROM per_acct
                          WHERE account_code LIKE '1%' AND s >= 0), 0)
                + COALESCE((SELECT SUM(s) FROM per_acct
                            WHERE account_code LIKE '3%'), 0)
                - COALESCE((SELECT SUM(s) FROM per_acct
                            WHERE account_code LIKE '4%' AND s < 0), 0) AS DOUBLE)
    UNION ALL
    SELECT '2\(29)C',
           CAST(COALESCE((SELECT SUM(s) FROM per_acct
                          WHERE account_code LIKE '2%'
                            AND NOT account_code LIKE '29%'
                            AND s < 0), 0) AS DOUBLE)
    UNION ALL
    -- '9' matches no account (codes are 1xx-8xx): the empty term must
    -- contribute 0, not null the formula (regression for the coalesce fix)
    SELECT '1 + 9',
           CAST(COALESCE((SELECT SUM(s) FROM per_acct WHERE account_code LIKE '1%'), 0)
                + COALESCE((SELECT SUM(s) FROM per_acct WHERE account_code LIKE '9%'), 0)
                AS DOUBLE)
    """,
)
def e3_account_codes(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    return ac.evaluate_formulas(led, OPTS, _E3_FORMULAS)


# ---------------------------------------------------------------------------
# E4: external engine — manual values, sum / most_recent
# (account_report.py:2866-2943) over the events table.
# ---------------------------------------------------------------------------

_EXT_OPTS = make_options("2024-01-05", "2024-01-10")


@query(
    "e4_external_engine",
    oracle="""
    WITH ext AS (
      SELECT event_type AS expression, CAST(ts AS DATE) AS date,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    scoped AS (
      SELECT * FROM ext
      WHERE date <= DATE '2024-01-10' AND date >= DATE '2024-01-05'
    ),
    sums AS (
      SELECT expression, 'sum' AS formula, CAST(SUM(v) AS DOUBLE) AS result
      FROM scoped WHERE expression IN ('click', 'view') GROUP BY expression
    ),
    per_date AS (
      SELECT expression, date, SUM(v) AS dsum
      FROM scoped WHERE expression IN ('purchase', 'error')
      GROUP BY expression, date
    ),
    recents AS (
      SELECT expression, 'most_recent' AS formula, CAST(dsum AS DOUBLE) AS result
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY expression
                                         ORDER BY date DESC) AS rn
            FROM per_date)
      WHERE rn = 1
    )
    SELECT expression, formula, result FROM sums
    UNION ALL SELECT expression, formula, result FROM recents
    """,
)
def e4_external_engine(spark, sf_dir):
    ext = formula.external_values_from_events(load(spark, sf_dir, "events"))
    return formula.external_engine(
        ext,
        _EXT_OPTS,
        {"click": "sum", "view": "sum", "purchase": "most_recent", "error": "most_recent"},
    )


# ---------------------------------------------------------------------------
# E4b: carryover generation — the period-close chain
# (account_report.py:2971-3056; behavior pinned by the reference's
# test_tax_report_carryover.py). Base = 6%-prefix minus 7%-prefix sums
# per company x quarter of 1997; carryover bound if_below(0); the unit
# fold vs per-company folds produce the main-company adjustment rows.
# ---------------------------------------------------------------------------

_Q_DATES = {1: "1997-03-31", 2: "1997-06-30", 3: "1997-09-30", 4: "1997-12-31"}
_Q_DATES_SQL = ", ".join(f"({q}, '{d}')" for q, d in _Q_DATES.items())


@query(
    "e4_carryover",
    oracle=f"""
    WITH RECURSIVE {O_LEDGER},
    bases0 AS (
      SELECT company_id, QUARTER(date) AS q,
             SUM(CASE WHEN account_code LIKE '6%' THEN conv ELSE 0 END)
             - SUM(CASE WHEN account_code LIKE '7%' THEN conv ELSE 0 END) AS base
      FROM led WHERE {_SCOPE}
      GROUP BY 1, 2
    ),
    -- zero-fill the full company x quarter grid so the recursive fold
    -- never drops a company that has no rows in some quarter (the Spark
    -- fold zero-fills missing periods the same way)
    bases AS (
      SELECT g.company_id, g.q, COALESCE(b.base, 0) AS base
      FROM (SELECT c.company_id, d.q
            FROM (SELECT DISTINCT company_id FROM bases0) c
            CROSS JOIN (VALUES (1), (2), (3), (4)) AS d(q)) g
      LEFT JOIN bases0 b ON b.company_id = g.company_id AND b.q = g.q
    ),
    -- company_id -1 = the whole tax unit (bounds are non-linear, so the
    -- unit fold differs from the sum of company folds)
    allb AS (
      SELECT company_id, q, base FROM bases
      UNION ALL
      SELECT -1, q, SUM(base) FROM bases GROUP BY q
    ),
    fold AS (
      SELECT company_id, q, base,
             CAST(0 AS DECIMAL(38,2)) AS applied,
             CAST(CASE WHEN base < 0 THEN base ELSE 0 END AS DECIMAL(38,2)) AS carry
      FROM allb WHERE q = 1
      UNION ALL
      SELECT b.company_id, b.q, b.base,
             f.carry AS applied,
             CAST(CASE WHEN b.base + f.carry < 0 THEN b.base + f.carry ELSE 0 END
                  AS DECIMAL(38,2))
      FROM allb b JOIN fold f ON b.company_id = f.company_id AND b.q = f.q + 1
    ),
    dates(q, d) AS (VALUES {_Q_DATES_SQL}),
    comp AS (SELECT q, company_id, carry FROM fold WHERE company_id >= 0),
    unitf AS (SELECT q, carry AS ucarry FROM fold WHERE company_id = -1),
    adjf AS (
      SELECT u.q, u.ucarry - COALESCE(SUM(c.carry), 0) AS adj
      FROM unitf u LEFT JOIN comp c ON c.q = u.q
      GROUP BY u.q, u.ucarry
    )
    SELECT d AS date, company_id,
           '_carryover_balance' AS origin_label,
           '_applied_carryover_balance' AS target_label,
           CAST(carry AS DOUBLE) AS value, 'carryover' AS kind
    FROM comp JOIN dates USING (q) WHERE carry <> 0
    UNION ALL
    SELECT d, 0, '_carryover_balance', '_applied_carryover_balance',
           CAST(adj AS DOUBLE), 'adjustment'
    FROM adjf JOIN dates USING (q) WHERE adj <> 0
    """,
)
def e4_carryover(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    scoped = led.where(
        (F.col("date") >= "1997-01-01") & (F.col("date") <= "1997-12-31 23:59:59")
    )
    bases = scoped.groupBy(
        "company_id", F.quarter("date").alias("period")
    ).agg(
        (
            F.sum(F.when(F.col("account_code").like("6%"), F.col("conv")).otherwise(F.lit(0)))
            - F.sum(F.when(F.col("account_code").like("7%"), F.col("conv")).otherwise(F.lit(0)))
        ).alias("base")
    )
    return carryover.generate_carryover_values(spark, bases, _Q_DATES, main_company=0)


# ---------------------------------------------------------------------------
# E5: custom engine — named handler dispatch (account_report.py:2945-2953).
# ---------------------------------------------------------------------------


@query(
    "e5_custom_engine",
    oracle=f"""
    WITH {O_LEDGER}
    SELECT partner_id, CAST(SUM(conv) AS DOUBLE) AS balance
    FROM led WHERE {_SCOPE}
    GROUP BY partner_id
    ORDER BY SUM(conv) DESC, partner_id
    LIMIT 5
    """,
)
def e5_custom_engine(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    return custom.dispatch("top_partners", led, OPTS)


# ---------------------------------------------------------------------------
# E6: aggregation engine — cross-line fixpoint with bounds, zero-division
# and if_other_expr gating (account_report.py:2279-2498). The base sums
# run in Spark; the fixpoint is driver-side over the collected scalars
# (O(report lines)), exactly like the reference.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# E6b: cross_report — an aggregation term pulls a value from ANOTHER
# report's expressions, computed under the referencing expression's
# date scope (account_report.py:2121-2125, :2268, :2321-2343). Here the
# summary report's RATIO line (scoped 1997) divides by NET_ASSETS from
# a separate balance-sheet definition, forced to the as-of
# 'from_beginning' scope.
# ---------------------------------------------------------------------------

_FB_SCOPE = o_date_scope_sql(OPTS, "from_beginning")

_XR_REGISTRY = {
    ln.key: ln
    for ln in [
        xr.Line("CUR_ASSETS", "domain", [("account_code", "=like", "1%")]),
        xr.Line("CUR_LIAB", "domain", [("account_code", "=like", "2%")]),
        xr.Line("NET_ASSETS", "aggregation", "CUR_ASSETS.balance - CUR_LIAB.balance"),
    ]
}


@query(
    "e6_cross_report",
    oracle=f"""
    WITH {O_LEDGER},
    base AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN account_code LIKE '6%' AND {_SCOPE}
                                    THEN conv END), 0) AS DOUBLE) AS rev,
             CAST(COALESCE(SUM(CASE WHEN account_code LIKE '1%' THEN conv END), 0)
                  AS DOUBLE) AS ca,
             CAST(COALESCE(SUM(CASE WHEN account_code LIKE '2%' THEN conv END), 0)
                  AS DOUBLE) AS cl
      FROM led WHERE {_FB_SCOPE}
    )
    SELECT 'CUR_ASSETS' AS line, ca AS result FROM base
    UNION ALL SELECT 'CUR_LIAB', cl FROM base
    UNION ALL SELECT 'NET_ASSETS', ca - cl FROM base
    UNION ALL SELECT 'RATIO', rev / (ca - cl) * 100 FROM base
    UNION ALL SELECT 'REV', rev FROM base
    """,
)
def e6_cross_report(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    report = [
        xr.Line("REV", "domain", [("account_code", "=like", "6%")]),
        xr.Line(
            "RATIO",
            "aggregation",
            "REV.balance / NET_ASSETS.balance * 100",
            subformula=xr.CROSS_REPORT,
            date_scope="from_beginning",
        ),
    ]
    vals = xr.evaluate_report(led, OPTS, report, _XR_REGISTRY)
    rows = [(k.split(".")[0], v) for k, v in sorted(vals.items())]
    return local_frame(spark, rows, "line string, result double")


@query(
    "e6_aggregation_engine",
    oracle=f"""
    WITH {O_LEDGER},
    base AS (
      SELECT CAST(SUM(CASE WHEN account_code LIKE '6%' THEN conv END) AS DOUBLE) AS rev,
             CAST(SUM(CASE WHEN account_code LIKE '7%' THEN conv END) AS DOUBLE) AS cost
      FROM led WHERE {_SCOPE}
    ),
    c AS (SELECT rev, cost, rev - cost AS gm FROM base)
    SELECT 'REV' AS line, rev AS result FROM c
    UNION ALL SELECT 'COST', cost FROM c
    UNION ALL SELECT 'GM', gm FROM c
    UNION ALL SELECT 'GMPCT', ROUND(gm / rev * 100, 2) FROM c
    UNION ALL SELECT 'BIG', CASE WHEN gm <= 1000000 THEN 0 ELSE gm END FROM c
    UNION ALL SELECT 'CLAMP', CASE WHEN gm < 0 OR gm > 500000 THEN 0 ELSE gm END FROM c
    UNION ALL SELECT 'GATED',
        CASE WHEN (CASE WHEN rev <= 1000 THEN 0 ELSE rev END) <> 0
             THEN cost ELSE 0 END FROM c
    UNION ALL SELECT 'ZDIV', 0 FROM c
    """,
)
def e6_aggregation_engine(spark, sf_dir):
    led = move_lines(spark, sf_dir)
    base = (
        led.where(
            (F.col("date") >= "1997-01-01") & (F.col("date") <= "1997-12-31 23:59:59")
        )
        .agg(
            F.sum(F.when(F.col("account_code").like("6%"), F.col("conv")))
            .cast("double")
            .alias("rev"),
            F.sum(F.when(F.col("account_code").like("7%"), F.col("conv")))
            .cast("double")
            .alias("cost"),
        )
        .first()
    )
    results = aggregation.evaluate(
        base_values={"REV.balance": base.rev, "COST.balance": base.cost},
        formulas={
            "GM.balance": "REV.balance - COST.balance",
            "GMPCT.balance": "GM.balance / REV.balance * 100",
            "BIG.balance": "GM.balance",
            "CLAMP.balance": "GM.balance",
            "GATED.balance": "COST.balance",
            "ZDIV.balance": "GM.balance / (REV.balance - REV.balance)",
        },
        subformulas={
            "GMPCT.balance": "round(2)",
            "BIG.balance": "if_above(USD(1000000))",
            "CLAMP.balance": "if_between(USD(0),USD(500000))",
            "GATED.balance": "if_other_expr_above(REV.balance, USD(1000))",
        },
    )
    rows = [("REV", base.rev), ("COST", base.cost)] + [
        (k.split(".")[0], v) for k, v in results.items()
    ]
    return local_frame(spark, rows, "line string, result double")
