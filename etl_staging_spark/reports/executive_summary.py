"""The executive summary report — the reference's all-engines showcase.

Port of `account_reports/data/executive_summary.xml` +
`account_reports/models/executive_summary_report.py:10-15`: cash lines
(domain engine, sign-split), profitability pulled from the P&L via
``cross_report``, balance-sheet positions, performance ratios, and the
average-debtor/creditor-days lines whose ``NDays`` term is the custom
engine returning the period's day span.

Account mapping onto the synthetic ledger (see ``engines.ledger``):
class 1 = assets ('10x' cash, '12x' receivables), 2 = liabilities
('21x' payables), 3 = fixed assets, 6 = income, '70x' cost of revenue,
8 = other expenses.

One Spark aggregate per distinct date scope (strict period flows,
'normal' as-of balances) computes every domain line; the ratio fixpoint
is driver-side over the collected scalars.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from ..engines import cross_report as xr
from ..tables import local_frame

# The P&L / balance-sheet definitions referenced across reports.
REGISTRY = {
    ln.key: ln
    for ln in [
        xr.Line("INC", "domain", [("account_code", "=like", "6%")]),
        xr.Line("COS", "domain", [("account_code", "=like", "70%")]),
        xr.Line("GRP", "aggregation", "INC.balance - COS.balance"),
        xr.Line("LEX", "domain", [("account_code", "=like", "8%")]),
        xr.Line("NEP", "aggregation", "GRP.balance - LEX.balance"),
        xr.Line("OPINC", "aggregation", "INC.balance"),
        xr.Line("CA", "domain", [("account_code", "=like", "1%")]),
        xr.Line("FA", "domain", [("account_code", "=like", "3%")]),
        xr.Line("TA", "aggregation", "CA.balance + FA.balance"),
        xr.Line("CL", "domain", [("account_code", "=like", "2%")]),
        xr.Line("L", "aggregation", "CL.balance"),
    ]
}

LINES = [
    # Cash block: period flows, sign-split like the reference's
    # debit>0 / credit>0 domains
    xr.Line("CR", "domain", [("account_code", "=like", "10%"), ("conv", ">", 0)]),
    xr.Line("CS", "domain", [("account_code", "=like", "10%"), ("conv", "<", 0)]),
    xr.Line("CASH_SURPLUS", "aggregation", "CR.balance + CS.balance"),
    xr.Line(
        "CLOSING_BANK",
        "domain",
        [("account_code", "=like", "10%")],
        date_scope="normal",
    ),
    # Profitability: pulled from the P&L definition under 'normal'
    xr.Line("ES_INC", "aggregation", "INC.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("ES_COS", "aggregation", "COS.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("ES_GRP", "aggregation", "GRP.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("ES_LEX", "aggregation", "LEX.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("ES_NEP", "aggregation", "NEP.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
    # Balance sheet positions (as-of)
    xr.Line("DEB", "domain", [("account_code", "=like", "12%")], date_scope="normal"),
    xr.Line("CRE", "domain", [("account_code", "=like", "21%")], date_scope="normal"),
    xr.Line("NET_ASSETS", "aggregation", "TA.balance - L.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
    # Performance ratios
    xr.Line("GP_MARGIN", "aggregation", "GRP.balance / OPINC.balance * 100", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("NP_MARGIN", "aggregation", "NEP.balance / INC.balance * 100", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("ROI", "aggregation", "NEP.balance / TA.balance * 100", subformula=xr.CROSS_REPORT, date_scope="normal"),
    # Position: NDays is the custom engine (period day span)
    xr.Line("AVG_DEBT_DAYS", "aggregation", "DEB.balance / OPINC.balance * NDAYS.days", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("AVG_CRED_DAYS", "aggregation", "-CRE.balance / OPINC.balance * NDAYS.days", subformula=xr.CROSS_REPORT, date_scope="normal"),
    xr.Line("ST_CASH_FORECAST", "aggregation", "DEB.balance + CRE.balance"),
    xr.Line("CA_TO_L", "aggregation", "CA.balance / CL.balance", subformula=xr.CROSS_REPORT, date_scope="normal"),
]


def ndays(options: dict) -> float:
    """`_report_custom_engine_executive_summary_ndays`
    (`executive_summary_report.py:10-15`): the period's day span."""
    d_from = dt.date.fromisoformat(options["date"]["date_from"])
    d_to = dt.date.fromisoformat(options["date"]["date_to"])
    return float((d_to - d_from).days)


def executive_summary(spark: SparkSession, led: DataFrame, options: dict) -> DataFrame:
    """Evaluate the full summary; returns (line, result) rows for the
    report's own lines (foreign subcomputations excluded, like the
    reference's final result filter)."""
    vals = xr.evaluate_report(
        led, options, LINES, REGISTRY, extra_base_values={"NDAYS.days": ndays(options)}
    )
    own = {ln.key: ln.code for ln in LINES}
    rows = sorted((own[k], v) for k, v in vals.items() if k in own)
    return local_frame(spark, rows, "line string, result double")
