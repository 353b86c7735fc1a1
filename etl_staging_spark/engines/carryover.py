"""E4 carryover generation: the tax-report period-close chain.

Reference semantics (`account_reports/models/account_report.py:2971-3056`,
`_generate_carryover_external_values`, behavior pinned by
`account_reports/tests/test_tax_report_carryover.py`):

- a report line carries a ``_carryover_<label>`` expression whose bounded
  value (``if_below(CUR(0))`` — only the negative part carries) is written
  at period close as an *external value* row targeting the next period's
  ``_applied_carryover_<label>`` expression (external engine,
  ``most_recent``);
- the next period's unbounded balance is ``base + applied``, and its own
  close writes the next carryover — a sequential fold over periods;
- multi-company: carryover is generated per company, then, because the
  bounds are NOT linear (the unit-level bounded value differs from the
  sum of per-company bounded values), an *adjustment* row on the main
  company brings the stored total to the unit-level result.

Spark shape: the per-(period, company) bases come from ONE aggregate over
the scoped ledger (grouped by period and company — bounded output), and
the fold itself is driver-side Python over those collected scalars,
exactly like the reference's closing loop: O(periods x companies), never
O(rows). Arithmetic stays in ``Decimal`` end-to-end so the bound
comparisons and the final double cast are bit-reproducible against the
DuckDB oracle's recursive-CTE fold.
"""

from __future__ import annotations

from collections import defaultdict
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from ..tables import local_frame

CARRYOVER_SCHEMA = (
    "date string, company_id int, origin_label string, target_label string,"
    " value double, kind string"
)


def fold_chain(bases: list[tuple[int, Decimal]]) -> list[dict]:
    """The per-entity carryover fold. ``bases`` is [(period, base)] in
    period order. Bounds follow the reference fixture: carryover is
    ``if_below(0)`` (only negative results carry), the published balance
    is ``if_above(0)``."""
    applied = Decimal(0)
    out = []
    for period, base in bases:
        unbound = base + applied
        zero = Decimal(0)
        carry = unbound if unbound < zero else zero
        balance = unbound if unbound > zero else zero
        out.append(
            {
                "period": period,
                "base": base,
                "applied": applied,
                "unbound": unbound,
                "carry": carry,
                "balance": balance,
            }
        )
        applied = carry
    return out


def generate_carryover_values(
    spark: SparkSession,
    bases: DataFrame,
    period_dates: dict[int, str],
    main_company: int = 0,
    origin_label: str = "_carryover_balance",
    target_label: str = "_applied_carryover_balance",
) -> DataFrame:
    """Generate the external-value rows each period close would create.

    ``bases`` has columns (period int, company_id int, base decimal) —
    one row per period x company (the single Spark aggregate). Emits,
    per period: one 'carryover' row per company with non-zero carry,
    plus one 'adjustment' row on ``main_company`` when the unit-level
    fold differs from the sum of company folds (the reference's tax-unit
    adjustment). Zero values are skipped, like the reference's
    ``currency_id.is_zero`` gate."""
    per_company: dict[int, dict[int, Decimal]] = defaultdict(dict)
    for r in bases.collect():  # bounded: periods x companies
        per_company[int(r.company_id)][int(r.period)] = Decimal(r.base)
    periods = sorted(period_dates)
    chains = {
        cid: fold_chain([(p, bs.get(p, Decimal(0))) for p in periods])
        for cid, bs in per_company.items()
    }
    unit_chain = fold_chain(
        [
            (p, sum((bs.get(p, Decimal(0)) for bs in per_company.values()), Decimal(0)))
            for p in periods
        ]
    )
    rows = []
    for i, p in enumerate(periods):
        company_total = Decimal(0)
        for cid in sorted(per_company):
            carry = chains[cid][i]["carry"]
            company_total += carry
            if carry != 0:
                rows.append(
                    (period_dates[p], cid, origin_label, target_label, float(carry), "carryover")
                )
        adjustment = unit_chain[i]["carry"] - company_total
        if adjustment != 0:
            rows.append(
                (
                    period_dates[p],
                    main_company,
                    origin_label,
                    target_label,
                    float(adjustment),
                    "adjustment",
                )
            )
    return local_frame(spark, rows, CARRYOVER_SCHEMA)
