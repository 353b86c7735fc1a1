r"""E3: the account_codes prefix DSL.

Formula grammar (reference `account_report.py:31-38, 2710-2864`)::

    formula   := term (('+'|'-') term)*
    term      := prefix [ '\(' excluded (',' excluded)* ')' ] [D|C]

- ``123``          sum of balances of accounts whose code starts 123
- ``123\(1234)``   ... excluding accounts starting 1234
- ``123D``         ... only if the ACCOUNT's total is >= 0 (debit), per
  account — else that account contributes 0 (C: < 0)
- ``123D\``        empty exclusion: the D belongs to the prefix itself
- ``123\(1234)D``  exclusion AND gate: the gate goes AFTER the parens;
  a D/C immediately before ``\(`` is (greedily) part of the prefix

Evaluation is two-phase, exactly like the reference: one per-account
aggregate over the scoped ledger (a single shuffle on account_code —
accounts are bounded, ~thousands at any data scale), then driver-free
term combination: each term is a filtered+gated+signed SUM over the
per-account totals, composed per formula. Sums stay in exact decimal
until the final cast, so D/C gate comparisons and the result hash are
deterministic.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .options import date_scope_filter

# Same token grammar as the reference's regexes (re-derived):
# split before every +/- sign, then parse sign/prefix/exclusions/DC.
SPLIT_RE = re.compile(r"(?=[+-])")
TERM_RE = re.compile(
    r"^(?P<sign>[+-]?)"
    r"(?P<prefix>[A-Za-z\d.]*((?=\\)|(?<=[^CD])|(?<=^)))"
    r"(\\\((?P<excluded>([A-Za-z\d.]+,)*[A-Za-z\d.]*)\))?"
    r"(?P<balance_char>[DC]?)$"
)


@dataclass(frozen=True)
class Term:
    sign: int
    prefix: str
    excluded: tuple[str, ...]
    balance_char: str  # '', 'D' or 'C'


def parse_formula(formula: str) -> list[Term]:
    terms = []
    for token in SPLIT_RE.split(formula.replace(" ", "")):
        if not token:
            continue
        # '123D\' — trailing empty exclusion marks D/C as part of the
        # prefix itself (reference docstring example 1)
        if token.endswith("\\") and "\\(" not in token:
            bare = token[:-1]
            sign = -1 if bare.startswith("-") else 1
            prefix = bare.lstrip("+-")
            terms.append(Term(sign=sign, prefix=prefix, excluded=(), balance_char=""))
            continue
        m = TERM_RE.match(token)
        if not m:
            raise ValueError(f"invalid account_codes token {token!r} in {formula!r}")
        d = m.groupdict()
        excluded = tuple(p for p in (d["excluded"] or "").split(",") if p)
        terms.append(
            Term(
                sign=-1 if d["sign"] == "-" else 1,
                prefix=d["prefix"],
                excluded=excluded,
                balance_char=d["balance_char"] or "",
            )
        )
    return terms


def per_account_totals(
    led: DataFrame, options: dict, date_scope: str = "strict_range"
) -> DataFrame:
    """Phase 1: one aggregate per account over the scoped ledger.
    Decimal sum is kept exact for the D/C gating comparisons."""
    scope = date_scope_filter(options, date_scope)
    return led.where(scope).groupBy("account_code").agg(
        F.sum("conv").alias("acct_sum"), F.count("id").alias("aml_count")
    )


def _term_value(per_acct: DataFrame, term: Term):
    cond = F.col("account_code").startswith(term.prefix)
    for excl in term.excluded:
        cond = cond & ~F.col("account_code").startswith(excl)
    if term.balance_char == "D":
        cond = cond & (F.col("acct_sum") >= 0)
    elif term.balance_char == "C":
        cond = cond & (F.col("acct_sum") < 0)
    # An empty term (no account matches the prefix/exclusions, or the D/C
    # gate filters everything) must contribute 0, not NULL — the reference
    # accumulates from 0 (`account_report.py:2710-2864`), and a NULL here
    # would propagate through `expr + v` and null the whole formula.
    return F.coalesce(F.sum(F.when(cond, F.col("acct_sum"))), F.lit(0)) * term.sign


def evaluate_formulas(
    led: DataFrame,
    options: dict,
    formulas: list[str],
    date_scope: str = "strict_range",
) -> DataFrame:
    """Phase 2: all formulas over ONE per-account aggregate — each term
    is a conditional aggregate column; the per-account pass is shared
    (Catalyst reuses the exchange across the single plan)."""
    per_acct = per_account_totals(led, options, date_scope)
    cols = []
    for i, formula in enumerate(formulas):
        terms = parse_formula(formula)
        expr = None
        for t in terms:
            v = _term_value(per_acct, t)
            expr = v if expr is None else expr + v
        cols.append(F.coalesce(expr, F.lit(0)).cast("double").alias(f"f{i}"))
    wide = per_acct.agg(*cols)
    # unpivot to (formula, result) rows via ONE explode over the single
    # aggregate row (r17): the previous per-formula unionByName re-ran
    # the final-aggregate subtree once per formula — ReusedExchange kept
    # the scan shared, but each branch still paid its own reduce stage
    # and single-partition exchange. Formula text goes through F.lit
    # (not a SQL string literal — backslashes in the DSL stay intact);
    # explode preserves array order, so rows come out in formula order
    # exactly like the union did.
    pairs = F.array(*[
        F.struct(
            F.lit(formula).alias("formula"), F.col(f"f{i}").alias("result")
        )
        for i, formula in enumerate(formulas)
    ])
    return wide.select(F.explode(pairs).alias("fr")).select(
        "fr.formula", "fr.result"
    )
