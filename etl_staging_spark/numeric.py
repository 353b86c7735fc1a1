"""Cross-engine deterministic numeric conventions shared by the engine
and the DuckDB oracles (the query-facing re-exports live in
``queries.registry``).

``ROUND(double, s)`` is NOT cross-engine deterministic: Spark rounds
through the decimal string (BigDecimal HALF_UP), DuckDB in binary, so a
ratio that lands a hair from a half-way point flips its last digit
between engines (observed live on quality scores and weighted averages
at sf0.1 — values that hash-matched at sf0.01 by luck). ``pround`` is
the portable form: floor(x*10^s + 0.5)/10^s in pure IEEE double ops,
which both engines evaluate bit-identically for any finite input. For
negative inputs the half-way convention is toward +inf rather than
away from zero — an acceptable display-rounding difference; what
matters is that both sides share it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column, scale: int) -> Column:
    """Portable fixed-scale rounding of a double (see module doc)."""
    m = 10 ** scale
    return F.floor(col * m + F.lit(0.5)) / m


def o_pround(expr: str, scale: int) -> str:
    """DuckDB oracle twin of :func:`pround`."""
    m = 10 ** scale
    return f"FLOOR(({expr}) * {m} + 0.5) / {m}"


def double_sql(x: float) -> str:
    """Spark-SQL text of a double literal. Python's ``repr`` is the
    shortest round-trip decimal, so ``<repr>D`` parses to the
    bit-identical double ``F.lit`` would create; the non-finite values
    have no literal token and render as a CAST Catalyst constant-folds
    to the same Literal."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def py_pround(x: float, scale: int) -> float:
    """Driver-side scalar twin of :func:`pround` — the same
    floor(x*10^s + 0.5)/10^s IEEE chain for values already collected
    to the driver (bounded-histogram walks and report-card literals),
    so the convention has exactly three spellings: Column, SQL, scalar
    — all in this module."""
    m = 10 ** scale
    return math.floor(x * m + 0.5) / m
