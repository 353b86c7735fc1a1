"""E6: the aggregation engine — cross-line formulas evaluated by a
fixpoint substitution loop over per-column-group scalars.

Port of `account_report.py:2279-2498` with its quirks kept:

- formulas reference other lines as ``CODE.label`` and are expanded by
  textual substitution until only numbers/operators remain, re-queueing
  formulas whose terms aren't resolvable yet (dependency-driven order);
- division by zero evaluates to 0 (explicit reference convention);
- bounds as subformulas: ``if_above(CUR(x))`` (0 unless value > x),
  ``if_below(CUR(x))`` (0 unless value < x), ``if_between(CUR(a),CUR(b))``
  (0 outside [a, b] — NOTE: the reference's *docstring* says "clamp to
  nearest bound" but its code returns 0; we port the code),
  ``round(n)`` (ties away from zero, matching SQL ROUND);
- ``if_other_expr_above/below(CODE.label, CUR(x))`` gates a formula's
  result on ANOTHER expression's value, re-queueing until that value
  exists.

This is deliberately driver-side Python: its inputs are collected
report-line totals (O(lines), not O(rows)); the heavy lifting happened
in the batchable engines.
"""

from __future__ import annotations

import ast
import re
from decimal import ROUND_HALF_UP, Decimal

TERM_SPLIT_RE = re.compile(r"(?<!\de)[+-]|[ ()/*]")
BOUND_RE = re.compile(
    r"(?P<criterium>\w*)"
    r"\((?P<cur1>[A-Z]{3})\((?P<amt1>[-]?\d+(\.\d+)?)\)"
    r"(,(?P<cur2>[A-Z]{3})\((?P<amt2>[-]?\d+(\.\d+)?)\))?\)$"
)
OTHER_EXPR_RE = re.compile(
    r"^(?P<criterium>\w+)\((?P<line_code>\w+)[.](?P<expr_label>\w+),[ ]*(?P<bound_params>.*)\)$"
)


def _round_half_up(value: float, digits: int) -> float:
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(value)).quantize(q, rounding=ROUND_HALF_UP))


def safe_eval(expr: str) -> float:
    """Arithmetic-only evaluator (+ - * / and parens); raises
    ZeroDivisionError so the caller can apply the 0 convention."""
    node = ast.parse(expr, mode="eval").body

    def ev(n) -> float:
        if isinstance(n, ast.Constant) and isinstance(n.value, (int, float)):
            return float(n.value)
        if isinstance(n, ast.UnaryOp) and isinstance(n.op, (ast.USub, ast.UAdd)):
            v = ev(n.operand)
            return -v if isinstance(n.op, ast.USub) else v
        if isinstance(n, ast.BinOp) and isinstance(
            n.op, (ast.Add, ast.Sub, ast.Mult, ast.Div)
        ):
            a, b = ev(n.left), ev(n.right)
            if isinstance(n.op, ast.Add):
                return a + b
            if isinstance(n.op, ast.Sub):
                return a - b
            if isinstance(n.op, ast.Mult):
                return a * b
            return a / b
        raise ValueError(f"disallowed expression node {ast.dump(n)}")

    return ev(node)


def apply_bounds(subformula: str | None, unbound: float) -> float:
    """`_aggregation_apply_bounds` (`account_report.py:2421-2498`);
    currency conversion collapses to identity (single-currency fixtures),
    the comparison/zeroing semantics are ported exactly."""
    if not subformula:
        return unbound
    if subformula.startswith("round"):
        digits = int(re.match(r"round\((?P<p>\d+)\)", subformula)["p"])
        return _round_half_up(unbound, digits)
    m = BOUND_RE.match(subformula.replace(" ", ""))
    if not m:
        raise ValueError(f"unparseable bound subformula {subformula!r}")
    crit = m["criterium"]
    amt1 = float(m["amt1"] or 0)
    amt2 = float(m["amt2"] or 0)
    if crit == "if_below":
        if unbound >= amt1:
            return 0.0
    elif crit == "if_above":
        if unbound <= amt1:
            return 0.0
    elif crit == "if_between":
        if unbound < amt1 or unbound > amt2:
            return 0.0
    else:
        raise ValueError(f"unknown bound criterium {crit!r}")
    return unbound


def _is_float(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def evaluate(
    base_values: dict[str, float],
    formulas: dict[str, str],
    subformulas: dict[str, str] | None = None,
) -> dict[str, float]:
    """Fixpoint evaluation.

    :param base_values: already-computed scalars keyed 'CODE.label'
        (from the batchable engines), pre-rounded to currency precision.
    :param formulas: {'CODE.label': 'OTHER.balance - THIRD.balance'}.
    :param subformulas: optional {'CODE.label': bound subformula}.
    :return: {'CODE.label': value} for every formula key.
    """
    subformulas = subformulas or {}
    eval_dict: dict[str, float | str] = dict(base_values)
    # formulas without bounds may substitute textually into others;
    # bounded ones must resolve to their bounded VALUE first
    for key, formula in formulas.items():
        if not subformulas.get(key):
            eval_dict[key] = formula

    known_terms = set(eval_dict) | set(formulas)
    results: dict[str, float] = {}
    queue = [(formulas[k], k) for k in formulas]
    guard = 0
    while queue:
        guard += 1
        if guard > 10000:
            raise RuntimeError(f"aggregation fixpoint did not converge: {queue[:3]}")
        formula, key = queue.pop(0)
        terms = [t for t in TERM_SPLIT_RE.split(formula) if t and not _is_float(t)]
        if terms:
            for term in terms:
                sub = eval_dict.get(term)
                if sub is None:
                    if term in known_terms:
                        continue  # will exist once its formula resolves
                    raise KeyError(f"unknown term {term!r} in formula {formula!r}")
                if isinstance(sub, str) and term == key:
                    continue
                formula = re.sub(
                    r"(^|(?<=[ ()+/*-]))%s((?=[ ()+/*-])|$)" % re.escape(term),
                    f"({sub})",
                    formula,
                )
            # terms not substitutable yet keep looping (guard bounds us)
            queue.append((formula, key))
            continue

        try:
            value = safe_eval(formula)
        except ZeroDivisionError:
            value = 0.0  # reference convention (:2372-2374)

        sub = subformulas.get(key)
        if sub and sub.startswith("if_other_expr_"):
            m = OTHER_EXPR_RE.match(sub)
            if not m:
                raise ValueError(f"bad if_other_expr subformula {sub!r}")
            crit_key = f"{m['line_code']}.{m['expr_label']}"
            crit_val = results.get(crit_key, eval_dict.get(crit_key))
            if not isinstance(crit_val, float):
                queue.append((formula, key))
                continue
            bound = m["criterium"].replace("other_expr_", "")
            gate = apply_bounds(f"{bound}({m['bound_params']})", crit_val)
            value = value * int(bool(gate))
        else:
            value = apply_bounds(sub, value)

        results[key] = value
        eval_dict[key] = value
    return results
