"""Odoo-domain → Spark-SQL predicate compiler (operator F1).

The reference expresses every filter as an Odoo *domain*: a list in
prefix notation with implicit AND, e.g.::

    ['|', ('account_type', '=', 'asset_receivable'),
          ('account_type', '=', 'liability_payable'),
     ('date', '<=', '2017-12-31'),
     ('parent_state', '=', 'posted')]

which the ORM compiles to SQL WHERE via ``_where_calc(...).get_sql()``
(reference `account_reports/models/account_report.py:1496-1501`,
`osv/expression.py` semantics). Here the same IR compiles to Spark-SQL
text (:func:`domain_to_sql`) — the one builder; :func:`compile_domain`
parses it once into a ``Column``. Catalyst sees a plain predicate it
can push into the parquet scan — the manual "compose filters before
the scan" optimization of the reference (SURVEY.md §4) becomes free.

Supported operators (the set observed across the reference):
``= != > >= < <= in not in like ilike not like not ilike =like =ilike``
plus the prefix connectives ``& | !``. Field paths with dots
(``'partner_id.country_code'``) resolve as struct/column paths.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .numeric import double_sql

AND, OR, NOT = "&", "|", "!"
_CONNECTIVES = {AND: 2, OR: 2, NOT: 1}

TRUE_LEAF = (1, "=", 1)
FALSE_LEAF = (0, "=", 1)


def _escape_like(value: str) -> str:
    """Escape SQL LIKE wildcards for substring-style (i)like."""
    return value.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")


def normalize(domain: Sequence) -> list:
    """Insert the implicit leading '&'s so the domain is a well-formed
    prefix expression (same normalization as osv.expression)."""
    result: list = []
    expected = 1
    for token in domain:
        if expected == 0:
            result.insert(0, AND)
            expected = 1
        if isinstance(token, str) and token in _CONNECTIVES:
            result.append(token)
            expected += _CONNECTIVES[token] - 1
        else:
            result.append(tuple(token))
            expected -= 1
    if expected > 0:
        raise ValueError(f"malformed domain {domain!r}: missing {expected} operand(s)")
    return result


# Leaf-operator negations, as in osv.expression.TERM_OPERATORS_NEGATION:
# '!' distributes into leaves instead of wrapping the compiled predicate
# in a SQL NOT. The distinction matters on NULLs — Odoo's NOT(a = 0) is
# (a != 0), which KEEPS NULL rows, while SQL NOT(a = 0) drops them.
_NEGATED_OP = {
    "=": "!=", "!=": "=", "<>": "=",
    "<": ">=", ">=": "<", ">": "<=", "<=": ">",
    "in": "not in", "not in": "in",
    "like": "not like", "not like": "like",
    "ilike": "not ilike", "not ilike": "ilike",
    "=like": "not =like", "not =like": "=like",
    "=ilike": "not =ilike", "not =ilike": "=ilike",
}


def distribute_not(tokens: list) -> list:
    """Push every '!' down to the leaves (De Morgan on '&'/'|', operator
    negation on leaves) — the port of osv.expression.distribute_not."""
    out: list = []

    def walk(pos: int, negate: bool) -> int:
        token = tokens[pos]
        if isinstance(token, str) and token in _CONNECTIVES:
            if token == NOT:
                return walk(pos + 1, not negate)
            out.append((OR if token == AND else AND) if negate else token)
            mid = walk(pos + 1, negate)
            return walk(mid, negate)
        if negate:
            # osv.expression.distribute_not special-cases the constant
            # leaves: NOT TRUE_LEAF is FALSE_LEAF (and vice versa), never
            # an operator flip — (1, '!=', 1) would name a field `1`.
            if tuple(token) == TRUE_LEAF:
                out.append(FALSE_LEAF)
                return pos + 1
            if tuple(token) == FALSE_LEAF:
                out.append(TRUE_LEAF)
                return pos + 1
            field, op, value = token
            neg = _NEGATED_OP.get(op)
            if neg is None:
                raise ValueError(f"cannot negate operator {op!r} in {token!r}")
            out.append((field, neg, value))
        else:
            out.append(token)
        return pos + 1

    nxt = walk(0, False)
    if nxt != len(tokens):
        raise ValueError(f"trailing tokens after NOT distribution: {tokens!r}")
    return out


def expand_hierarchy_leaves(tokens: list, hierarchies: dict | None) -> list:
    """Rewrite ``child_of`` / ``parent_of`` leaves to plain ``in``
    membership over the (bounded) subtree — the ORM's id-expansion
    strategy for `child_of` (osv.expression; reference usage
    `account_analytic_report.py:60`). Runs BEFORE NOT distribution so a
    negated hierarchy leaf falls out as ``not in`` naturally.

    ``hierarchies`` maps field name → :class:`~.operators.hierarchy
    .Hierarchy`. The expansion keeps the predicate a literal IN list, so
    it pushes into the fact scan; the hierarchy dim itself is never
    joined for the filter."""
    out = []
    for token in tokens:
        if isinstance(token, str):
            out.append(token)
            continue
        field, op, value = token
        if op in ("child_of", "parent_of"):
            h = (hierarchies or {}).get(field)
            if h is None:
                raise ValueError(
                    f"domain leaf {token!r} needs a Hierarchy for field "
                    f"{field!r} (pass hierarchies={{...}})"
                )
            roots = value if isinstance(value, (list, tuple, set)) else [value]
            ids: list = []
            expand = h.descendants if op == "child_of" else h.ancestors
            for r in roots:
                ids.extend(expand(r))
            out.append((field, "in", sorted(set(ids), key=repr)))
        else:
            out.append(token)
    return out


def compile_domain(domain: Sequence | None, hierarchies: dict | None = None) -> Column:
    """Compile a domain to one Spark Column predicate: the parsed
    :func:`domain_to_sql` text."""
    return F.expr(domain_to_sql(domain, hierarchies))


def _sql_literal(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return repr(value)
    if isinstance(value, float):
        return double_sql(value)
    if isinstance(value, str):
        # Spark unescapes backslashes inside string literals
        return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"
    raise ValueError(f"cannot render SQL literal for {value!r}")


def _sql_field(field: str) -> str:
    """Backtick-quoted field path: each dotted segment is one name."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in field.split("."))


def _leaf_to_sql(leaf: Sequence) -> str:
    """One leaf as Spark-SQL text, with Odoo's NULL semantics: ``!=``,
    ``not in`` and the negated like family keep NULL rows."""
    field, op, value = leaf
    if (field, op, value) == TRUE_LEAF:
        return "TRUE"
    if (field, op, value) == FALSE_LEAF:
        return "FALSE"
    field = _sql_field(field)
    if op == "=":
        return f"{field} IS NULL" if value is None else f"{field} = {_sql_literal(value)}"
    if op in ("!=", "<>"):
        if value is None:
            return f"{field} IS NOT NULL"
        return f"({field} != {_sql_literal(value)} OR {field} IS NULL)"
    if op in (">", ">=", "<", "<="):
        return f"{field} {op} {_sql_literal(value)}"
    if op == "in":
        vals = list(value)
        non_null = [v for v in vals if v is not None]
        items = ", ".join(_sql_literal(v) for v in non_null)
        base = f"{field} IN ({items})" if non_null else "FALSE"
        return f"({base} OR {field} IS NULL)" if None in vals else base
    if op == "not in":
        vals = [v for v in value if v is not None]
        items = ", ".join(_sql_literal(v) for v in vals)
        base = f"{field} NOT IN ({items})" if vals else "TRUE"
        if None in value:
            return f"({base} AND {field} IS NOT NULL)"
        return f"({base} OR {field} IS NULL)"
    negated = op.startswith("not ")
    like = op[4:] if negated else op
    if like in ("like", "ilike", "=like", "=ilike"):
        # (i)like matches a substring with the wildcards escaped;
        # =(i)like takes the value as a raw LIKE pattern
        pattern = value if like[0] == "=" else f"%{_escape_like(value)}%"
        target = field
        if like.endswith("ilike"):
            target, pattern = f"lower({field})", pattern.lower()
        if negated:
            return f"({target} NOT LIKE {_sql_literal(pattern)} OR {field} IS NULL)"
        return f"{target} LIKE {_sql_literal(pattern)}"
    raise ValueError(f"unsupported domain operator {op!r} in {leaf!r}")


def domain_to_sql(domain: Sequence | None, hierarchies: dict | None = None) -> str:
    """Compile a domain to ONE Spark-SQL boolean expression string — the
    analog of the ORM's ``_where_calc(...).get_sql()``. Hot builders
    can splice it into a single ``selectExpr``: one driver→JVM
    roundtrip instead of one per expression node.

    ``hierarchies``: optional {field: Hierarchy} enabling the
    ``child_of`` / ``parent_of`` operators (expanded to pushable IN
    lists; see :func:`expand_hierarchy_leaves`)."""
    if not domain:
        return "TRUE"
    tokens = distribute_not(expand_hierarchy_leaves(normalize(domain), hierarchies))

    def parse(pos: int) -> tuple[str, int]:
        token = tokens[pos]
        if isinstance(token, str) and token in _CONNECTIVES:
            left, mid = parse(pos + 1)
            right, nxt = parse(mid)
            glue = "AND" if token == AND else "OR"
            return f"({left} {glue} {right})", nxt
        return _leaf_to_sql(token), pos + 1

    sql, nxt = parse(0)
    if nxt != len(tokens):
        raise ValueError(f"trailing tokens in domain {domain!r}")
    return sql


def and_join(*domains: Sequence | None) -> Column:
    """AND-combine several domains (the reference's filter pipeline is a
    conjunction of per-filter domains, `account_report.py:1458-1480`);
    concatenated domains are implicitly AND-ed."""
    return compile_domain([token for d in domains if d for token in d])
