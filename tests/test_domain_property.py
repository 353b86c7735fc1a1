"""Property-based check of the Odoo-domain compiler: random AND/OR/NOT
trees of leaves flatten to prefix-notation domains, and the Spark filter
must keep exactly the rows a direct Python evaluation of the tree keeps
(under the compiler's documented Odoo NULL semantics: `!=`/`not in`/
`not like` keep NULL rows). Exercises normalization, the prefix-stack
compilation and every leaf operator under arbitrary nesting — the class
of bug a fixed fixture can't reach. String values and patterns carry
the characters SQL text must escape (backslash, quote) and the LIKE
wildcards (``%``, ``_``)."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_staging_spark.domain import compile_domain

ROWS = [
    # (id, a int|None, b int|None, s string|None)
    (0, None, 2, None),
    (1, 0, None, ""),
    (2, 1, -1, "alpha"),
    (3, 2, 0, "beta"),
    (4, 3, 3, "alphabet"),
    (5, 5, None, "Gamma"),
    (6, 10, 1, "delta"),
    (7, -4, -4, "ALPHA"),
    (8, None, None, "a\\b"),
    (9, 1, 5, "it's"),
    (10, 7, 10, "50%"),
    (11, 0, 2, "x_y"),
    (12, 2, -1, "x-y"),
]

A_VALUES = [None, 0, 1, 2, 3, 5, 10, -4, 7]
S_VALUES = [None, "", "alpha", "beta", "Gamma", "zzz", "a\\b", "it's", "50%", "x_y"]
S_PATTERNS = ["alpha", "a", "Ga", "zz", "", "\\", "'", "%", "_", "x_y", "a\\b"]
# raw LIKE patterns for =like/=ilike: backslash escapes the next char
LIKE_PATTERNS = ["a%", "%A", "_lpha", "%\\%", "x\\_y", "x_y", "%\\\\%", "it's", "%"]


def _like(hay: str | None, needle: str) -> bool:
    return hay is not None and needle in hay


def _like_match(hay: str | None, pattern: str) -> bool:
    """SQL LIKE with the default backslash escape."""
    if hay is None:
        return False
    rx, i = "", 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            rx += re.escape(pattern[i + 1])
            i += 2
            continue
        rx += ".*" if c == "%" else "." if c == "_" else re.escape(c)
        i += 1
    return re.fullmatch(rx, hay, re.S) is not None


def _eval_leaf(row: dict, leaf: tuple) -> bool:
    field, op, value = leaf
    v = row[field]
    if op == "=":
        return v is None if value is None else (v is not None and v == value)
    if op == "!=":
        return v is not None if value is None else (v is None or v != value)
    if op in (">", ">=", "<", "<="):
        if v is None:
            return False
        return {
            ">": v > value, ">=": v >= value, "<": v < value, "<=": v <= value
        }[op]
    if op == "in":
        vals = list(value)
        if v is None:
            return None in vals
        return v in vals
    if op == "not in":
        vals = [x for x in value if x is not None]
        if None in value:
            return v is not None and v not in vals
        return v is None or v not in vals
    if op == "like":
        return _like(v, value)
    if op == "not like":
        return v is None or not _like(v, value)
    if op == "ilike":
        return v is not None and value.lower() in v.lower()
    if op == "not ilike":
        return v is None or value.lower() not in v.lower()
    if op == "=like":
        return _like_match(v, value)
    if op == "not =like":
        return v is None or not _like_match(v, value)
    if op == "=ilike":
        return v is not None and _like_match(v.lower(), value.lower())
    if op == "not =ilike":
        return v is None or not _like_match(v.lower(), value.lower())
    raise AssertionError(op)


# AST: ("leaf", triple) | ("&"|"|", left, right) | ("!", child)
# inequality comparisons never get None (SQL NULL comparison = no match
# on both engines; Odoo never emits such a leaf); in/not in lists are
# drawn with and without None, empty included
int_field = st.sampled_from(["a", "b"])
int_leaf = st.one_of(
    st.tuples(int_field, st.sampled_from(["=", "!="]), st.sampled_from(A_VALUES)),
    st.tuples(
        int_field,
        st.sampled_from(["in", "not in"]),
        st.lists(st.sampled_from(A_VALUES), max_size=4),
    ),
    st.tuples(
        int_field,
        st.sampled_from([">", ">=", "<", "<="]),
        st.sampled_from([v for v in A_VALUES if v is not None]),
    ),
)
str_leaf = st.one_of(
    st.tuples(st.just("s"), st.sampled_from(["=", "!="]), st.sampled_from(S_VALUES)),
    st.tuples(
        st.just("s"),
        st.sampled_from(["like", "not like", "ilike", "not ilike"]),
        st.sampled_from(S_PATTERNS),
    ),
    st.tuples(
        st.just("s"),
        st.sampled_from(["=like", "=ilike", "not =like", "not =ilike"]),
        st.sampled_from(LIKE_PATTERNS),
    ),
)
leaf = st.one_of(int_leaf, str_leaf).map(lambda t: ("leaf", tuple(t)))

ast = st.recursive(
    leaf,
    lambda kids: st.one_of(
        st.tuples(st.sampled_from(["&", "|"]), kids, kids),
        st.tuples(st.just("!"), kids),
    ),
    max_leaves=6,
)


def flatten(node) -> list:
    """AST -> Odoo prefix-notation domain list."""
    if node[0] == "leaf":
        return [node[1]]
    if node[0] == "!":
        return ["!"] + flatten(node[1])
    return [node[0]] + flatten(node[1]) + flatten(node[2])


_NEG = {
    "=": "!=", "!=": "=", "<": ">=", ">=": "<", ">": "<=", "<=": ">",
    "in": "not in", "not in": "in", "like": "not like", "not like": "like",
    "ilike": "not ilike", "not ilike": "ilike",
    "=like": "not =like", "not =like": "=like",
    "=ilike": "not =ilike", "not =ilike": "=ilike",
}


def eval_ast(row: dict, node, negate: bool = False) -> bool:
    """Odoo semantics: '!' DISTRIBUTES into the leaves (operator
    negation + De Morgan), so NOT(a > 0) is (a <= 0) — which, unlike
    boolean NOT, still excludes NULL. The leaf table in _eval_leaf is
    the per-operator NULL spec."""
    if node[0] == "leaf":
        field, op, value = node[1]
        if negate:
            op = _NEG[op]
        return _eval_leaf(row, (field, op, value))
    if node[0] == "!":
        return eval_ast(row, node[1], not negate)
    conj = node[0] == "&"
    if negate:
        conj = not conj
    left = eval_ast(row, node[1], negate)
    right = eval_ast(row, node[2], negate)
    return (left and right) if conj else (left or right)


@pytest.fixture(scope="module")
def dom_df(spark):
    return spark.createDataFrame(ROWS, "id int, a int, b int, s string").cache()


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=ast)
def test_compiled_domain_matches_python_eval(dom_df, tree):
    domain = flatten(tree)
    got = {r.id for r in dom_df.where(compile_domain(domain)).collect()}
    want = {
        row[0]
        for row in ROWS
        if eval_ast({"id": row[0], "a": row[1], "b": row[2], "s": row[3]}, tree)
    }
    assert got == want, f"domain={domain}"


LIKE_FAMILY = (
    "like", "not like", "ilike", "not ilike",
    "=like", "not =like", "=ilike", "not =ilike",
)


def test_negated_like_family_matches_python_eval(dom_df):
    """Every like-family operator negates under '!' (the random
    strategy may not draw all eight under a NOT)."""
    for op in LIKE_FAMILY:
        pats = LIKE_PATTERNS if "=" in op else S_PATTERNS
        for pat in pats:
            tree = ("!", ("leaf", ("s", op, pat)))
            got = {r.id for r in dom_df.where(compile_domain(flatten(tree))).collect()}
            want = {
                row[0]
                for row in ROWS
                if eval_ast({"id": row[0], "a": row[1], "b": row[2], "s": row[3]}, tree)
            }
            assert got == want, (op, pat)


# ---------------------------------------------------------------------------
# Aggregation-fixpoint property: random formula DAGs over base scalars
# must evaluate to the same values as direct topological evaluation.
# ---------------------------------------------------------------------------

from etl_staging_spark.engines import aggregation  # noqa: E402

BASES = {"B0.balance": 10.0, "B1.balance": -4.0, "B2.balance": 2.5}


@st.composite
def formula_dag(draw):
    """n formula keys F0..Fn-1 where Fi references only bases and Fj
    (j < i) — an acyclic dependency chain the fixpoint must resolve in
    whatever order its queue happens to visit."""
    n = draw(st.integers(min_value=1, max_value=5))
    formulas = {}
    for i in range(n):
        terms = draw(
            st.lists(
                st.sampled_from(
                    list(BASES) + [f"F{j}.balance" for j in range(i)]
                ),
                min_size=1,
                max_size=3,
            )
        )
        ops = draw(
            st.lists(st.sampled_from([" + ", " - ", " * "]),
                     min_size=len(terms) - 1, max_size=len(terms) - 1)
        )
        formula = terms[0]
        for op, term in zip(ops, terms[1:]):
            formula += op + term
        formulas[f"F{i}.balance"] = formula
    return formulas


def eval_direct(formulas: dict) -> dict:
    """Topological evaluation with plain arithmetic."""
    values = dict(BASES)
    for key in sorted(formulas, key=lambda k: int(k[1 : k.index(".")])):
        expr = formulas[key]
        for term in sorted(values, key=len, reverse=True):
            expr = expr.replace(term, repr(values[term]))
        values[key] = eval(expr)  # noqa: S307 — arithmetic only, test-local
    return values


@settings(max_examples=200, deadline=None)
@given(formulas=formula_dag())
def test_fixpoint_matches_topological_eval(formulas):
    got = aggregation.evaluate(BASES, formulas)
    want = eval_direct(formulas)
    for key in formulas:
        assert got[key] == pytest.approx(want[key], rel=1e-12), (key, formulas)


# ---------------------------------------------------------------------------
# account_codes parser property: parse(render(terms)) round-trips.
# ---------------------------------------------------------------------------

from etl_staging_spark.engines import account_codes as ac  # noqa: E402

prefix_st = st.text(alphabet="0123456789", min_size=1, max_size=4)
term_st = st.builds(
    ac.Term,
    sign=st.sampled_from([1, -1]),
    prefix=prefix_st,
    excluded=st.lists(prefix_st, max_size=2).map(tuple),
    balance_char=st.sampled_from(["", "D", "C"]),
)


def render(terms: list[ac.Term]) -> str:
    parts = []
    for i, t in enumerate(terms):
        s = t.prefix
        if t.excluded:
            s += "\\(" + ",".join(t.excluded) + ")"
        s += t.balance_char
        if i == 0:
            parts.append(("-" if t.sign < 0 else "") + s)
        else:
            parts.append(("- " if t.sign < 0 else "+ ") + s)
    return " ".join(parts)


@settings(max_examples=300, deadline=None)
@given(terms=st.lists(term_st, min_size=1, max_size=4))
def test_account_codes_parser_roundtrip(terms):
    # a digit-only prefix with a D/C gate and NO exclusion is ambiguous
    # in the grammar only when the prefix itself ends in D/C — digits
    # never do, so every rendered formula must round-trip exactly
    parsed = ac.parse_formula(render(terms))
    assert parsed == terms, render(terms)


# ---------------------------------------------------------------------------
# Hierarchy / child_of expansion
# ---------------------------------------------------------------------------

from etl_staging_spark.domain import expand_hierarchy_leaves, normalize  # noqa: E402
from etl_staging_spark.operators.hierarchy import Hierarchy  # noqa: E402


@st.composite
def forest_st(draw):
    """Random forest as {id: parent or None}: parents always have a
    smaller id, so the structure is acyclic by construction."""
    n = draw(st.integers(min_value=1, max_value=30))
    parents = {}
    for i in range(n):
        parents[i] = None if i == 0 else draw(
            st.one_of(st.none(), st.integers(min_value=0, max_value=i - 1))
        )
    return parents


@settings(max_examples=200, deadline=None)
@given(forest=forest_st(), data=st.data())
def test_hierarchy_descendants_properties(forest, data):
    h = Hierarchy.from_pairs(forest.items())
    root = data.draw(st.sampled_from(sorted(forest)))
    desc = h.descendants(root)
    # child_of includes the node itself
    assert root in desc
    # every descendant's ancestor chain passes through root
    for d in desc:
        assert root in h.ancestors(d)
    # nothing outside the subtree sneaks in
    for other in forest:
        if other not in desc:
            assert root not in h.ancestors(other)


@settings(max_examples=100, deadline=None)
@given(forest=forest_st(), data=st.data())
def test_hierarchy_parent_path_prefix_equals_descendants(forest, data):
    """parent_path prefix matching (the ORM's LIKE strategy) selects
    exactly the id-expansion subtree — the two child_of strategies
    agree."""
    h = Hierarchy.from_pairs(forest.items())
    root = data.draw(st.sampled_from(sorted(forest)))
    root_path = h.parent_path(root)
    by_path = {n for n in forest if h.parent_path(n).startswith(root_path)}
    assert by_path == set(h.descendants(root))


def test_hierarchy_cycle_terminates():
    h = Hierarchy.from_pairs([(1, 2), (2, 1), (3, 1)])
    assert set(h.descendants(1)) == {1, 2, 3}
    assert set(h.ancestors(3)) >= {3, 1}


def test_child_of_expands_to_in():
    h = Hierarchy.from_pairs([(1, None), (2, 1), (3, 2), (4, None)])
    tokens = expand_hierarchy_leaves(
        normalize([("plan_id", "child_of", 1)]), {"plan_id": h}
    )
    assert tokens == [("plan_id", "in", [1, 2, 3])]
    with pytest.raises(ValueError):
        expand_hierarchy_leaves(
            normalize([("plan_id", "child_of", 1)]), None
        )
