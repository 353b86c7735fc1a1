"""Core scan/filter/projection/aggregation operators (SURVEY.md §2.1-2.4).

Each query maps a reference operator onto the driver's TPC-H-ish tables
per FIXTURES.md §F9 (lineitem ≈ move_lines fact, orders ≈ moves header,
customer/nation/region ≈ partner dims, part ≈ accounts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..domain import compile_domain
from ..tables import load
from .registry import dsum, fmt_date, o_dsum, o_fmt_date, o_pround, pround, query

# ---------------------------------------------------------------------------
# S1 + F1/F2/F3: scan with domain-compiled composite filter + projection.
# Reference: _query_get/_get_options_domain at account_report.py:1458-1501;
# date scope 'strict_range' account_report.py:606-659.
# ---------------------------------------------------------------------------


@query(
    "s1_scan_domain_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
           l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <= TIMESTAMP '1997-12-31 23:59:59'
      AND l_returnflag IN ('A', 'R')
      AND l_quantity > 25
    """,
)
def s1_scan_domain_filter(spark, sf_dir):
    """Domain IR → pushed-down parquet scan filter (S1/F1/F2/F3)."""
    dom = [
        ("l_shipdate", ">=", "1997-01-01"),
        ("l_shipdate", "<=", "1997-12-31 23:59:59"),
        ("l_returnflag", "in", ["A", "R"]),
        ("l_quantity", ">", 25),
    ]
    return (
        load(spark, sf_dir, "lineitem")
        .where(compile_domain(dom))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            fmt_date("l_shipdate").alias("ship_date"),
            "l_quantity",
            "l_extendedprice",
        )
    )


# ---------------------------------------------------------------------------
# F6: wide projection with CASE-derived columns (journal report SELECT,
# account_journal_report.py:658-717).
# ---------------------------------------------------------------------------


@query(
    "f6_case_projection",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN 'open'
                WHEN o_orderstatus = 'F' THEN 'filled'
                ELSE 'partial' END AS status_label,
           CASE WHEN o_totalprice >= 200000 THEN 'large'
                WHEN o_totalprice >= 50000 THEN 'mid'
                ELSE 'small' END AS size_bucket,
           substr(o_orderpriority, 1, 1) AS priority_rank,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    """,
)
def f6_case_projection(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "filled")
        .otherwise("partial")
        .alias("status_label"),
        F.when(F.col("o_totalprice") >= 200000, "large")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("small")
        .alias("size_bucket"),
        F.substring("o_orderpriority", 1, 1).alias("priority_rank"),
        fmt_date("o_orderdate").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# A1: hash aggregate — SUM/COUNT/MAX GROUP BY (the GL sums query,
# account_general_ledger.py:242-256). TPC-H Q1 shape.
# ---------------------------------------------------------------------------


@query(
    "a1_hash_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base_price,
           {o_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
           {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           COUNT(*) AS count_order,
           {o_fmt_date('MAX(l_shipdate)')} AS max_ship_date
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_hash_agg(spark, sf_dir):
    # bound at call time so tools/ab_respread.py can swap it
    from ..tables import respread_narrow

    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    # single-row-group scan: spread the filtered rows so the
    # 4-decimal-sum partial aggregate runs cluster-wide (−27%; no-op at
    # real scale — respread_narrow's split guard); keyed on two
    # high-cardinality columns already in the projection, so the spread
    # neither widens the scan nor pays round-robin's local sort. Decimal
    # sums are exact — reassociation under any partitioning is
    # value-identical.
    li = respread_narrow(li, ("l_extendedprice", "l_shipdate"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc, 6).alias("sum_disc_price"),
        dsum(disc * (1 + F.col("l_tax")), 6).alias("sum_charge"),
        F.count("*").alias("count_order"),
        fmt_date(F.max("l_shipdate")).alias("max_ship_date"),
    )


# ---------------------------------------------------------------------------
# A2: COUNT(DISTINCT) — count_rows subformula (account_report.py:2650-2652).
# ---------------------------------------------------------------------------


@query(
    "a2_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a2_count_distinct(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# A5: HAVING — keep groups with non-zero residual
# (account_aged_partner_balance.py:212-221).
# ---------------------------------------------------------------------------


@query(
    "a5_having",
    oracle=f"""
    SELECT o_custkey,
           {o_dsum('o_totalprice')} AS open_amount,
           COUNT(*) AS n_open
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_custkey
    HAVING SUM(CAST(o_totalprice AS DECIMAL(30,2))) > 500000
    """,
)
def a5_having(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        o.groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("open_amount"), F.count("*").alias("n_open"))
        .where(F.col("open_amount") > 500000)
    )


# ---------------------------------------------------------------------------
# A6: ARRAY_AGG(DISTINCT ...) collected dims — emitted as a sorted
# joined string so the hash is canonical
# (account_aged_partner_balance.py:166-174, journal_report.py:688-689).
# ---------------------------------------------------------------------------


@query(
    "a6_collect_distinct",
    oracle="""
    SELECT o_custkey,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
    FROM orders
    GROUP BY o_custkey
    """,
)
def a6_collect_distinct(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias("priorities"),
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
    )


# ---------------------------------------------------------------------------
# A7: weighted average — unit cost = SUM(value)/SUM(qty)
# (etl_stock/wizard/stock_ageing.py:97-112, etl_stock/models/svl.py:228-235).
# ---------------------------------------------------------------------------


@query(
    "a7_weighted_avg",
    oracle=f"""
    SELECT l_partkey,
           {o_dsum('l_extendedprice')} AS total_value,
           {o_dsum('l_quantity')} AS total_qty,
           {o_pround(f"{o_dsum('l_extendedprice')} / {o_dsum('l_quantity')}", 4)}
               AS unit_cost
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) <> 0
    """,
)
def a7_weighted_avg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        dsum("l_extendedprice").alias("total_value"),
        dsum("l_quantity").alias("total_qty"),
    )
    return agg.where(F.col("total_qty") != 0).select(
        "l_partkey",
        "total_value",
        "total_qty",
        pround(F.col("total_value") / F.col("total_qty"), 4).alias("unit_cost"),
    )


# ---------------------------------------------------------------------------
# A16: DISTINCT months listing, chronological
# (account_journal_report.py:728-755 — DISTINCT ON to_char(date,'MM YYYY')).
# ---------------------------------------------------------------------------


@query(
    "a16_distinct_months",
    oracle="""
    SELECT DISTINCT strftime(o_orderdate, '%m %Y') AS month_label,
           strftime(o_orderdate, '%Y-%m') AS month_key
    FROM orders
    """,
)
def a16_distinct_months(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.date_format("o_orderdate", "MM yyyy").alias("month_label"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month_key"),
    ).distinct()


# ---------------------------------------------------------------------------
# W1 + A8 + U1: the general-ledger sums shape — initial balance block
# (date < period start), period block, union'd with a column_group_key
# (account_general_ledger.py:203-290, 426-516).
# ---------------------------------------------------------------------------


@query(
    "w1_gl_initial_and_period",
    oracle=f"""
    SELECT 'initial' AS column_group_key, o_custkey,
           {o_dsum('o_totalprice')} AS balance, COUNT(*) AS n_moves
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o_custkey
    UNION ALL
    SELECT 'period' AS column_group_key, o_custkey,
           {o_dsum('o_totalprice')} AS balance, COUNT(*) AS n_moves
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY o_custkey
    """,
)
def w1_gl_initial_and_period(spark, sf_dir):
    o = load(spark, sf_dir, "orders")

    def block(df, key):
        return df.groupBy("o_custkey").agg(
            dsum("o_totalprice").alias("balance"), F.count("*").alias("n_moves")
        ).select(F.lit(key).alias("column_group_key"), "o_custkey", "balance", "n_moves")

    initial = block(o.where(F.col("o_orderdate") < "1998-01-01"), "initial")
    period = block(
        o.where((F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")),
        "period",
    )
    return initial.unionByName(period)


# ---------------------------------------------------------------------------
# W2: running balance within a ledger — cumulative sum per entity in
# (date, id) order (account_general_ledger.py:575-634,
# account_partner_ledger.py:606-657).
# ---------------------------------------------------------------------------


@query(
    "w2_running_balance",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_balance
    FROM orders
    """,
)
def w2_running_balance(spark, sf_dir):
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        fmt_date("o_orderdate").alias("order_date"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double").alias(
            "running_balance"
        ),
    )


# ---------------------------------------------------------------------------
# O2: offset/limit pagination via row_number (load-more probe,
# account_report.py:2955-2969). Deterministic total order.
# ---------------------------------------------------------------------------


@query(
    "o2_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 80 OFFSET 100
    """,
)
def o2_pagination(spark, sf_dir):
    """Page (offset=100, limit=80) WITHOUT a global row_number: two
    TakeOrderedAndProject top-k passes (k bounded by offset+limit, never
    by data size — each partition contributes its local top-k, the
    driver merges) and a broadcast anti-join to drop the first page.
    The order is strict (unique o_orderkey tie-break), so both passes
    agree deterministically. Replaces the single-partition global
    window flagged in round 1."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    page_and_before = o.orderBy(*order).limit(180)
    before = o.orderBy(*order).limit(100).select("o_orderkey")
    return page_and_before.join(F.broadcast(before), "o_orderkey", "left_anti")


# ---------------------------------------------------------------------------
# J1 + J2: star joins to broadcast dims + per-row ROUND(x*rate, p)
# currency conversion (account_general_ledger.py:399-406,
# account_report.py:2551-2563). TPC-H Q5 shape.
# ---------------------------------------------------------------------------


@query(
    "j1_star_join_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 6)} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def j1_star_join_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        dsum(rev, 6).alias("revenue"), F.count("*").alias("n_lines")
    )


# ---------------------------------------------------------------------------
# J2: broadcast currency-table join with per-row ROUND(balance*rate, 2)
# before summation — order of operations must match the reference
# (account_report.py:2563: SUM(ROUND(balance * rate, precision))).
# ---------------------------------------------------------------------------


@query(
    "j2_currency_round_sum",
    oracle=f"""
    WITH rates AS (
        SELECT n_nationkey,
               CAST(1.0 + n_regionkey * 0.1 AS DECIMAL(6,1)) AS rate
        FROM nation
    )
    SELECT c.c_nationkey,
           {o_dsum('ROUND(CAST(c.c_acctbal AS DECIMAL(18,2)) * r.rate, 2)')} AS converted_balance,
           COUNT(*) AS n_customers
    FROM customer c JOIN rates r ON c.c_nationkey = r.n_nationkey
    GROUP BY c.c_nationkey
    """,
)
def j2_currency_round_sum(spark, sf_dir):
    # ROUND(balance * rate, precision) per row BEFORE summing, exactly as
    # the reference does; the multiply+round runs in exact decimal space
    # so half-way ties resolve identically in any engine (SURVEY §7.4.1).
    c = load(spark, sf_dir, "customer")
    rates = (
        load(spark, sf_dir, "nation")
        .select(
            "n_nationkey",
            (F.lit(1.0) + F.col("n_regionkey") * 0.1).cast("decimal(6,1)").alias("rate"),
        )
    )
    joined = c.join(F.broadcast(rates), c.c_nationkey == rates.n_nationkey)
    converted = F.round(F.col("c_acctbal").cast("decimal(18,2)") * F.col("rate"), 2)
    return joined.groupBy("c_nationkey").agg(
        dsum(converted).alias("converted_balance"), F.count("*").alias("n_customers")
    )
