"""Join / window / set-op operators (SURVEY.md §2.3, §2.5-2.7).

Maps the reference's reconciliation-style joins, as-of lookups and
aged-balance shapes onto the driver tables (FIXTURES.md §F9).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_join, most_recent_value
from ..operators.buckets import bucket_expr, bucket_pivot
from ..operators.netting import net_ledger
from ..tables import load, local_frame
from .registry import dsum, fmt_date, o_dsum, query

AS_OF = "2001-09-01"

# ---------------------------------------------------------------------------
# A3 + W5: aged-balance conditional pivot — SUM(CASE WHEN bucket=i ...) ×6
# (account_aged_partner_balance.py:146-157), buckets from day-diff (J4
# rewritten as an expression, SURVEY §2.3 J4).
# ---------------------------------------------------------------------------


def _o_bucket(lo, hi):
    return (
        f"CAST(SUM(CAST(CASE WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') "
        f"BETWEEN {lo} AND {hi} THEN o_totalprice ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE)"
    )


@query(
    "a3_aged_bucket_pivot",
    oracle=f"""
    SELECT o_custkey,
           CAST(SUM(CAST(CASE WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') < 0
                THEN o_totalprice ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS period_current,
           {_o_bucket(0, 30)} AS period_0_30,
           {_o_bucket(31, 60)} AS period_31_60,
           {_o_bucket(61, 90)} AS period_61_90,
           {_o_bucket(91, 120)} AS period_91_120,
           CAST(SUM(CAST(CASE WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') > 120
                THEN o_totalprice ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS period_older,
           {o_dsum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_custkey
    """,
)
def a3_aged_bucket_pivot(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    days = F.datediff(F.lit(AS_OF).cast("date"), F.col("o_orderdate").cast("date"))
    return bucket_pivot(o, ["o_custkey"], days, F.col("o_totalprice"))


# ---------------------------------------------------------------------------
# W5 row-level: bucket label per row via the CASE chain
# (etl_stock/wizard/stock_ageing.py:160-170).
# ---------------------------------------------------------------------------


@query(
    "w5_age_bucket_rows",
    oracle=f"""
    SELECT o_orderkey,
           datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') AS age_days,
           CASE WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') < 0 THEN 'current'
                WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') <= 30 THEN '0-30'
                WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') <= 60 THEN '31-60'
                WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') <= 90 THEN '61-90'
                WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') <= 120 THEN '91-120'
                ELSE 'older' END AS bucket
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)
def w5_age_bucket_rows(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "F")
    days = F.datediff(F.lit(AS_OF).cast("date"), F.col("o_orderdate").cast("date"))
    return o.select(
        "o_orderkey", days.alias("age_days"), bucket_expr(days).alias("bucket")
    )


# ---------------------------------------------------------------------------
# A4: sign-gated sums — sum_if_pos / sum_if_neg emit the subtotal only if
# its overall sign matches (account_report.py:2679-2703).
# ---------------------------------------------------------------------------


@query(
    "a4_sign_gated_sum",
    oracle=f"""
    WITH sums AS (
        SELECT l_partkey,
               {o_dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice "
                       "ELSE -l_extendedprice END")} AS total
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, total,
           CASE WHEN total >= 0 THEN total ELSE 0 END AS sum_if_pos,
           CASE WHEN total < 0 THEN total ELSE 0 END AS sum_if_neg
    FROM sums
    """,
)
def a4_sign_gated_sum(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    balance = F.when(F.col("l_linestatus") == "O", F.col("l_extendedprice")).otherwise(
        -F.col("l_extendedprice")
    )
    sums = li.groupBy("l_partkey").agg(dsum(balance).alias("total"))
    # Gate applied on the aggregate, not per row — reference quirk (§7.4.2).
    return sums.select(
        "l_partkey",
        "total",
        F.when(F.col("total") >= 0, F.col("total")).otherwise(0.0).alias("sum_if_pos"),
        F.when(F.col("total") < 0, F.col("total")).otherwise(0.0).alias("sum_if_neg"),
    )


# ---------------------------------------------------------------------------
# A9: ledger netting — Σ IN − Σ OUT per key with as-of cutoff
# (etl_stock/models/product.py:34-156) as ONE signed aggregation.
# ---------------------------------------------------------------------------


@query(
    "a9_ledger_netting",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END
                AS DECIMAL(30,3))) AS DOUBLE) AS qty_in,
           CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END
                AS DECIMAL(30,3))) AS DOUBLE) AS qty_out,
           CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity
                              WHEN l_returnflag = 'R' THEN -l_quantity
                              ELSE 0 END AS DECIMAL(30,3))) AS DOUBLE) AS qty_net
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-31'
    GROUP BY l_partkey
    """,
)
def a9_ledger_netting(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return net_ledger(
        li,
        keys=["l_partkey"],
        qty="l_quantity",
        is_in=F.col("l_returnflag") == "N",
        is_out=F.col("l_returnflag") == "R",
        as_of=F.lit("1999-12-31").cast("timestamp"),
        date_col="l_shipdate",
    )


# ---------------------------------------------------------------------------
# J3: LATERAL → pre-aggregate + left join rewrite — per-header reconciled
# amount as-of date (account_aged_partner_balance.py:183-195).
# ---------------------------------------------------------------------------


@query(
    "j3_lateral_agg_join",
    oracle=f"""
    WITH settled AS (
        SELECT l_orderkey, {o_dsum('l_extendedprice')} AS settled_amount
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-06-30'
        GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_totalprice,
           COALESCE(s.settled_amount, 0.0) AS settled_amount,
           CAST(CAST(o.o_totalprice AS DECIMAL(30,2))
                - CAST(COALESCE(s.settled_amount, 0.0) AS DECIMAL(30,2)) AS DOUBLE) AS residual
    FROM orders o LEFT JOIN settled s ON o.o_orderkey = s.l_orderkey
    """,
)
def j3_lateral_agg_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1997-06-30")
    settled = li.groupBy("l_orderkey").agg(dsum("l_extendedprice").alias("settled_amount"))
    o = load(spark, sf_dir, "orders")
    joined = o.join(settled, o.o_orderkey == settled.l_orderkey, "left")
    settled_amt = F.coalesce(F.col("settled_amount"), F.lit(0.0))
    return joined.select(
        "o_orderkey",
        "o_totalprice",
        settled_amt.alias("settled_amount"),
        (
            F.col("o_totalprice").cast("decimal(30,2)") - settled_amt.cast("decimal(30,2)")
        ).cast("double").alias("residual"),
    )


# ---------------------------------------------------------------------------
# J4: interval/theta bucket join against a tiny inline period table —
# kept as a real join here (broadcast nested-loop over 6 rows), the
# literal translation of account_aged_partner_balance.py:127-133; the
# expression form is a3/w5.
# ---------------------------------------------------------------------------


@query(
    "j4_interval_bucket_join",
    oracle=f"""
    WITH periods(label, lo, hi) AS (
        VALUES ('0-30', 0, 30), ('31-60', 31, 60), ('61-90', 61, 90),
               ('91-120', 91, 120), ('older', 121, 1000000)
    )
    SELECT p.label AS bucket, COUNT(*) AS n_orders,
           {o_dsum('o.o_totalprice')} AS amount
    FROM orders o
    JOIN periods p
      ON datediff('day', CAST(o.o_orderdate AS DATE), DATE '{AS_OF}') >= p.lo
     AND datediff('day', CAST(o.o_orderdate AS DATE), DATE '{AS_OF}') <= p.hi
    WHERE o.o_orderstatus = 'O'
    GROUP BY p.label
    """,
)
def j4_interval_bucket_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    periods = local_frame(
        spark,
        [("0-30", 0, 30), ("31-60", 31, 60), ("61-90", 61, 90),
         ("91-120", 91, 120), ("older", 121, 1000000)],
        "label string, lo int, hi int",
    )
    days = F.datediff(F.lit(AS_OF).cast("date"), F.col("o_orderdate").cast("date"))
    joined = o.withColumn("__days", days).join(
        F.broadcast(periods),
        (F.col("__days") >= F.col("lo")) & (F.col("__days") <= F.col("hi")),
    )
    return joined.groupBy(F.col("label").alias("bucket")).agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("amount")
    )


# ---------------------------------------------------------------------------
# J5: OR-join through reconcile edges → union of two equi-joins
# (account_partner_ledger.py:488-519, multicurrency :234-235). Edges here
# link consecutive line numbers within an order.
# ---------------------------------------------------------------------------


@query(
    "j5_edge_union_join",
    oracle="""
    WITH edges AS (
        SELECT a.l_orderkey AS eo, a.l_linenumber AS d_ln, b.l_linenumber AS c_ln
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
    )
    SELECT l.l_orderkey, l.l_linenumber,
           COUNT(*) AS n_edges,
           CAST(SUM(CASE WHEN l.l_linenumber = e.d_ln THEN e.c_ln ELSE e.d_ln END)
               AS BIGINT) AS sum_counterpart_ln
    FROM lineitem l
    JOIN edges e ON l.l_orderkey = e.eo
                AND (l.l_linenumber = e.d_ln OR l.l_linenumber = e.c_ln)
    GROUP BY l.l_orderkey, l.l_linenumber
    """,
)
def j5_edge_union_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a = li.alias("a")
    b = li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1),
    ).select(
        F.col("a.l_orderkey").alias("eo"),
        F.col("a.l_linenumber").alias("d_ln"),
        F.col("b.l_linenumber").alias("c_ln"),
    )
    lines = li.alias("l")
    # debit-side match: counterpart is the credit line — and vice versa;
    # the OR-join becomes a union of two equi-joins (no OR in join cond,
    # so both stay hash joins instead of a nested loop).
    debit = lines.join(
        edges,
        (F.col("l.l_orderkey") == F.col("eo")) & (F.col("l.l_linenumber") == F.col("d_ln")),
    ).select("l.l_orderkey", "l.l_linenumber", F.col("c_ln").alias("counterpart_ln"))
    credit = lines.join(
        edges,
        (F.col("l.l_orderkey") == F.col("eo")) & (F.col("l.l_linenumber") == F.col("c_ln")),
    ).select("l.l_orderkey", "l.l_linenumber", F.col("d_ln").alias("counterpart_ln"))
    return (
        debit.unionByName(credit)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum("counterpart_ln").alias("sum_counterpart_ln"),
        )
    )


# ---------------------------------------------------------------------------
# J6: anti-join / semi-join — NOT EXISTS / EXISTS
# (account_multicurrency_revaluation_report.py:205-207, 240-242).
# ---------------------------------------------------------------------------


@query(
    "j6_anti_semi_join",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS n_dormant,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS dormant_balance
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def j6_anti_semi_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    recent = o.where(F.col("o_orderdate") >= "2000-01-01").select(
        F.col("o_custkey").alias("k")
    )
    ever = o.select(F.col("o_custkey").alias("k"))
    dormant = c.join(recent, c.c_custkey == recent.k, "left_anti").join(
        ever, c.c_custkey == ever.k, "left_semi"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("n_dormant"), dsum("c_acctbal").alias("dormant_balance")
    )


# ---------------------------------------------------------------------------
# J7: as-of join — latest prior 'view' value for each 'purchase' event
# per user (etl_stock/models/svl.py:205-240 semantics on the events table).
# ---------------------------------------------------------------------------


@query(
    "j7_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           p.value AS purchase_value,
           (SELECT v.value FROM events v
            WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
            ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS last_view_value
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def j7_asof_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("value").alias("last_view_value"),
        F.col("event_id").alias("view_event_id"),
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_view_value"],
        tiebreak="view_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        "purchase_value",
        "last_view_value",
    )


# ---------------------------------------------------------------------------
# J8: many-to-many join through a rel table (tax tags,
# account_report.py:2572-2576) — rel derived as distinct (part, supplier).
# ---------------------------------------------------------------------------


@query(
    "j8_m2m_rel_join",
    oracle="""
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_partkey, COUNT(*) AS n_suppliers,
           string_agg(DISTINCT s.s_name, ',' ORDER BY s.s_name) AS supplier_names
    FROM part p
    JOIN rel ON p.p_partkey = rel.l_partkey
    JOIN supplier s ON rel.l_suppkey = s.s_suppkey
    GROUP BY p.p_partkey
    """,
)
def j8_m2m_rel_join(spark, sf_dir):
    rel = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    joined = p.join(rel, p.p_partkey == rel.l_partkey).join(
        F.broadcast(s), rel.l_suppkey == s.s_suppkey
    )
    return joined.groupBy("p_partkey").agg(
        F.count("*").alias("n_suppliers"),
        F.concat_ws(",", F.array_sort(F.collect_set("s_name"))).alias("supplier_names"),
    )


# ---------------------------------------------------------------------------
# J9: parent→children expansion with ARRAY_AGG
# (account_generic_tax_report.py:118-132).
# ---------------------------------------------------------------------------


@query(
    "j9_group_expansion",
    oracle="""
    SELECT n.n_nationkey, n.n_name,
           COUNT(DISTINCT s.s_suppkey) AS n_children,
           string_agg(DISTINCT s.s_name, ',' ORDER BY s.s_name) AS child_names
    FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def j9_group_expansion(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_children"),
            F.concat_ws(",", F.array_sort(F.collect_set("s_name"))).alias("child_names"),
        )
    )


# ---------------------------------------------------------------------------
# W3: most_recent — latest row per entity (account_report.py:2906-2912).
# ---------------------------------------------------------------------------


@query(
    "w3_most_recent",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_type, value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def w3_most_recent(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    latest = most_recent_value(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# W4: unaffected earnings — prior-fiscal-year P&L folded per company
# (account_general_ledger.py:258-316).
# ---------------------------------------------------------------------------


@query(
    "w4_unaffected_earnings",
    oracle=f"""
    SELECT c.c_nationkey AS company_key,
           {o_dsum('o.o_totalprice')} AS unaffected_earnings,
           COUNT(*) AS n_moves
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate < TIMESTAMP '1998-01-01' AND o.o_orderstatus <> 'O'
    GROUP BY c.c_nationkey
    """,
)
def w4_unaffected_earnings(spark, sf_dir):
    from ..engines.options import date_bounds, make_options

    # cutoff = start of the fiscal year containing the report period
    # (calendar FY here; fy_period_shift covers a June-30 company)
    opts = make_options("1998-01-01", "1998-12-31")
    fy_from, _, _ = date_bounds(opts, "from_fiscalyear")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") < fy_from) & (F.col("o_orderstatus") != "O")
    )
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("company_key"))
        .agg(dsum("o_totalprice").alias("unaffected_earnings"), F.count("*").alias("n_moves"))
    )


# ---------------------------------------------------------------------------
# U2: heterogeneous UNION ALL with missing columns
# (account_multicurrency_revaluation_report.py:209-243).
# ---------------------------------------------------------------------------


@query(
    "u2_heterogeneous_union",
    oracle=f"""
    SELECT n.n_name AS entity, 'revenue' AS block,
           {o_dsum('c.c_acctbal')} AS amount, NULL::BIGINT AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    UNION ALL BY NAME
    SELECT r.r_name AS entity, 'headcount' AS block,
           NULL::DOUBLE AS amount, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def u2_heterogeneous_union(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    block_a = cn.groupBy(F.col("n_name").alias("entity")).agg(
        dsum("c_acctbal").alias("amount")
    ).withColumn("block", F.lit("revenue"))
    block_b = (
        cn.join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("entity"))
        .agg(F.count("*").alias("n_customers"))
        .withColumn("block", F.lit("headcount"))
    )
    return block_a.unionByName(block_b, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# U3: IN / NOT IN membership filters (account_cash_flow_report.py:297-298).
# ---------------------------------------------------------------------------


@query(
    "u3_in_notin",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders, {o_dsum('o_totalprice')} AS amount
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey <= 5)
      AND o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
    GROUP BY o_orderstatus
    """,
)
def u3_in_notin(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(
        ~F.col("o_orderpriority").isin("5-LOW", "4-NOT SPECIFIED")
    )
    keys = load(spark, sf_dir, "customer").where(F.col("c_nationkey") <= 5).select(
        F.col("c_custkey").alias("k")
    )
    return (
        o.join(keys, o.o_custkey == keys.k, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("amount"))
    )


# ---------------------------------------------------------------------------
# O1: multi-key sort with CASE sort key and NULLS FIRST, materialized as a
# rank so the order survives the order-insensitive hash
# (account_journal_report.py:705-714).
# ---------------------------------------------------------------------------


@query(
    "o1_multikey_sort",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS sort_amount,
           ROW_NUMBER() OVER (ORDER BY
               CASE o_orderstatus WHEN 'O' THEN 0 WHEN 'P' THEN 1 ELSE 2 END,
               CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END
                   ASC NULLS FIRST,
               o_orderkey) AS rank
    FROM orders
    """,
)
def o1_multikey_sort(spark, sf_dir):
    """Global rank WITHOUT a single-partition window and WITHOUT
    materializing the table: bucket the sort key on DETERMINISTIC split
    points (Greenwald-Khanna ``approxQuantile`` of the amount — no RNG,
    collected once driver-side), rank locally per bucket, and add
    per-bucket offsets from a cheap partial-agg counts job. Because the
    bucket expression is a literal CASE over collected split points,
    the counts job and the final job agree by construction — unlike
    ``repartitionByRange``, whose sampler re-draws boundaries per job
    and so would need a checkpoint to pin. Rank values are exact
    whatever the split points, because buckets are monotone in the key
    order and the in-bucket order is strict (unique o_orderkey
    tie-break); quantile error only skews bucket sizes, not results."""
    o = load(spark, sf_dir, "orders")
    type_order = (
        F.when(F.col("o_orderstatus") == "O", 0)
        .when(F.col("o_orderstatus") == "P", 1)
        .otherwise(2)
    )
    sort_amount = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        sort_amount.alias("sort_amount"),
        type_order.alias("__type_order"),
    )
    # ~32 amount bins per type block; at cluster scale raise with the
    # target parallelism (bins bound the window's shuffle width).
    n_bins = 32
    probs = [i / n_bins for i in range(1, n_bins)]
    splits = sorted(
        set(
            base.where(F.col("sort_amount").isNotNull()).approxQuantile(
                "sort_amount", probs, 0.001
            )
        )
    )
    # amount bin 0 = NULL (ASC NULLS FIRST), 1..n = (split[i-1], split[i]]
    amt_bucket = F.when(F.col("sort_amount").isNull(), F.lit(0))
    for i, s in enumerate(splits):
        amt_bucket = amt_bucket.when(F.col("sort_amount") <= s, F.lit(i + 1))
    amt_bucket = amt_bucket.otherwise(F.lit(len(splits) + 1))
    bucket = (F.col("__type_order") * (len(splits) + 2) + amt_bucket).alias("__bkt")
    bucketed = base.select("*", bucket)
    # per-bucket offsets: O(n_buckets) rows on the driver, not O(data)
    counts = sorted(
        (r["__bkt"], r["cnt"])
        for r in bucketed.groupBy("__bkt").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for bkt, cnt in counts:
        offsets[bkt] = acc
        acc += cnt
    offset_df = local_frame(
        spark, [(bkt, off) for bkt, off in offsets.items()], "__bkt int, __offset long"
    )
    local_w = W.partitionBy("__bkt").orderBy(
        F.col("sort_amount").asc_nulls_first(), "o_orderkey"
    )
    return (
        bucketed.withColumn("__local_rn", F.row_number().over(local_w))
        .join(F.broadcast(offset_df), "__bkt")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "sort_amount",
            (F.col("__offset") + F.col("__local_rn")).cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# O4: prefix-group bucketing — regroup by name prefix
# (account_report.py:3934-4077).
# ---------------------------------------------------------------------------


@query(
    "o4_prefix_group",
    oracle=f"""
    SELECT substr(p_name, 1, 4) AS prefix, COUNT(*) AS n_children,
           {o_dsum('p_retailprice')} AS group_balance
    FROM part
    GROUP BY substr(p_name, 1, 4)
    """,
)
def o4_prefix_group(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.groupBy(F.substring("p_name", 1, 4).alias("prefix")).agg(
        F.count("*").alias("n_children"), dsum("p_retailprice").alias("group_balance")
    )


# ---------------------------------------------------------------------------
# J10: salted hot-key join — the explicit skew remedy for a single
# dominant join key (operators/skew.py). The salted plan's OUTPUT is
# row-identical to the plain join, which is exactly what this entry's
# oracle (a plain SQL join) certifies.
# ---------------------------------------------------------------------------


@query(
    "j10_salted_hot_join",
    oracle=f"""
    WITH fact AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 4 != 0 THEN 1 ELSE o_custkey % 50 END AS k,
             o_totalprice
      FROM orders
    ),
    dim AS (SELECT DISTINCT o_custkey % 50 AS k, 'seg' || CAST(o_custkey % 50 AS VARCHAR) AS segment
            FROM orders),
    j AS (SELECT f.k, segment, o_totalprice FROM fact f JOIN dim ON f.k = dim.k)
    SELECT segment, COUNT(*) AS n, {o_dsum('o_totalprice')} AS amount
    FROM j GROUP BY segment
    """,
)
def j10_salted_hot_join(spark, sf_dir):
    """~75% of fact rows share key 1; the salted join spreads them over
    8 sub-keys so no single (key, partition) pair dominates the
    shuffle, and the aggregate proves the output equals the plain
    join's."""
    from ..operators.skew import salted_join

    o = load(spark, sf_dir, "orders")
    fact = o.select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 4 != 0, 1)
        .otherwise(F.col("o_custkey") % 50)
        .alias("k"),
        "o_totalprice",
    )
    dim = (
        o.select((F.col("o_custkey") % 50).alias("k"))
        .distinct()
        .withColumn("segment", F.concat(F.lit("seg"), F.col("k").cast("string")))
    )
    joined = salted_join(fact, dim, "k", hot_keys=[1], n_salts=8)
    return joined.groupBy("segment").agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("amount")
    )
