"""S4/3.3: the Excel-register pipeline shape — filter → join lines →
per-invoice aggregate → pivot by tax group → grand-total row.

The reference builds these row-by-row in Python and writes xlwt cells
(`etl_account/wizard/sales_report.py:44-236`); the pipeline here is the
same report as one DataFrame: the pivot is a conditional aggregate per
group (A3), the totals row a heterogeneous union (U2). Rendering to a
file is the sink's job (:mod:`.sinks`), not the query's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import pin

RETURN_FLAGS = ("A", "N", "R")


def sales_register(
    orders: DataFrame, lineitem: DataFrame, date_from: str, date_to: str
) -> DataFrame:
    inv = orders.where(
        (F.col("o_orderdate") >= date_from)
        & (F.col("o_orderdate") <= f"{date_to} 23:59:59")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        F.round(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"), 2
        ).alias("net"),
    )
    joined = inv.join(li, inv.o_orderkey == li.l_orderkey)
    flag_cols = [
        F.sum(
            F.when(F.col("l_returnflag") == flag, F.col("net")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias(f"amount_{flag}")
        for flag in RETURN_FLAGS
    ]
    # all sums stay in exact decimal until the output edge, so the
    # grand-total row is independent of summation order
    per_invoice = joined.groupBy("o_orderkey", "o_custkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"),
        F.sum("net").alias("net_dec"),
        *flag_cols,
    )
    detail = per_invoice.select(
        F.col("o_orderkey").cast("string").alias("invoice"),
        F.col("o_custkey").cast("string").alias("partner"),
        F.col("qty_dec").cast("double").alias("total_qty"),
        F.col("net_dec").cast("double").alias("net_total"),
        *[F.col(f"amount_{f}").cast("double").alias(f"amount_{f}") for f in RETURN_FLAGS],
    )
    totals = per_invoice.agg(
        F.sum("qty_dec").alias("qty_dec"),
        F.sum("net_dec").alias("net_dec"),
        *[F.sum(f"amount_{f}").alias(f"amount_{f}") for f in RETURN_FLAGS],
    ).select(
        F.lit("__TOTAL__").alias("invoice"),
        F.lit(None).cast("string").alias("partner"),
        F.col("qty_dec").cast("double").alias("total_qty"),
        F.col("net_dec").cast("double").alias("net_total"),
        *[F.col(f"amount_{f}").cast("double").alias(f"amount_{f}") for f in RETURN_FLAGS],
    )
    return detail.unionByName(totals)


TAX_BUCKETS = (("low", 0, 2), ("mid", 3, 5), ("high", 6, 8))


def purchase_register(
    orders: DataFrame, lineitem: DataFrame, date_from: str, date_to: str
) -> DataFrame:
    """The purchase-register pivot (`etl_account/wizard/purchase_report.py:
    44-198`): per (bill, vendor) quantities/net plus the per-rate tax
    pivot (the reference's CGST/SGST-by-rate columns; rates bucket into
    low/mid/high percent bands here) and a grand-total row. Tax stays
    exact: rate as DECIMAL(4,2), per-row ROUND(net * rate, 2)."""
    inv = orders.where(
        (F.col("o_orderdate") >= date_from)
        & (F.col("o_orderdate") <= f"{date_to} 23:59:59")
    ).select("o_orderkey")
    rate = F.col("l_tax").cast("decimal(4,2)")
    net = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"), 2
    )
    li = lineitem.select(
        "l_orderkey",
        F.col("l_suppkey").alias("vendor_id"),
        "l_quantity",
        (F.round(rate * 100).cast("int")).alias("rate_pct"),
        net.alias("net"),
        F.round(net * rate, 2).alias("tax_amt"),
    )
    joined = inv.join(li, inv.o_orderkey == li.l_orderkey)
    bucket_cols = [
        F.sum(
            F.when(
                F.col("rate_pct").between(lo, hi), F.col("tax_amt")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias(f"tax_{name}")
        for name, lo, hi in TAX_BUCKETS
    ]
    per_bill = joined.groupBy("o_orderkey", "vendor_id").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"),
        F.sum("net").alias("net_dec"),
        F.sum("tax_amt").alias("tax_dec"),
        *bucket_cols,
    )
    names = [n for n, _, _ in TAX_BUCKETS]
    detail = per_bill.select(
        F.col("o_orderkey").cast("string").alias("bill"),
        F.col("vendor_id").cast("string").alias("vendor"),
        F.col("qty_dec").cast("double").alias("total_qty"),
        F.col("net_dec").cast("double").alias("net_total"),
        F.col("tax_dec").cast("double").alias("tax_total"),
        *[F.col(f"tax_{n}").cast("double").alias(f"tax_{n}") for n in names],
    )
    totals = per_bill.agg(
        F.sum("qty_dec").alias("qty_dec"),
        F.sum("net_dec").alias("net_dec"),
        F.sum("tax_dec").alias("tax_dec"),
        *[F.sum(f"tax_{n}").alias(f"tax_{n}") for n in names],
    ).select(
        F.lit("__TOTAL__").alias("bill"),
        F.lit(None).cast("string").alias("vendor"),
        F.col("qty_dec").cast("double").alias("total_qty"),
        F.col("net_dec").cast("double").alias("net_total"),
        F.col("tax_dec").cast("double").alias("tax_total"),
        *[F.col(f"tax_{n}").cast("double").alias(f"tax_{n}") for n in names],
    )
    return detail.unionByName(totals)


def production_planning(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    customer: DataFrame,
    date_from: str,
    date_to: str,
) -> DataFrame:
    """The production-planning register (`etl_mrp/wizard/
    production_planning.py:41-79`): for the selected orders, one row per
    order line with the product's name and its two grouping dimensions
    ('grade' / 'compound' — the part brand and container here) plus the
    ordering customer. The reference writes 'No. of Bags' / 'No. of
    Belts' column headers but never fills them (wizard quirk, lines
    54-56 vs 63-69) — mirrored as typed NULL columns.

    Shape: pushed date filter on orders, line join on the order key, the
    part and customer dims broadcast."""
    inv = orders.where(
        (F.col("o_orderdate") >= date_from)
        & (F.col("o_orderdate") <= f"{date_to} 23:59:59")
    ).select("o_orderkey", "o_custkey")
    li = lineitem.select("l_orderkey", "l_linenumber", "l_partkey")
    p = part.select("p_partkey", "p_name", "p_brand", "p_type")
    c = customer.select("c_custkey", "c_name")
    return (
        inv.join(li, inv.o_orderkey == li.l_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(c), inv.o_custkey == c.c_custkey)
        .select(
            F.col("o_orderkey").alias("order_ref"),
            F.col("l_linenumber").alias("line_no"),
            F.col("p_name").alias("product"),
            F.col("p_brand").alias("grade"),
            F.col("p_type").alias("compound"),
            F.lit(None).cast("double").alias("n_bags"),
            F.lit(None).cast("double").alias("n_belts"),
            F.col("c_name").alias("customer"),
        )
    )


AGE_BUCKETS = ((0, 30), (31, 60), (61, 90), (91, 120))


def stock_ageing(lineitem: DataFrame, as_of: str) -> DataFrame:
    """The assembled stock-ageing register (`etl_stock/wizard/
    stock_ageing.py:46-316`): per location section, per product — stock
    in hand from serial-ledger netting (IN minus OUT per serial, kept
    only when positive), SVL average unit cost as-of the report date,
    quantity aged into 0-30/31-60/61-90/91-120/older day buckets by the
    serial's birth date, each bucket also valued at unit cost — plus the
    reference's two grand-total rows (TOTAL QUANTITY / TOTAL VALUE,
    both written in the stock column).

    Composition of the certified pieces: A9 ledger netting per
    (serial, location), M2/A7 as-of weighted average cost, W5 day-diff
    buckets as conditional aggregation. The fact is scanned ONCE: the
    serial-grain aggregate also carries min(date) and the in-move value
    sum, so the per-serial birth date and the per-product cost both
    re-aggregate that bounded frame (decimal sums reassociate exactly)
    instead of rescanning lineitem; the cost dim is per-product so AQE
    broadcasts it. All sums stay exact decimal until the output edge."""
    mv = lineitem.where(F.col("l_shipdate") <= f"{as_of} 23:59:59").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_linenumber") % 3).alias("location_id"),
        "l_quantity",
        "l_shipdate",
        (F.col("l_returnflag") == "R").alias("is_out"),
        F.round(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"), 2
        ).alias("net"),
    )
    qty3 = F.col("l_quantity").cast("decimal(30,3)")
    zero3 = F.lit(0).cast("decimal(30,3)")
    zero2 = F.lit(0).cast("decimal(18,2)")
    # ONE pass over the fact to the serial x location grain (A9 shape);
    # everything below aggregates this bounded frame
    ser_pre = (
        mv.groupBy("l_partkey", "l_suppkey", "location_id")
        .agg(
            F.sum(F.when(~F.col("is_out"), qty3).otherwise(zero3)).alias("q_in"),
            F.sum(F.when(F.col("is_out"), qty3).otherwise(zero3)).alias("q_out"),
            F.min("l_shipdate").alias("loc_bdate"),
            F.sum(F.when(~F.col("is_out"), F.col("net")).otherwise(zero2)).alias("v_in"),
        )
        .persist()
    )
    ser = ser_pre.withColumn("sl_qty", F.col("q_in") - F.col("q_out")).where(
        F.col("sl_qty") > 0
    )
    birth = ser_pre.groupBy("l_partkey", "l_suppkey").agg(
        F.min("loc_bdate").alias("bdate")
    )
    # SVL as-of average cost per product (M2 convention: double ratio,
    # portable 3-dp half-up via floor(x*1000+0.5)/1000)
    cost = (
        ser_pre.groupBy("l_partkey")
        .agg(F.sum("q_in").alias("qsum"), F.sum("v_in").alias("vsum"))
        .select(
            "l_partkey",
            F.when(
                F.col("qsum") > 0,
                F.floor(
                    F.col("vsum").cast("double") / F.col("qsum").cast("double") * 1000
                    + 0.5
                )
                / 1000,
            )
            .otherwise(F.lit(0.0))
            .alias("unit_cost"),
        )
    )
    aged = ser.join(birth, ["l_partkey", "l_suppkey"])
    age = F.datediff(F.lit(as_of).cast("date"), F.col("bdate").cast("date"))
    bucket_aggs = [
        F.sum(F.when((age >= lo) & (age <= hi), F.col("sl_qty")).otherwise(zero3)).alias(
            f"q_{lo}_{hi}"
        )
        for lo, hi in AGE_BUCKETS
    ]
    prod = aged.groupBy("location_id", "l_partkey").agg(
        F.sum("sl_qty").alias("stock_dec"),
        *bucket_aggs,
        F.sum(
            F.when(age > AGE_BUCKETS[-1][1], F.col("sl_qty")).otherwise(zero3)
        ).alias("q_older"),
    )
    enriched = prod.join(cost, "l_partkey", "left").withColumn(
        "uc", F.coalesce(F.col("unit_cost"), F.lit(0.0))
    )
    ucd = F.col("uc").cast("decimal(18,6)")
    bnames = [f"q_{lo}_{hi}" for lo, hi in AGE_BUCKETS] + ["q_older"]
    for b in bnames:
        enriched = enriched.withColumn(f"v_{b}", F.round(ucd * F.col(b), 3))
    enriched = enriched.persist()
    out_names = [f"{k}_{lo}_{hi}" for lo, hi in AGE_BUCKETS for k in ("qty", "val")] + [
        "qty_older",
        "val_older",
    ]
    detail = enriched.select(
        F.lit("line").alias("row_type"),
        "location_id",
        F.col("l_partkey").alias("product"),
        F.col("stock_dec").cast("double").alias("stock_in_hand"),
        F.col("uc").alias("unit_cost"),
        *[
            c
            for lo, hi in AGE_BUCKETS
            for c in (
                F.col(f"q_{lo}_{hi}").cast("double").alias(f"qty_{lo}_{hi}"),
                F.col(f"v_q_{lo}_{hi}").cast("double").alias(f"val_{lo}_{hi}"),
            )
        ],
        F.col("q_older").cast("double").alias("qty_older"),
        F.col("v_q_older").cast("double").alias("val_older"),
    )
    null_d = F.lit(None).cast("double")
    tot = enriched.agg(
        F.sum("stock_dec").alias("tq"),
        F.sum(
            sum((F.col(f"v_{b}") for b in bnames[1:]), F.col(f"v_{bnames[0]}"))
        ).alias("tv"),
    )
    totals = tot.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("total_quantity").alias("row_type"),
                    F.col("tq").cast("double").alias("stock_in_hand"),
                ),
                F.struct(
                    F.lit("total_value").alias("row_type"),
                    F.col("tv").cast("double").alias("stock_in_hand"),
                ),
            )
        ).alias("r")
    ).select(
        F.col("r.row_type").alias("row_type"),
        F.lit(None).cast("int").alias("location_id"),
        F.lit(None).cast("bigint").alias("product"),
        F.col("r.stock_in_hand").alias("stock_in_hand"),
        null_d.alias("unit_cost"),
        *[null_d.alias(n) for n in out_names],
    )
    return pin(detail.unionByName(totals), ser_pre, enriched)


def hsn_summary(
    orders: DataFrame, lineitem: DataFrame, part: DataFrame, date_from: str, date_to: str
) -> DataFrame:
    """The HSN summary (`etl_account/wizard/hsn_report.py:37-...`):
    invoice lines grouped by the product's HSN classification (the part
    type here), with line counts, quantities, taxable value, tax and
    gross, plus a grand-total row."""
    inv = orders.where(
        (F.col("o_orderdate") >= date_from)
        & (F.col("o_orderdate") <= f"{date_to} 23:59:59")
    ).select("o_orderkey")
    rate = F.col("l_tax").cast("decimal(4,2)")
    li = lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        F.round(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"), 2
        ).alias("net"),
        rate.alias("rate"),
    ).withColumn("tax_amt", F.round(F.col("net") * F.col("rate"), 2))
    p = part.select("p_partkey", F.col("p_type").alias("hsn_class"))
    joined = (
        inv.join(li, inv.o_orderkey == li.l_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    per_class = joined.groupBy("hsn_class").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"),
        F.sum("net").alias("taxable_dec"),
        F.sum("tax_amt").alias("tax_dec"),
    )
    # Output edge is DOUBLE, matching every other register: internal sums
    # are exact decimal (scale 2), so the decimal->double conversion is the
    # proven dsum convention — the same shape sales/purchase registers use.
    dec = "double"
    detail = per_class.select(
        "hsn_class",
        "n_lines",
        F.col("qty_dec").cast(dec).alias("total_qty"),
        F.col("taxable_dec").cast(dec).alias("taxable_value"),
        F.col("tax_dec").cast(dec).alias("tax_amount"),
        (F.col("taxable_dec") + F.col("tax_dec")).cast(dec).alias("gross"),
    )
    totals = per_class.agg(
        F.sum("n_lines").alias("n_lines"),
        F.sum("qty_dec").alias("qty_dec"),
        F.sum("taxable_dec").alias("taxable_dec"),
        F.sum("tax_dec").alias("tax_dec"),
    ).select(
        F.lit("__TOTAL__").alias("hsn_class"),
        "n_lines",
        F.col("qty_dec").cast(dec).alias("total_qty"),
        F.col("taxable_dec").cast(dec).alias("taxable_value"),
        F.col("tax_dec").cast(dec).alias("tax_amount"),
        (F.col("taxable_dec") + F.col("tax_dec")).cast(dec).alias("gross"),
    )
    return detail.unionByName(totals)
