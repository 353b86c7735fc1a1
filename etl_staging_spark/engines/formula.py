"""Batchable formula engines E1 (domain), E2 (tax_tags), E4 (external).

Each engine takes the shared ledger fact and a batch of formulas and
returns ONE lazy DataFrame keyed by (formula, grouping_key) — the
Spark analog of `_compute_formula_batch_with_engine_*`
(`account_report.py:2500-2533`): one aggregate per formula, fused by
Catalyst into a shared scan, results unioned. Nothing is collected
here; report assembly decides when to materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..domain import compile_domain
from .options import date_scope_filter


def domain_engine(
    led: DataFrame,
    options: dict,
    formulas: dict[str, list],
    date_scope: str = "strict_range",
    groupby: str | None = None,
) -> DataFrame:
    """E1: each formula is a domain (list-of-triples predicate IR) on the
    ledger; result columns are the four subformulas
    (`account_report.py:2604-2708`):

    - res_sum        — SUM of currency-converted balances
    - res_sum_if_pos — per-group sum, but only when the formula's TOTAL
      across all groups is >= 0 (the gate applies to the total, not per
      group — the reference's explicit usability decision), else 0
    - res_sum_if_neg — symmetric, total < 0
    - count_rows     — COUNT(DISTINCT id) (first next_groupby level)

    One filtered aggregate per formula, unioned with the formula name as
    key; the total-sign gate is a window over the formula's groups (no
    extra shuffle: the window partitions by the union key).
    """
    scope = date_scope_filter(options, date_scope)
    parts = []
    for name, dom in formulas.items():
        filtered = led.where(scope & compile_domain(dom))
        grp = filtered.groupBy(
            *([F.col(groupby).alias("grouping_key")] if groupby else [])
        ).agg(
            F.sum("conv").alias("dsum"),
            F.countDistinct("id").alias("count_rows"),
        )
        if not groupby:
            grp = grp.withColumn("grouping_key", F.lit(None).cast("string"))
        parts.append(grp.withColumn("formula", F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    total = F.sum("dsum").over(W.partitionBy("formula"))
    return out.select(
        "formula",
        F.col("grouping_key").cast("string").alias("grouping_key"),
        F.col("dsum").cast("double").alias("res_sum"),
        F.when(total >= 0, F.col("dsum")).otherwise(F.lit(0)).cast("double").alias(
            "res_sum_if_pos"
        ),
        F.when(total < 0, F.col("dsum")).otherwise(F.lit(0)).cast("double").alias(
            "res_sum_if_neg"
        ),
        "count_rows",
    )


def tax_tags_engine(
    led: DataFrame,
    options: dict,
    tag_names: list[str],
    date_scope: str = "strict_range",
    groupby: str | None = None,
) -> DataFrame:
    """E2: formula = tag name; each line carries a signed tag (+tag or
    -tag) and an invert flag; balance = SUM(conv * tag_sign * invert)
    (`account_report.py:2535-2602`). The tag rel join is inlined in the
    ledger mapping (tag_name/tag_sign columns), so this is a single
    conditional aggregate — no M2M shuffle at all."""
    scope = date_scope_filter(options, date_scope)
    sign = F.when(F.col("tag_sign") == "-", -1).otherwise(1) * F.when(
        F.col("tax_tag_invert"), -1
    ).otherwise(1)
    filtered = led.where(scope & F.col("tag_name").isin(tag_names))
    keys = [F.col("tag_name").alias("formula")] + (
        [F.col(groupby).alias("grouping_key")] if groupby else []
    )
    out = filtered.groupBy(*keys).agg(
        F.sum(F.col("conv") * sign).cast("double").alias("balance"),
        F.count("id").alias("aml_count"),
    )
    if not groupby:
        out = out.withColumn("grouping_key", F.lit(None).cast("string"))
    return out.select("formula", "grouping_key", "balance", "aml_count")


def external_engine(
    ext: DataFrame,
    options: dict,
    formulas: dict[str, str],
    date_scope: str = "strict_range",
) -> DataFrame:
    """E4: manual values (`account_report.py:2866-2943`). ``ext`` has
    (target_expression, date, value). Formulas per expression label:

    - 'sum'         — sum of values in the period
    - 'most_recent' — sum of values on the LATEST date in the period
      (GROUP BY date ORDER BY date DESC LIMIT 1 — a per-key window here)

    The external-value table is tiny (manual entries); one shuffle on
    the expression key regardless of scale.
    """
    from .options import date_bounds

    date_from, date_to, _ = date_bounds(options, date_scope)
    # external values carry plain DATEs, not timestamps
    pred = F.col("date") <= F.lit(date_to).cast("date")
    if date_from:
        pred = pred & (F.col("date") >= F.lit(date_from).cast("date"))
    scoped = ext.where(pred)

    sum_labels = [k for k, v in formulas.items() if v == "sum"]
    recent_labels = [k for k, v in formulas.items() if v == "most_recent"]
    parts = []
    if sum_labels:
        parts.append(
            scoped.where(F.col("target_expression").isin(sum_labels))
            .groupBy(F.col("target_expression").alias("expression"))
            .agg(F.sum("value_dec").cast("double").alias("result"))
            .withColumn("formula", F.lit("sum"))
        )
    if recent_labels:
        per_date = (
            scoped.where(F.col("target_expression").isin(recent_labels))
            .groupBy(F.col("target_expression").alias("expression"), F.col("date"))
            .agg(F.sum("value_dec").alias("dsum"))
        )
        w = W.partitionBy("expression").orderBy(F.desc("date"))
        parts.append(
            per_date.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                "expression",
                F.col("dsum").cast("double").alias("result"),
                F.lit("most_recent").alias("formula"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("expression", "formula", "result")


def external_values_from_events(events: DataFrame) -> DataFrame:
    """Map the driver's events table to the external-value shape:
    target_expression = event_type, date = DATE(ts), exact-decimal
    value."""
    return events.select(
        F.col("event_type").alias("target_expression"),
        F.to_date("ts").alias("date"),
        F.col("value").cast("decimal(18,2)").alias("value_dec"),
    )
