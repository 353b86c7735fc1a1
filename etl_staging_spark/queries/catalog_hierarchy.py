"""O3: hierarchical sort materialized as ranks — nation parents ranked
by total (driver-side over the BOUNDED parent list — no global window),
customer children ranked within each parent (partitioned window), and
per-parent total rows pinned after the children. Plus the account.group
hierarchy rollup (`account_report.py:845-993`).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..engines.ledger import O_LEDGER, move_lines
from ..engines.options import make_options, o_date_scope_sql
from ..reports.hierarchy import hierarchy_rollup
from ..tables import load, local_frame, pin
from .registry import query


@query(
    "o3_hierarchy_sort",
    oracle="""
    WITH joined AS (
      SELECT c.c_custkey, c.c_acctbal, n.n_name
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    pt AS (
      SELECT n_name, SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS total,
             COUNT(*) AS n_children
      FROM joined GROUP BY n_name
    ),
    pr AS (
      SELECT n_name, total, n_children,
             CAST(ROW_NUMBER() OVER (ORDER BY total DESC, n_name) AS INT)
                 AS parent_rank
      FROM pt
    ),
    details AS (
      SELECT 'detail' AS line_type, j.n_name AS nation, pr.parent_rank,
             CAST(j.c_custkey AS VARCHAR) AS entity,
             CAST(ROW_NUMBER() OVER (PARTITION BY j.n_name
                                     ORDER BY j.c_acctbal DESC, j.c_custkey)
                  AS INT) AS child_pos,
             CAST(CAST(j.c_acctbal AS DECIMAL(30,2)) AS DOUBLE) AS balance
      FROM joined j JOIN pr ON pr.n_name = j.n_name
    ),
    totals AS (
      SELECT 'total', n_name, parent_rank, NULL,
             CAST(n_children + 1 AS INT), CAST(total AS DOUBLE)
      FROM pr
    )
    SELECT * FROM details UNION ALL SELECT * FROM totals
    """,
)
def o3_hierarchy_sort(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name", F.col("c_acctbal").cast("decimal(30,2)").alias("bal")
    )
    parents = joined.groupBy("n_name").agg(
        F.sum("bal").alias("total"), F.count("*").alias("n_children")
    )
    # parent ranks over the BOUNDED parent list: driver-side sort of the
    # collected totals, broadcast back — no single-partition window
    collected = sorted(
        parents.collect(), key=lambda r: (-r.total, r.n_name)
    )
    rank_df = local_frame(
        spark,
        [(r.n_name, i + 1, float(r.total), r.n_children) for i, r in enumerate(collected)],
        "n_name string, parent_rank int, total double, n_children long",
    )
    child_w = W.partitionBy("n_name").orderBy(F.desc("bal"), F.asc("c_custkey"))
    details = (
        joined.join(F.broadcast(rank_df), "n_name")
        .select(
            F.lit("detail").alias("line_type"),
            F.col("n_name").alias("nation"),
            "parent_rank",
            F.col("c_custkey").cast("string").alias("entity"),
            F.row_number().over(child_w).cast("int").alias("child_pos"),
            F.col("bal").cast("double").alias("balance"),
        )
    )
    totals = rank_df.select(
        F.lit("total").alias("line_type"),
        F.col("n_name").alias("nation"),
        "parent_rank",
        F.lit(None).cast("string").alias("entity"),
        (F.col("n_children") + 1).cast("int").alias("child_pos"),
        F.col("total").alias("balance"),
    )
    return details.unionByName(totals)


# ---------------------------------------------------------------------------
# Hierarchy rollup: account.group parent-chain totals above account
# lines (account_report.py:845-993 _create_hierarchy). The group tree
# is prefix-defined (class digit, two-digit group); the rollup is one
# per-account aggregate plus one tiny aggregate per level, and the
# lexicographic path order is the depth-first tree order.
# ---------------------------------------------------------------------------

_HR_OPTS = make_options("1997-01-01", "1997-12-31")
_HR_SCOPE = o_date_scope_sql(_HR_OPTS, "strict_range")


@query(
    "hier_rollup",
    oracle=f"""
    WITH {O_LEDGER},
    per_acct AS (
      SELECT account_code, SUM(conv) AS total, COUNT(*) AS n_lines
      FROM led WHERE {_HR_SCOPE} GROUP BY account_code
    )
    SELECT account_code AS path, CAST(2 AS INT) AS depth,
           'account' AS line_type, CAST(total AS DOUBLE) AS total,
           CAST(1 AS BIGINT) AS n_accounts
    FROM per_acct
    UNION ALL
    SELECT substr(account_code, 1, 1), CAST(0 AS INT), 'group1',
           CAST(SUM(total) AS DOUBLE), COUNT(*)
    FROM per_acct GROUP BY 1
    UNION ALL
    SELECT substr(account_code, 1, 2), CAST(1 AS INT), 'group2',
           CAST(SUM(total) AS DOUBLE), COUNT(*)
    FROM per_acct GROUP BY 1
    """,
)
def hier_rollup(spark, sf_dir):
    from ..engines.options import date_scope_filter

    led = move_lines(spark, sf_dir)
    per_acct = (
        led.where(date_scope_filter(_HR_OPTS, "strict_range"))
        .groupBy("account_code")
        .agg(F.sum("conv").alias("total"), F.count("*").alias("n_lines"))
        .persist()
    )
    rolled = hierarchy_rollup(per_acct, levels=(1, 2))
    return pin(rolled.withColumn("total", F.col("total").cast("double")), per_acct)
