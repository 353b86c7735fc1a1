"""Event-stream batch analytics: sessionization, funnels, cohort
retention — the batch twins of the Structured Streaming session
windows (`streaming/events.py:177`), with identical gap semantics, so
the same questions answer consistently whether asked of the live
stream or the history table.

Every operator here is user-keyed: one shuffle on user_id, windows
partitioned BY USER (150 users at test scale, millions in production —
hash-balanced, never a global window), aggregates map-side combinable.
Money/value sums follow the exact-decimal `dsum` convention so results
are partition-order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tables import pin, pins_of

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
O_TS = "strftime({col}, '%Y-%m-%d %H:%M:%S.%f')"

SESSION_GAP_MIN = 30


def sessionize(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessions: a session breaks when a user is idle longer
    than ``gap_min`` minutes (same rule as the streaming
    ``session_windows`` operator). Output one row per session:
    (user_id, session_id 1-based in ts order, n_events, started, ended,
    total_value).

    Shape: two stacked windows over the SAME user partition (lag to
    flag session starts, running sum to number them) — one shuffle on
    user_id total, then the per-session aggregate reuses that
    partitioning."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores TIMESTAMP_NTZ; the UTC session makes the ntz->tz
    # cast instant-preserving, and flooring micros to seconds matches
    # the oracle's floor(epoch(ts))
    secs = F.floor(
        F.expr("unix_micros(cast(ts as timestamp))") / F.lit(1_000_000)
    )
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(
        gap.isNull() | (gap > gap_min * 60), F.lit(1)
    ).otherwise(F.lit(0))
    # materialize is_new before the running sum: nesting the lag()
    # window inside the sum() window in one expression is an
    # analyzer-dependent shape across Spark releases; two stacked
    # window projections over the same partition spec plan to the same
    # single-exchange physical shape
    numbered = events.withColumn("__is_new", is_new).withColumn(
        "session_id",
        F.sum("__is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    ).drop("__is_new")
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT).alias("started"),
        F.date_format(F.max("ts"), TS_FMT).alias("ended"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


def o_sessionize(gap_min: int = SESSION_GAP_MIN, source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`sessionize`. The gap compares
    epoch seconds (Spark's long cast truncates sub-second micros), so
    the oracle uses epoch() the same way."""
    return f"""
    WITH numbered AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS INT) AS session_id
      FROM (
        SELECT *, CASE WHEN prev IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(prev)) AS BIGINT)
                          > {gap_min * 60}
                  THEN 1 ELSE 0 END AS is_new
        FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
              FROM {source_sql})
      )
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           {O_TS.format(col='MIN(ts)')} AS started,
           {O_TS.format(col='MAX(ts)')} AS ended,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, session_id
    """


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS) -> DataFrame:
    """Ordered funnel per user: the earliest occurrence of step k that
    happens strictly AFTER the user's matched step k-1 (classic
    first-touch funnel). Output: (user_id, first_<step>... as
    timestamp strings, stage = number of steps completed).

    Shape: one conditional aggregate per step, chained — each pass is a
    user-keyed groupBy of the (already user-partitioned) event frame
    joined back against the bounded per-user frontier; at production
    scale the frontier frame is |users| rows, orders of magnitude under
    the event count, and every join is user-keyed equi."""
    cur = None  # per-user frontier: user_id, matched ts of last step
    out_cols = []
    # persisted: each funnel step filters this same projection, so the
    # events source is scanned once, not once per step
    ev = events.select("user_id", "event_type", "ts").persist()
    for i, step in enumerate(steps):
        if cur is None:
            cur = (
                ev.where(F.col("event_type") == step)
                .groupBy("user_id")
                .agg(F.min("ts").alias(f"__t{i}"))
            )
        else:
            nxt = (
                ev.where(F.col("event_type") == step)
                .join(cur.select("user_id", f"__t{i-1}"), "user_id")
                .where(F.col("ts") > F.col(f"__t{i-1}"))
                .groupBy("user_id")
                .agg(F.min("ts").alias(f"__t{i}"))
            )
            cur = cur.join(nxt, "user_id", "left")
        out_cols.append(f"__t{i}")
    stage = sum(
        (F.col(c).isNotNull()).cast("int") for c in out_cols
    )
    out = cur.select(
        "user_id",
        *[
            F.date_format(F.col(f"__t{i}"), TS_FMT).alias(f"first_{s}")
            for i, s in enumerate(steps)
        ],
        stage.alias("stage"),
    )
    return pin(out, ev)


def o_funnel(steps: tuple[str, ...] = FUNNEL_STEPS, source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`funnel`."""
    ctes = []
    for i, step in enumerate(steps):
        if i == 0:
            ctes.append(
                f"f0 AS (SELECT user_id, MIN(ts) AS t0 FROM {source_sql} "
                f"WHERE event_type = '{step}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"n{i} AS (SELECT e.user_id, MIN(e.ts) AS t{i} "
                f"FROM {source_sql} e JOIN f{i-1} USING (user_id) "
                f"WHERE e.event_type = '{step}' AND e.ts > f{i-1}.t{i-1} "
                f"GROUP BY e.user_id),\n"
                f"f{i} AS (SELECT f{i-1}.*, n{i}.t{i} "
                f"FROM f{i-1} LEFT JOIN n{i} USING (user_id))"
            )
    last = f"f{len(steps) - 1}"
    sel = ", ".join(
        O_TS.format(col=f"t{i}") + f" AS first_{s}" for i, s in enumerate(steps)
    )
    stage = " + ".join(
        f"CASE WHEN t{i} IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(len(steps))
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT user_id, {sel}, CAST({stage} AS INT) AS stage FROM {last}"
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users cohorted by the ISO week of their
    first event; one row per (cohort_week, week_offset) with the count
    of cohort members active in that week. The standard retention
    triangle.

    Shape: first-seen is a user-keyed aggregate; activity weeks are a
    distinct projection; the triangle is a join on user_id (bounded
    per-user dim) plus one count aggregate — no windows at all."""
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_ts")
    )
    active = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week_ts")
    ).distinct()
    joined = active.join(first_seen, "user_id")
    return (
        joined.groupBy(
            F.date_format("cohort_ts", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week_ts"), F.col("cohort_ts")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def o_cohort_retention(source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`cohort_retention`."""
    return f"""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_ts
      FROM {source_sql} GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week_ts
      FROM {source_sql}
    )
    SELECT strftime(cohort_ts, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_ts, week_ts) / 7 AS INT) AS week_offset,
           COUNT(*) AS n_users
    FROM active JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """


RESAMPLE_BUCKET_S = 6 * 3600


def resample_counts(
    events: DataFrame, bucket_s: int = RESAMPLE_BUCKET_S
) -> DataFrame:
    """Gap-filled resampling: fixed buckets from the first to the last
    event, EVERY (bucket, event_type) cell present with zero-fill — the
    dense time axis monitoring/charting needs (a missing bucket is a
    signal, not an absence of rows).

    Shape: bucket id is integer arithmetic on epoch seconds (one
    projection); the dense grid is generated from a 1-row bounds
    aggregate via sequence+explode (O(#buckets) rows), cross-joined
    with the bounded event-type dim (broadcast); the observed counts
    left-join the grid. Zero driver-side iteration; the grid is data,
    not a loop."""
    ev = events.select(
        (
            F.floor(
                F.expr("unix_micros(cast(ts as timestamp))")
                / F.lit(1_000_000)
                / F.lit(bucket_s)
            )
        ).cast("long").alias("b"),
        "event_type",
        "value",
    )
    # ONE corpus-scale aggregate; bounds and the type dim derive from
    # the (bucket x type)-sized agg frame, so events is scanned once
    agg = ev.groupBy("b", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    ).persist()
    bounds = agg.agg(F.min("b").alias("b0"), F.max("b").alias("b1"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("b")
    )
    types = agg.select("event_type").distinct()
    full = grid.join(F.broadcast(types))
    out = full.join(agg, ["b", "event_type"], "left").select(
        F.date_format(
            F.timestamp_seconds(F.col("b") * bucket_s), "yyyy-MM-dd HH:mm:ss"
        ).alias("bucket"),
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )
    return pin(out, agg)


def o_resample_counts(
    bucket_s: int = RESAMPLE_BUCKET_S, source_sql: str = "events"
) -> str:
    """DuckDB oracle twin of :func:`resample_counts`."""
    return f"""
    WITH rsev AS (
      SELECT CAST(floor(epoch(ts) / {bucket_s}) AS BIGINT) AS b,
             event_type, value
      FROM {source_sql}
    ),
    rsagg AS (
      SELECT b, event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM rsev GROUP BY 1, 2
    ),
    rsbounds AS (SELECT MIN(b) AS b0, MAX(b) AS b1 FROM rsev),
    rsgrid AS (SELECT unnest(range(b0, b1 + 1)) AS b FROM rsbounds),
    rstypes AS (SELECT DISTINCT event_type FROM rsev)
    SELECT strftime(make_timestamp(g.b * {bucket_s} * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS bucket,
           t.event_type,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.total_value, 0.0) AS total_value
    FROM rsgrid g CROSS JOIN rstypes t
    LEFT JOIN rsagg a ON a.b = g.b AND a.event_type = t.event_type
    """


ZSCORE_TRAIL = 8   # trailing buckets in the baseline window
ZSCORE_SIGMA = 2.0


def anomaly_zscore(
    events: DataFrame,
    bucket_s: int = RESAMPLE_BUCKET_S,
    trail: int = ZSCORE_TRAIL,
    sigma: float = ZSCORE_SIGMA,
) -> DataFrame:
    """Rolling z-score anomaly detection over the gap-filled per-type
    count series: each bucket's count compares against the mean/stddev
    of the ``trail`` buckets strictly before it; |z| > ``sigma`` flags.
    The dense grid matters — a silent outage bucket (count 0) must be
    scorable, which is exactly what the zero-fill provides.

    Determinism: sum and sum-of-squares accumulate over exact integer
    counts (order-free), mean/variance derive from them in identical
    IEEE expressions, and the z-score is pround(·, 6) on both engines
    (population variance; sqrt is evaluated by the same libm for both
    engines on one host and the result is rounded). Windows partition
    BY EVENT TYPE over the bounded bucket axis — parallelism = #types,
    each partition is #buckets long, never corpus-sized."""
    from ..numeric import pround

    dense = resample_counts(events, bucket_s=bucket_s)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-trail, -1)
    )
    n = F.count("n_events").over(w)
    s1 = F.sum("n_events").over(w)
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    mean = s1.cast("double") / n
    var = (s2.cast("double") - s1.cast("double") * s1 / n) / n
    z = F.when(
        (n == trail) & (var > 0),
        pround(
            (F.col("n_events") - mean) / F.sqrt(var),
            6,
        ),
    )
    out = dense.select(
        "bucket",
        "event_type",
        "n_events",
        z.alias("zscore"),
        F.coalesce(F.abs(z) > sigma, F.lit(False)).alias("anomaly"),
    )
    return pin(out, *pins_of(dense))


def o_anomaly_zscore(
    bucket_s: int = RESAMPLE_BUCKET_S,
    trail: int = ZSCORE_TRAIL,
    sigma: float = ZSCORE_SIGMA,
    source_sql: str = "events",
) -> str:
    """DuckDB oracle twin of :func:`anomaly_zscore`."""
    from ..numeric import o_pround

    dense = o_resample_counts(bucket_s=bucket_s, source_sql=source_sql)
    zexpr = o_pround(
        "(n_events - CAST(s1 AS DOUBLE) / n)"
        " / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n)",
        6,
    )
    return f"""
    WITH dense AS ({dense}),
    stats AS (
      SELECT bucket, event_type, n_events,
             COUNT(n_events) OVER w AS n,
             SUM(n_events) OVER w AS s1,
             SUM(n_events * n_events) OVER w AS s2
      FROM dense
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN {trail} PRECEDING AND 1 PRECEDING)
    ),
    zed AS (
      SELECT bucket, event_type, n_events,
             CASE WHEN n = {trail}
                   AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n > 0
                  THEN {zexpr} END AS zscore
      FROM stats
    )
    SELECT bucket, event_type, n_events, zscore,
           COALESCE(ABS(zscore) > {sigma!r}, FALSE) AS anomaly
    FROM zed"""


ATTRIBUTION_HORIZON_MIN = 60


def attribution_first_touch(
    events: DataFrame, horizon_min: int = ATTRIBUTION_HORIZON_MIN
) -> DataFrame:
    """Batch twin of the streaming stream-stream attribution join
    (`streaming/events.py:purchase_attribution`), plus FIRST-TOUCH
    credit: each purchase attributes to the same user's EARLIEST click
    in the preceding ``horizon_min`` minutes (ties to the lowest
    click_id); purchases with no click in the window are kept
    unattributed (click columns NULL) so the output is the complete
    revenue-attribution decision.

    Scale shape: the join stays USER-KEYED EQUI with a bounded
    time-range predicate — the very condition that bounds the
    streaming join's state is the pruning predicate here; never a
    cartesian. First-touch is one min(struct(click_ts, click_id))
    aggregate per purchase — no window, map-side combinable, and the
    left join guarantees a group never mixes matched and NULL rows."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    j = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
        "left",
    )
    first = j.groupBy("purchase_id", "user_id", "purchase_ts", "amount").agg(
        F.min(F.struct("click_ts", "click_id")).alias("fc")
    )
    return first.select(
        "purchase_id",
        "user_id",
        F.date_format("purchase_ts", TS_FMT).alias("purchase_ts"),
        F.col("fc.click_id").alias("click_id"),
        F.date_format("fc.click_ts", TS_FMT).alias("click_ts"),
        "amount",
        F.col("fc.click_ts").isNotNull().alias("attributed"),
    )


def o_attribution_first_touch(
    horizon_min: int = ATTRIBUTION_HORIZON_MIN, source_sql: str = "events"
) -> str:
    """DuckDB oracle twin of :func:`attribution_first_touch`."""
    p_ts = O_TS.format(col="purchase_ts")
    c_ts = O_TS.format(col="click_ts")
    return f"""
    WITH ac AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM {source_sql} WHERE event_type = 'click'
    ),
    ap AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
             value AS amount
      FROM {source_sql} WHERE event_type = 'purchase'
    ),
    aj AS (
      SELECT ap.purchase_id, ap.user_id, ap.purchase_ts, ap.amount,
             ac.click_id, ac.click_ts,
             ROW_NUMBER() OVER (PARTITION BY ap.purchase_id
                                ORDER BY ac.click_ts, ac.click_id) AS rn
      FROM ap LEFT JOIN ac
        ON ac.user_id = ap.user_id
       AND ac.click_ts <= ap.purchase_ts
       AND ac.click_ts >= ap.purchase_ts - INTERVAL {horizon_min} MINUTE
    )
    SELECT purchase_id, user_id, {p_ts} AS purchase_ts, click_id,
           {c_ts} AS click_ts, amount, click_ts IS NOT NULL AS attributed
    FROM aj WHERE rn = 1"""


def transitions(events: DataFrame) -> DataFrame:
    """Markov transition counts over each user's event sequence: one
    row per (from_type, to_type) with the global count of adjacent
    occurrences — the path-analysis primitive (what do users do right
    after a view? where do errors lead?).

    Shape: one lag() over the user_id partition (the same single
    exchange every operator here shares), then a map-side-combinable
    count on the bounded (type x type) key space — output is at most
    |event_types|^2 rows regardless of corpus size."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )


def o_transitions(source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`transitions`."""
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type
      FROM {source_sql}
    )
    SELECT from_type, event_type AS to_type, COUNT(*) AS n_transitions
    FROM seq WHERE from_type IS NOT NULL
    GROUP BY from_type, event_type"""


def paths_topk(events: DataFrame, length: int = 3, k: int = 10) -> DataFrame:
    """Top-``k`` most frequent length-``length`` event-type paths over
    user sequences — the k-step extension of :func:`transitions`
    (reference precedent: the funnel/transition pair), answering "what
    are the dominant 3-step journeys?".

    Shape: ``length - 1`` lags over the SAME single user-keyed window
    exchange every operator here shares (one shuffle, not one per
    step), then a map-side-combinable count on the bounded
    |event_types|^length key space, and a TakeOrdered cut of that tiny
    counts frame — the global rank touches at most |types|^length
    rows, never the corpus. Ties break on the path steps ascending, so
    the cut is deterministic."""
    if length < 1:
        raise ValueError(f"path length must be >= 1, got {length}")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step_cols = [
        F.lag("event_type", length - 1 - i).over(w).alias(f"step{i + 1}")
        for i in range(length)
    ]
    names = [f"step{i + 1}" for i in range(length)]
    # step1 carries the LARGEST lag: it being non-null implies every
    # closer lag in the same partition is too
    counts = (
        events.select(*step_cols)
        .where(F.col("step1").isNotNull())
        .groupBy(*names)
        .agg(F.count("*").alias("n_paths"))
    )
    order = [F.desc("n_paths")] + [F.asc(n) for n in names]
    return (
        counts.orderBy(*order)
        .limit(k)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("int")
        )
    )


def o_paths_topk(
    length: int = 3, k: int = 10, source_sql: str = "events"
) -> str:
    """DuckDB oracle twin of :func:`paths_topk` (same ``length >= 1``
    guard; the select list is built jointly so the degenerate
    length=1 card — plain event counts — still renders valid SQL)."""
    if length < 1:
        raise ValueError(f"path length must be >= 1, got {length}")
    sel = ",\n             ".join(
        [
            f"lag(event_type, {length - 1 - i}) OVER w AS step{i + 1}"
            for i in range(length - 1)
        ]
        + [f"event_type AS step{length}"]
    )
    names = ", ".join(f"step{i + 1}" for i in range(length))
    return f"""
    WITH seq AS (
      SELECT {sel}
      FROM {source_sql}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pc AS (
      SELECT {names}, COUNT(*) AS n_paths FROM seq
      WHERE step1 IS NOT NULL GROUP BY {names}
    )
    SELECT {names}, n_paths,
           CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC, {names}) AS INT)
             AS rank
    FROM pc ORDER BY n_paths DESC, {names} LIMIT {k}"""


def active_users(events: DataFrame) -> DataFrame:
    """DAU / WAU / stickiness per active day: distinct users that day,
    distinct users over the trailing 7 days, and their ratio (the
    product-health number). Only days with at least one event appear
    (dau >= 1 by construction).

    Shape: the corpus collapses FIRST to distinct (user, day) — the
    only corpus-scale shuffle; WAU then derives from that bounded
    frame by exploding each user-day to the <= 7 future days it keeps
    the user active for (a projection, no self-join), and both counts
    are distinct-aggregates on |users x days| rows, never raw events."""
    from ..numeric import pround

    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            pround(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


def o_active_users(source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`active_users`."""
    from ..numeric import o_pround

    stick = o_pround("CAST(dau AS DOUBLE) / wau", 6)
    return f"""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM {source_sql}),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day),
    contrib AS (
      SELECT user_id, day + CAST(x.o AS INTEGER) AS day
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) x
    ),
    wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY day)
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           {stick} AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day"""


def volume_counts(events: DataFrame) -> DataFrame:
    """The ADDITIVE half of :func:`volume_card`: per-type event / value
    counts plus the value mass in exact integer CENTS (each value
    HALF_UP-rounded to 2 dp via the module's DECIMAL(18,2) convention,
    then scaled — integers merge across micro-batches with no
    summation-order dependence, which is what lets the bigint-only
    additive-card fold maintain a money total).

    ACCOUNTABLE values only: NaN and |value| >= 1e15 are excluded from
    BOTH ``n_value`` and the cents mass (one policy, so the two can
    never disagree about what was summed) — under ANSI mode an
    unguarded DECIMAL(18,2) cast of an out-of-range double would crash
    the job, and a crash inside the streaming twin's foreachBatch
    poisons the replay permanently (the same batch re-delivers and
    crashes on every restart)."""
    v = F.col("value")
    sane = v.isNotNull() & ~F.isnan(v) & (F.abs(v) < F.lit(1.0e15))
    sv = F.when(sane, v)
    cents = (sv.cast("decimal(18,2)") * 100).cast("bigint")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(sv).alias("n_value"),
        F.coalesce(F.sum(cents), F.lit(0)).cast("bigint").alias("value_cents"),
    )


def finish_volume_card(counts: DataFrame) -> DataFrame:
    """The presentation half of :func:`volume_card`: the cents back to
    a double total over an already-bounded per-type frame."""
    return counts.select(
        "event_type",
        "n_events",
        "n_value",
        (F.col("value_cents").cast("double") / 100).alias("total_value"),
    )


def volume_card(events: DataFrame) -> DataFrame:
    """Per-event-type volume card: event count, non-NULL value count
    and the exact-decimal value total — the ops-dashboard rollup that
    says what the event stream is made of, maintained incrementally by
    `streaming.ingest.events_volume_stream` (the additive-card
    machinery applied to a non-documents table: the delta is typed
    integer counts, so the same `_fold` merges it).

    Scale shape: ONE map-side-combinable aggregate on the bounded
    event-type key. No join, no window, no Python."""
    return finish_volume_card(volume_counts(events))


def o_volume_card(source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`volume_card`: the same per-element
    DECIMAL(18,2) rounding, integer cents sum, and one double division
    on the output edge."""
    return f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(sv) AS n_value,
           CAST(COALESCE(SUM(CAST(CAST(sv AS DECIMAL(18,2)) * 100
                                  AS BIGINT)), 0) AS DOUBLE) / 100
             AS total_value
    FROM (SELECT event_type,
                 CASE WHEN value IS NOT NULL AND NOT isnan(value)
                           AND abs(value) < 1e15 THEN value END AS sv
          FROM {source_sql})
    GROUP BY event_type"""


def interarrival_card(events: DataFrame) -> DataFrame:
    """Per-event-type inter-arrival card: gap statistics between
    consecutive events of the SAME type for the SAME user — mean and
    max gap plus the Fano factor (gap variance over gap mean), the
    burstiness read an ops review wants next to `volume_card`: Fano
    ~1 is Poisson-like traffic, >>1 is bursty (sessions, batch
    replays, retry storms), <<1 is metronome traffic (schedulers,
    heartbeats) — each implies a different capacity/alerting posture
    and `anomaly_zscore` window choice.

    Numeric determinism: gaps are exact INTEGER seconds (the
    `sessionize` epoch-floor convention); per-type Σg is a bigint,
    Σg² an exact DECIMAL(38,0) (order-free); mean and Fano are then
    single identically-shaped double expressions on those exact
    integers (Fano = (nΣg² − (Σg)²)/(nΣg) — variance/mean without a
    subtraction-per-row), prounded to 6. The decimal→double edge is
    bit-identical while the sums sit under 2^53 — astronomically true
    for second-granularity gaps at test SFs. A type's first event per
    user has no gap (NULL, not 0); a type with no gaps reports NULL
    mean/max/Fano; an all-zero-gap type (same-second events) reports
    mean 0 and NULL Fano (0/0). NULL event_type keeps its audit row.

    Scale shape: ONE window (lag) over the (user_id, event_type)
    partition — the `sessionize` shuffle family, hash-balanced across
    users, never a global window — then ONE map-side-combinable
    aggregate on the bounded event-type key. No join, no Python."""
    return finish_interarrival_card(interarrival_group_stats(events))


def interarrival_group_stats(events: DataFrame) -> DataFrame:
    """The per-(user, type) half of :func:`interarrival_card`: event
    and gap counts, exact gap sums (Σg bigint, Σg² DECIMAL(38,0)) and
    the max gap — THE state shape `streaming.events.
    interarrival_stream` maintains incrementally, so the live stream
    and the batch card share one presentation (`finish_interarrival_
    card`) and provably converge."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    secs = F.floor(
        F.expr("unix_micros(cast(ts as timestamp))") / F.lit(1_000_000)
    )
    d = events.select(
        "user_id", "event_type", (secs - F.lag(secs).over(w)).alias("g")
    )
    d19 = "decimal(19,0)"
    return d.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("g").alias("n_gaps"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g").cast(d19) * F.col("g").cast(d19)).alias("sg2"),
        F.max("g").cast("bigint").alias("max_gap_s"),
    )


def finish_interarrival_card(groups: DataFrame) -> DataFrame:
    """Presentation half of :func:`interarrival_card` over per-(user,
    type) gap-sum rows — a batch aggregate or the stateful stream's
    latest state. Integer partial sums re-aggregate associatively, so
    the two-level rollup equals the direct per-type aggregate."""
    from ..numeric import pround

    agg = groups.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("n_gaps").cast("bigint").alias("n_gaps"),
        F.sum("sg").cast("bigint").alias("__sg"),
        F.sum(F.col("sg2").cast("decimal(38,0)")).alias("__sg2"),
        F.max("max_gap_s").cast("bigint").alias("max_gap_s"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "event_type",
        "n_events",
        "n_gaps",
        F.when(
            F.col("n_gaps") > 0, pround(dd("__sg") / dd("n_gaps"), 6)
        ).alias("mean_gap_s"),
        "max_gap_s",
        F.when(
            F.col("__sg") > 0,
            pround(
                (dd("n_gaps") * dd("__sg2") - dd("__sg") * dd("__sg"))
                / (dd("n_gaps") * dd("__sg")),
                6,
            ),
        ).alias("fano_gap"),
    )


def o_interarrival_card(source_sql: str = "events") -> str:
    """DuckDB oracle twin of :func:`interarrival_card`: the same
    epoch-floor integer gaps, HUGEINT/DECIMAL exact sums CAST out, and
    identically-shaped double expressions for mean and Fano."""
    from ..numeric import o_pround

    return f"""
    WITH iap AS (
      SELECT event_type, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev
      FROM {source_sql}
    ),
    iag AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(prev)) AS BIGINT) AS g
      FROM iap
    ),
    iaa AS (
      SELECT event_type,
             COUNT(*) AS n_events,
             COUNT(g) AS n_gaps,
             CAST(SUM(g) AS BIGINT) AS sg,
             SUM(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
               AS sg2,
             CAST(MAX(g) AS BIGINT) AS max_gap_s
      FROM iag GROUP BY event_type
    )
    SELECT event_type, n_events, n_gaps,
           CASE WHEN n_gaps > 0 THEN
             {o_pround("CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)", 6)}
           END AS mean_gap_s,
           max_gap_s,
           CASE WHEN sg > 0 THEN
             {o_pround("(CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)"
                       " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))"
                       " / (CAST(n_gaps AS DOUBLE) * CAST(sg AS DOUBLE))",
                       6)}
           END AS fano_gap
    FROM iaa"""
