"""Table catalog over the driver's parquet testdata.

The reference reads fixed-schema PostgreSQL tables through the ORM
(SURVEY.md §1.1); here every table is a parquet-backed DataFrame whose
schema is carried by the files themselves (parquet is self-describing;
no runtime inference happens). ``load`` is the single scan entry point
so that row-level-security injection (branch RLS, reference
`branch_accounting/models/account_reports.py:32-56`) and mandatory
filters have one choke point, like the reference's `_query_get`
(`account_reports/models/account_report.py:1486-1501`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_DIMS = {"region", "nation", "supplier"}


# Lazy base frames are immutable — callers only ever derive from them —
# so rebuilding one per catalog call is pure driver/py4j waste (a report
# suite touches the same table hundreds of times). Keyed by session so a
# fresh session (new driver run) never sees another's frames.
_FRAME_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Filters/projections applied by callers are pushed
    down into the parquet scan by Catalyst (S1). The returned DataFrame
    is a shared immutable lazy frame — memoized per (session, dir,
    table)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark, sf_dir, name)
    cached = _FRAME_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for. The conf is runtime-settable, and the driver supplies its
        # own SparkSession (without our session.py builder confs), so it must
        # be set here — at the single scan choke point — not in the factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as raw int64 (see session.py); truncate to
        # micros exactly like DuckDB does when it surfaces TIMESTAMP.
        from pyspark.sql import functions as F

        # integer DIV: ts exceeds double precision, float division drifts
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    _FRAME_CACHE[key] = df
    return df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order) as a frame over
    a ``LocalRelation`` — the one way this package turns Python values
    into a DataFrame. ``spark.createDataFrame(<list>)`` plans a Python
    RDD, so every action on it starts a Python-worker job (about 120 ms
    for 20 rows); an Arrow table becomes a ``LocalRelation`` that the
    driver answers without a job and that Catalyst can fold. ``schema``
    is a DDL string or a StructType; the rows, types and nullability
    are those ``createDataFrame(rows, schema)`` gives."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def respread_narrow(
    df: DataFrame, key_cols: tuple[str, ...] = (), exact_keys: bool = False
) -> DataFrame:
    """Parallelism guard for compute-heavy projections/joins: a small
    table arrives as 1-2 file splits, and narrow transformations (and
    broadcast-join outputs, which inherit the stream side's
    partitioning) then run on one core no matter how wide the cluster
    is. Respread to defaultParallelism when the scan is narrower than
    the cluster; at real corpus scale the scan already has >=
    parallelism splits and this adds NO shuffle. Use only in front of
    genuinely expensive per-row work — for cheap projections the
    round-robin exchange costs more than it saves.

    ``key_cols``: optional columns for a DETERMINISTIC hash spread —
    ``pmod(xxhash64(keys), 50 * parallelism)`` (the guide's synthetic-
    key recipe: retry-safe, and 50x more key values than partitions so
    the hash spreads evenly). A keyed spread skips the local
    sort-before-repartition that round-robin pays for retry
    determinism (SPARK-23207) — measured −25% on a1's 600k-row spread
    — so prefer it when high-cardinality columns are already in the
    projection (keys OUTSIDE it would widen the scan and the
    exchange).

    ``exact_keys=True``: repartition on the key COLUMNS themselves
    (hashpartitioning on exactly those expressions) instead of the
    synthetic pmod key. Use when a downstream groupBy/window uses the
    same keys: its clustering requirement is then already satisfied and
    Catalyst elides that operator's own exchange, so the shuffle count
    does not grow — the one shuffle just moves below the aggregate
    (m4_serial_rebuild, −6/−10%). Requires enough distinct key tuples
    to spread evenly (near-distinct grouping keys qualify)."""
    from pyspark.sql import functions as F

    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        if key_cols and exact_keys:
            return df.repartition(p, *[F.col(k) for k in key_cols])
        if key_cols:
            return df.repartition(
                p, F.pmod(F.xxhash64(*key_cols), F.lit(50 * p))
            )
        return df.repartition(p)
    return df


def register_views(spark: SparkSession, sf_dir: str, rls_filter=None) -> None:
    """Register every table as a temp view for the SQL API.

    ``rls_filter``: optional ``{table: Column}`` of mandatory predicates —
    the Spark analog of the reference's branch row-level security, where
    `branch_id IN (...)` is injected into every query (F4).
    """
    for t in TABLES:
        df = load(spark, sf_dir, t)
        if rls_filter and t in rls_filter:
            df = df.where(rls_filter[t])
        df.createOrReplaceTempView(t)


# Persisted-frame lifecycle. A builder that persists a frame its
# returned plan still reads attaches it with ``pin``; the consumer
# releases it with ``release_pinned`` after the terminal action. A
# cached relation stays in the session's CacheManager until someone
# unpersists it — dropping the Python wrapper does not free it — so a
# long-lived session that never calls ``clearCache()`` must release
# every result it runs.


def pins_of(df) -> tuple:
    """The persisted frames attached to ``df`` (empty when none), for a
    caller that wraps an operator's result and passes its pins on:
    ``pin(out, normed, *pins_of(cand))``."""
    return getattr(df, "_pinned_persisted", ())


def pin(out, *frames: DataFrame):
    """Attach persisted ``frames`` to ``out`` (added to any it already
    carries) and return ``out``. Transformations return new frames
    without pins, so a builder pins to the frame it returns."""
    out._pinned_persisted = pins_of(out) + frames
    return out


def release_pinned(df) -> None:
    """Unpersist the frames attached to ``df`` and detach them. One-shot
    harnesses that ``clearCache()`` between queries never need this; a
    long-lived or multi-tenant session calls ``release_pinned(result)``
    after its terminal action to drop exactly this query's cache
    entries, not every tenant's. Safe on frames without pins and on
    frames already unpersisted."""
    for frame in pins_of(df):
        try:
            frame.unpersist()
        except Exception:
            pass
    df._pinned_persisted = ()


class _StoredRows:
    """The stored RDD behind a frozen frame, released like a persisted
    frame: ``localCheckpoint`` returns a frame over a ``LogicalRDD``
    that the CacheManager does not track, so ``DataFrame.unpersist``
    would leave it until the ContextCleaner runs."""

    def __init__(self, frozen: DataFrame):
        self._rdd = frozen._jdf.queryExecution().logical().rdd()

    def unpersist(self) -> None:
        self._rdd.unpersist(False)


class PinScope:
    """The frames one unit of work persists, released together when the
    ``with`` block exits, also on an exception — the lifecycle for
    one-shot callers such as a stream micro-batch:

        with PinScope() as scope:
            feats = scope.persist(features(batch))
            on_batch(batch_id, scope.adopt(match(feats)))
    """

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and register it for release."""
        df = df.persist()
        pin(self, df)
        return df

    def freeze(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` now, in one eager action, and return a frame
        over the stored rows, registered for release. Its lineage reads
        none of ``df``'s inputs, so a later write to a table ``df`` read
        cannot change it or make Spark compute it again (an append
        re-caches every cached plan that reads the appended path).
        Metrics ``df`` observes are collected by this action."""
        frozen = df.localCheckpoint(eager=True)
        pin(self, _StoredRows(frozen))
        return frozen

    def adopt(self, df: DataFrame) -> DataFrame:
        """Register ``df``'s pins for release; returns ``df``."""
        pin(self, *pins_of(df))
        return df

    def __enter__(self) -> "PinScope":
        return self

    def __exit__(self, *exc) -> None:
        release_pinned(self)
