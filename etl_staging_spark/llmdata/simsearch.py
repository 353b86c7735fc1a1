"""Similarity search over an embedding column (array<float>).

- ``cosine_topk`` — brute-force baseline: broadcast the (small) query
  set against all candidates; dot products via ``zip_with`` +
  ``aggregate`` entirely in the JVM. Exact; cost O(|Q| * N). The
  per-query top-k is TWO-PHASE (salted local heaps, then the global
  cut over S*k survivors), so no partition ever holds one query's
  full candidate list — output identical to the naive window.
- ``lsh_multitable_topk`` — the sign-LSH scale path: L tables of b
  deterministic hyperplane signs each; a query scores only candidates
  sharing one of its L bucket keys (keyed equi-joins, no cross join).
  ``lsh_bucketed_topk`` is its single-table case (one 8-bit bucket,
  recall ~0.1 on near-orthogonal embeddings — see ``N_TABLES``).
- ``ivf_topk`` — the other classic scale path: K deterministic coarse
  centroids (the first K vectors — reproducible, oracle-expressible)
  partition the corpus into inverted lists by nearest-centroid
  assignment; a query probes only its ``n_probe`` closest lists.
  Assignment is one pass (K broadcast dot products per vector).
- ``cosine_dup_pairs`` — embedding-cosine near-dup for the dedup
  family: banded sign-LSH candidate discovery (pairs sharing ANY band
  bucket — recall grows with bands exactly like MinHash banding), then
  exact-decimal cosine verification. Never all-pairs.

Numeric determinism: every dot product/norm is an exact DECIMAL(30,15)
sum of per-element double products, cast back to double — identical in
Spark and DuckDB regardless of summation order (registry.py
convention, applied element-wise).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from ..numeric import double_sql, pround
from ..tables import local_frame, pin, pins_of

from .hashing import hyperplanes

DEC = "decimal(30,15)"


def _vec_sql(vals) -> str:
    """SQL text of a literal double array, parsed as ONE expression
    instead of ``len(vals)`` per-element ``F.lit()`` py4j roundtrips
    (`numeric.double_sql`: the bit-identical double Literals, non-finite
    components included). Measured (r16): the centroid/codebook folds
    spent 2-4 s PER QUERY BUILD in py4j chatter at 8x64 centroid +
    32x16 codebook literals (``pq_ivf_topk``); one parse per array
    removes ~96% of the roundtrips."""
    return "array(" + ",".join(double_sql(v) for v in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`_dot` over two SQL array fragments — the
    bit-identical exact-decimal fold, built with zero py4j lambda
    construction (measured ~20 ms per ``zip_with``/``aggregate``
    lambda pair through py4j; a literal-centroid scorer builds dozens
    per query)."""
    return (
        f"CAST(aggregate(zip_with({a},{b},"
        "(x,y)->CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(30,15))),"
        "CAST(0 AS DECIMAL(30,15)),"
        "(acc,x)->CAST(acc+x AS DECIMAL(30,15))) AS DOUBLE)"
    )


def _dot(a: str, b: str) -> Column:
    """Exact-decimal dot product of two array<float> SQL fragments, as
    double."""
    return F.expr(_dot_sql(a, b))


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "nrm") -> DataFrame:
    v = f"`{vec_col}`"
    return df.withColumn(out, F.sqrt(_dot(v, v)))


def _has_cosine(normed: DataFrame) -> DataFrame:
    """The rows of a :func:`with_norm` frame that have a cosine: a zero
    (or NULL) vector has none, so it never verifies or ranks — filtered
    before the pair joins, it never reaches a division by its norm."""
    return normed.where(F.col("nrm") > 0)


# Parallelism guard for the scoring stages: a small corpus arrives as
# 1-2 file splits, and a broadcast join inherits the stream side's
# partitioning — so every per-pair decimal fold downstream runs on one
# core (measured: the whole `sim_cosine_topk` wall time was one
# single-threaded scoring task before this guard).
from ..tables import respread_narrow as _respread_narrow  # noqa: E402


def _narrow_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint of a NARROW (~16-20 bytes/row) frame, so
    the broadcast-centroid fold runs ONE scan instead of one per
    downstream pass (measured 2.5-2.6x at sf0.1; at 100 TB the gap is
    the corpus width) — with two deployment caveats the speedup buys:

    - localCheckpoint blocks live in EXECUTOR-LOCAL storage and are
      not fault-tolerant: on a real cluster, losing an executor (or a
      dynamic-allocation decommission) fails the job instead of
      recomputing lineage.
    - ``eager=True`` makes frame CONSTRUCTION side-effecting: the full
      assignment scan runs even if the caller never executes the
      result."""
    return df.localCheckpoint(eager=True)


def cosine_scored(
    emb: DataFrame,
    query_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normed: DataFrame | None = None,
) -> DataFrame:
    """The exact (qid, cid, cos_raw) frame — EVERY query x candidate
    pair scored by decimal-exact cosine. The shared base of the exact
    family: :func:`cosine_topk` is its two-phase top-k, and the ANN
    recall card persists ONE instance and derives the baseline top-k
    AND each ANN leg's top-k from it by candidate-pair semi-join, so
    the O(|Q| * N) scoring pass runs once instead of once per leg.

    ``normed``: an already-built (usually persisted) frame carrying
    ``nrm`` — r17's shared-pass contract, so a card that also needs
    LSH keys / IVF cells computes everything in one corpus
    projection."""
    if normed is None:
        normed = with_norm(_respread_narrow(emb), vec_col)
    normed = _has_cosine(normed)
    q = normed.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = normed.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        F.col("nrm").alias("cn"),
    )
    return (
        c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (_dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias(
                "cos_raw"
            ),
        )
    )


def cosine_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbours for every vector matching ``query_pred``.

    This is the exact BASELINE: the query side broadcasts (bounded by
    the predicate), the corpus side scores linearly, and the per-query
    top-k runs in TWO phases — a salted local top-k (window over
    (qid, cid % parallelism): each partition holds ~N/S candidates of
    one query) followed by the global top-k over the surviving S*k
    rows per query. The top-k of a union of partial top-ks IS the
    global top-k, so the output is identical to the naive single
    window while no partition ever holds a full query's N candidates —
    the skew that made few-query brute force collapse at corpus scale.
    Still O(|Q| * N) compute; the bucketed paths
    (:func:`lsh_multitable_topk` / :func:`ivf_topk`) bound the
    candidate set itself."""
    return _two_phase_topk(cosine_scored(emb, query_pred, id_col, vec_col), k)


def topk_from_scored(
    scored: DataFrame, k: int, by: tuple[str, ...] = ("qid",)
) -> DataFrame:
    """Public two-phase top-k over a prebuilt (*by, cid, cos_raw) frame
    — for callers (the ANN recall card) that share one scored frame
    across several top-k cuts."""
    return _two_phase_topk(scored, k, by=by)


def _two_phase_topk(
    scored: DataFrame, k: int, by: tuple[str, ...] = ("qid",)
) -> DataFrame:
    """Per-group top-k of a (*by, cid, cos_raw) frame without landing
    any group's full candidate list on one partition: salted local
    top-k (window over (*by, cid % parallelism), ~1/S of the group's
    candidates each) then the global cut over the surviving S*k rows.
    Top-k of unioned partial top-ks IS the global top-k — output
    identical to the naive window, skew removed. ``by`` defaults to
    per-query; the recall card passes ("method", "qid") to cut both
    ANN legs in one pipeline."""
    n_salt = scored.sparkSession.sparkContext.defaultParallelism
    salted = scored.withColumn("__salt", F.pmod(F.col("cid"), F.lit(n_salt)))
    w1 = W.partitionBy(*by, "__salt").orderBy(F.desc("cos_raw"), F.asc("cid"))
    local = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
    )
    w = W.partitionBy(*by).orderBy(F.desc("cos_raw"), F.asc("cid"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(*by, "cid", pround(F.col("cos_raw"), 6).alias("cosine"), F.col("rnk").alias("rank"))
    )


N_PLANES = 8


def lsh_bucketed_topk(
    emb: DataFrame,
    query_pred: Column,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: top-k by cosine *within the query's sign-LSH bucket* — the
    single-table case of :func:`lsh_multitable_topk` (one table of
    ``N_PLANES`` bits). NULL vectors are excluded: they have no bucket
    and no cosine."""
    return lsh_multitable_topk(
        emb.where(F.col(vec_col).isNotNull()), query_pred, dim, k,
        n_tables=1, bits=N_PLANES, id_col=id_col, vec_col=vec_col,
    )


# Production sign-LSH ANN: L independent hash tables of b planes each.
# A single b-bit table's recall is p^b (p = per-plane collision
# probability, 1 - angle/pi); L tables union their candidates, lifting
# recall to 1 - (1 - p^b)^L while candidate volume stays ~L * N / 2^b.
# Defaults MEASURED on the driver testdata (near-random 64-dim
# embeddings, true top-5 at cosine ~0.33 => p ~ 0.61): 16 tables x 4
# bits gives recall@5 0.86-0.94 across sf0.001/0.01/0.1, at or above
# the IVF baseline (0.8-0.9) on the same data — while the old single
# 8-bit bucket measured recall ~0.1 (near-orthogonal vectors almost
# never agree on all 8 signs). On a corpus with genuinely close
# neighbours (cosine ~0.9, p ~ 0.86) raise ``bits`` (e.g. 8x8: recall
# 1-(1-0.3)^8 ~ 0.94 at 1/32 the candidate volume) — the right (b, L)
# always comes from a measured recall card, not a guess.
N_TABLES = 16
BITS_PER_TABLE = 4


def _py_decimal_dot(ws: list[float], xs: list[float]) -> float:
    """Driver/worker-side replica of ``_dot``: per-element double
    product, DECIMAL(30,15) quantize (shortest-repr parse + HALF_UP,
    Java ``BigDecimal.valueOf`` semantics), exact decimal sum, back to
    double. The knife-edge source of :func:`_mt_keys_udf` and
    :func:`_ivf_cells_udf` — same convention as
    :func:`_py_decimal_norm`."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    # DECIMAL(30,15) carries 30 digits; the default 28-digit context
    # would raise on products >= 1e13 at scale 15
    ctx = Context(prec=64, rounding=ROUND_HALF_UP)
    q = Decimal(1).scaleb(-15)
    acc = Decimal(0)
    for w, x in zip(ws, xs):
        acc = ctx.add(acc, Decimal(repr(float(w) * float(x))).quantize(q, context=ctx))
    return float(acc)


def _mt_keys_udf(dim: int, n_tables: int = N_TABLES, bits: int = BITS_PER_TABLE):
    """Arrow-batched bucket-key kernel: embedding -> the ``n_tables``
    sign-LSH keys ('<table>|<sign bits>') in one numpy matmul per
    batch.

    WHY A PANDAS UDF: per row this is 64 dot products of a dim-64
    vector — a dense 64x64 matmul, the textbook Arrow-UDF case. Both
    JVM-side alternatives measured FAR slower at sf0.1: 4096 inlined
    plane literals cost ~8 s/call in codegen alone, and a broadcast-
    joined plane frame (posexplode + two hash aggregates) ~2 s in
    shuffle/stage overhead; the batched matmul runs in milliseconds.

    EXACTNESS: the double matmul decides each sign only outside the
    error envelope |dot| > 1e-12 * (mass+1), mass = sum |w*x|: the
    decimal path quantizes each product to scale 15 (<= 0.5e-15 per
    element) and double summation errs by <= (dim-1)*eps*mass, so the
    envelope bounds both at any vector magnitude (dim <= 2000) with a
    30x margin. Inside the envelope the sign comes from
    :func:`_py_decimal_dot`, the exact DECIMAL(30,15) convention every
    oracle mirrors. Output is therefore bit-identical to a decimal-only
    engine."""
    W = np.array(hyperplanes(n_tables * bits, dim), dtype=np.float64)
    absW = np.abs(W)

    @F.pandas_udf("array<string>")
    def keys(v: pd.Series) -> pd.Series:
        if v.isna().any():
            raise ValueError(
                "sign-LSH key kernel requires non-null embeddings; "
                "filter NULL vectors before lsh_multitable_*"
            )
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        D = X @ W.T
        M = np.abs(X) @ absW.T
        for r, p in zip(*np.where(np.abs(D) <= (M + 1.0) * 1e-12)):
            D[r, p] = _py_decimal_dot(W[p], X[r])
        S = D >= 0
        out = []
        for r in range(len(X)):
            out.append(
                [
                    f"{t}|" + "".join("1" if b else "0" for b in S[r, t * bits : (t + 1) * bits])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return keys


def _table_keys_frame(
    emb: DataFrame,
    query_pred: Column,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __is_q, bkt) — one row per vector per hash table, via the
    Arrow-batched key kernel (:func:`_mt_keys_udf`)."""
    keys = _mt_keys_udf(dim, n_tables, bits)
    return _respread_narrow(emb).select(
        F.col(id_col),
        query_pred.alias("__is_q"),
        F.explode(keys(F.col(vec_col))).alias("bkt"),
    )


def lsh_multitable_candidates(
    emb: DataFrame,
    query_pred: Column,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keyed: DataFrame | None = None,
) -> DataFrame:
    """Distinct (qid, cid) candidate pairs: a corpus vector is a
    candidate for a query iff they share ANY of the ``n_tables`` bucket
    keys. One pass computes all keys (:func:`_table_keys_frame`,
    persisted so the query and corpus branches reuse it); the equi-join
    on the key runs with the bounded query side broadcast — shuffles
    touch only skinny id/key rows, never vectors, and there is no
    all-pairs stage. Returns the pair frame with the keyed scan pinned
    to it (release after the downstream action).

    ``keyed``: a caller-supplied (id, __is_q, bkt) frame — usually an
    explode over a persisted fused projection that also carries norms
    (r17's shared-pass contract) — in which case no pass is added and
    no pin is taken here; the caller owns the cache."""
    own = keyed is None
    if own:
        keyed = _table_keys_frame(
            emb, query_pred, dim, n_tables, bits, id_col, vec_col
        ).persist()
    q = keyed.where("__is_q").select(F.col(id_col).alias("qid"), "bkt")
    c = keyed.select(F.col(id_col).alias("cid"), "bkt")
    out = (
        c.join(F.broadcast(q), "bkt")
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid")
        .distinct()
    )
    return pin(out, keyed) if own else out


def lsh_multitable_topk(
    emb: DataFrame,
    query_pred: Column,
    dim: int,
    k: int = 5,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table sign-LSH ANN: candidates from
    :func:`lsh_multitable_candidates` (union over L tables — the recall
    lever single-bucket LSH lacks, see the parameter note above), then
    exact-decimal cosine on the candidate pairs only and the two-phase
    per-query top-k. All joins are keyed equi-joins; the candidate
    frame stays skinny until the vectors attach at full parallelism.

    ONE fused corpus pass (r17, guide §2.4): the LSH keys and the
    exact-decimal norm are computed in the same persisted projection,
    so candidate discovery and the verify-side vectors share one
    corpus read — the r16 shape persisted a keys frame and a norms
    frame separately. Buckets, pairs and scores are expression-
    identical; only the pass count changes."""
    spark = emb.sparkSession
    keys_k = _mt_keys_udf(dim, n_tables, bits)
    normed = (
        with_norm(_respread_narrow(emb), vec_col)
        .withColumn("__is_q", query_pred)
        .withColumn("__keys", keys_k(F.col(vec_col)))
        .persist()
    )
    cand = lsh_multitable_candidates(
        emb, query_pred, dim, n_tables, bits, id_col, vec_col,
        keyed=normed.select(
            F.col(id_col), "__is_q", F.explode("__keys").alias("bkt")
        ),
    )
    scorable = _has_cosine(normed)
    q = scorable.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = scorable.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        cand.repartition(spark.sparkContext.defaultParallelism, "qid", "cid")
        .join(F.broadcast(q), "qid")
        .join(c, "cid")
        .withColumn(
            "cos_raw", _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
        )
    )
    return pin(_two_phase_topk(scored, k), normed, *pins_of(cand))


def _ivf_cells_udf(
    cent_arrs: dict[int, list[float]],
    cent_norms: dict[int, float] | None,
    probe: int,
):
    """Arrow-batched argmax kernel: vector -> the ``probe`` best centroid
    ids, ordered by (score DESC, centroid id ASC) — the one
    implementation of every cid-only decision (a dense matmul per batch
    beats per-centroid interpreted decimal folds and their
    literal-heavy plans; same Arrow-UDF rationale as
    :func:`_mt_keys_udf`). Two scores, each the exact rule an oracle
    mirrors:

    - ``cent_norms`` given — IVF cells: cosine, the double value
      -dot/(cn*vn) of :func:`_cell_scores_sql` (exact-decimal dot, vn
      the :func:`with_norm` decimal norm);
    - ``cent_norms=None`` — PQ codes: the raw exact-decimal dot of
      :func:`_pq_best_sql` (call it on the subvector slice).

    EXACTNESS: the double matmul ranks a row only when every adjacent
    margin among its top probe+1 candidates exceeds the two
    candidates' summed error envelopes, 1e-11*(Σ|x·y| + 1) each (the
    :func:`_mt_keys_udf` bound with another 10x slack; a cosine divides
    score and envelope by the same cn, and vn is a common positive
    factor of the row). A certified margin also excludes exact ties,
    so the ties-toward-lower-id rule holds. Any other row — ties,
    knife edges, a NULL element — recomputes every key with
    :func:`_py_decimal_dot` / :func:`_py_decimal_norm` and the same
    IEEE division the JVM performs, so the output is bit-identical to
    the exact expression.

    Degenerate rows are defined, not raised: a row with a NULL element
    scores NULL against every centroid in the exact expression, which
    sorts by id, so the kernel returns ascending ids; a vector whose
    decimal norm is 0 has no cosine (the exact expression divides by
    zero) and gets ascending ids too. A NULL vector raises — callers
    filter NULL vectors first."""
    cids = np.array(sorted(cent_arrs), dtype=np.int64)
    C = np.array([cent_arrs[int(i)] for i in cids], dtype=np.float64)
    absC = np.abs(C)
    cosine = cent_norms is not None
    ncs = np.array(
        [cent_norms[int(i)] for i in cids] if cosine else [1.0] * len(cids),
        dtype=np.float64,
    )
    # adjacent margins that decide the top-``probe`` list
    depth = min(probe, len(cids) - 1)

    def exact(x: np.ndarray) -> list[int]:
        if np.isnan(x).any():
            return [int(i) for i in cids[:probe]]
        nr = _py_decimal_norm(x) if cosine else 1.0
        if nr == 0.0:
            return [int(i) for i in cids[:probe]]
        keys = sorted(
            (-(_py_decimal_dot(C[j], x) / (float(ncs[j]) * nr)) if cosine
             else -_py_decimal_dot(C[j], x), int(cids[j]))
            for j in range(len(cids))
        )
        return [k[1] for k in keys[:probe]]

    @F.pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        if v.isna().any():
            raise ValueError(
                "argmax kernel requires non-null embeddings; "
                "filter NULL vectors before ivf_*/pq_* entry points"
            )
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        S = (X @ C.T) / ncs
        E = (np.abs(X) @ absC.T + 1.0) * 1e-11 / ncs
        order = np.lexsort((np.broadcast_to(cids, S.shape), -S), axis=1)
        s = np.take_along_axis(S, order, axis=1)
        e = np.take_along_axis(E, order, axis=1)
        ok = (
            (s[:, :depth] - s[:, 1:depth + 1]) > (e[:, :depth] + e[:, 1:depth + 1])
        ).all(axis=1)
        if cosine:
            # a decimal norm may be 0 only if every x_i^2 quantizes to 0
            ok &= (X * X).max(axis=1) >= 1e-15
        out = cids[order[:, :probe]].tolist()
        for r in np.flatnonzero(~ok):
            out[r] = exact(X[r])
        return pd.Series(out)

    return cells


def ivf_candidates(
    emb: DataFrame,
    query_pred: Column,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(qid, cid) candidate pairs of the IVF path: corpus vectors whose
    assigned cell is among the query's ``n_probe`` closest cells — the
    candidate half of :func:`ivf_topk`, factored out so the recall card
    can score candidates against a shared exact frame. A corpus vector
    has exactly one cell, so pairs are distinct by construction. One
    Arrow-batched kernel (:func:`_ivf_cells_udf`) computes each
    vector's ``n_probe`` probe cells; the corpus side keeps only the
    first (its assignment).

    ``assigned``: a caller-supplied frame carrying ``__is_q`` and the
    ``__cells`` probe array from the same Arrow kernel — usually a
    persisted fused projection shared with other legs (r17's
    shared-pass contract). No pass is added and no pin taken here; the
    caller owns the cache."""
    own = assigned is None
    if own:
        cent_arrs, cent_norms = _resolve_centroids(
            emb, centroids, n_centroids, id_col, vec_col
        )
        cells = _ivf_cells_udf(cent_arrs, cent_norms, n_probe)
        base = (
            _respread_narrow(emb)
            .select(
                F.col(id_col),
                query_pred.alias("__is_q"),
                cells(F.col(vec_col)).alias("__cells"),
            )
            .persist()
        )
    else:
        base = assigned
    q = base.where("__is_q").select(
        F.col(id_col).alias("qid"), F.explode("__cells").alias("cell")
    )
    c = base.select(F.col(id_col).alias("cid"), F.col("__cells")[0].alias("cell"))
    out = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid")
    )
    return pin(out, base) if own else out


def _verify_pairs(
    cands: DataFrame,
    normed: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    carry_left: tuple[str, ...] = (),
    normed_right: DataFrame | None = None,
) -> DataFrame:
    """Shared near-dup verification: candidate (d1, d2) pairs respread
    across the cluster (discovery joins land on few bucket/cell keys —
    the per-pair work must not inherit that parallelism), vectors
    attached by two keyed joins, then the two-stage verify — a
    plain-double cosine prefilter with 1e-6 slack (orders beyond the
    ~1e-12 double-vs-decimal gap) discards the non-dup mass at ~1/6 the
    decimal fold's cost, and the canonical exact-decimal cosine decides
    the edge on the survivors. Output identical to a decimal-only pass:
    rows (d1, d2, *carry_left, cos_raw >= threshold).

    ``normed_right`` supplies the d2 side from a DIFFERENT frame when
    the pair id spaces are disjoint (batch-vs-corpus): pointing it at a
    vec_id-bucketed corpus table keeps the corpus branch of the verify
    join exchange-free instead of unioning the corpus into both sides."""
    spark = normed.sparkSession
    cand = cands.repartition(spark.sparkContext.defaultParallelism, "d1", "d2")
    va = _has_cosine(normed).select(
        F.col(id_col).alias("d1"), F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"), *carry_left,
    )
    vb = _has_cosine(normed if normed_right is None else normed_right).select(
        F.col(id_col).alias("d2"), F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos_fast = _ddot("va", "vb") / (F.col("na") * F.col("nb"))
    cos_exact = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "d1")
        .join(vb, "d2")
        .where(cos_fast >= threshold - 1e-6)
        .withColumn("cos_raw", cos_exact)
        .where(F.col("cos_raw") >= threshold)
    )


def cosine_dup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand_filter: Column | None = None,
    d1_pred: Column | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (d1 < d2, cosine >= threshold).

    Discovery: the 8 sign-LSH planes split into ``bands`` bands; two
    vectors are candidates iff they share at least one band's bucket —
    per-bucket self-join, never all-pairs. Verification: exact decimal
    cosine over the candidate ids joined back to the vectors. The
    threshold is a parameter: production near-dup uses ~0.95; fixtures
    use where the synthetic data actually has signal. ``cand_filter``
    (predicate over d1/d2) prunes candidates BEFORE the verify — the
    sampled-QA path (see `semantic_dup_pairs`); ``d1_pred`` (over the
    original columns) restricts the SMALLER-id side BEFORE the bucket
    join — same result as a d1 cand_filter at 1/panel-fraction of the
    join volume, the shape a sampled recall card needs. With
    ``candidates_only`` the DISCOVERY output (distinct skinny id
    pairs, unverified) returns directly — a recall card that already
    holds the exact panel scores needs only the candidate sets, never
    a per-method re-verify. For the high-recall discovery config see
    :func:`mt_dup_pairs`."""
    # the 8 planes split into ``bands`` tables of the multi-table key
    # kernel (hyperplanes are prefix-stable, keys read "{band}|bits");
    # NULL vectors have no bucket and are excluded
    keys_k = _mt_keys_udf(dim, n_tables=bands, bits=N_PLANES // bands)
    normed = (
        with_norm(_respread_narrow(emb.where(F.col(vec_col).isNotNull())), vec_col)
        .withColumn("__keys", keys_k(F.col(vec_col)))
        .persist()
    )
    keyed = normed.select(
        F.col(id_col).alias("vid"), F.explode("__keys").alias("bkt")
    )
    x_src = keyed if d1_pred is None else normed.where(d1_pred).select(
        F.col(id_col).alias("vid"), F.explode("__keys").alias("bkt")
    )
    x, y = x_src.alias("x"), keyed.alias("y")
    # the bucket self-join lands on #buckets keys; respread the skinny
    # id pairs before the per-pair dot products so the verify stage
    # runs at full parallelism (see semantic_dup_pairs for the same
    # pattern and rationale)
    cands = (
        x.join(y, (F.col("x.bkt") == F.col("y.bkt")) & (F.col("x.vid") < F.col("y.vid")))
        .select(F.col("x.vid").alias("d1"), F.col("y.vid").alias("d2"))
    )
    if cand_filter is not None:
        cands = cands.where(cand_filter)
    cands = cands.distinct()
    if candidates_only:
        return pin(cands, normed)
    out = _verify_pairs(cands, normed, threshold, id_col, vec_col).select(
        "d1", "d2", pround(F.col("cos_raw"), 6).alias("cosine")
    )
    return pin(out, normed)


def mt_dup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand_filter: Column | None = None,
    d1_pred: Column | None = None,
) -> DataFrame:
    """Embedding near-dup pairs under MULTI-TABLE sign-LSH discovery
    (d1 < d2, cosine >= threshold) — the high-recall configuration:
    candidates share ANY of the ``n_tables`` x ``bits``-bit buckets, so
    a cos~0.35 pair collides with probability ~1-(1-p^bits)^n_tables
    (~0.9 at the defaults) where the 2-band split of 8 planes
    (`cosine_dup_pairs`) sits near ~0.27. The price is candidate
    volume: ~n_tables x (N^2 / 2^bits) bucket-pair work — choose this
    config when recall matters more than candidate cost (or prune with
    ``cand_filter`` / pre-join ``d1_pred`` for sampled QA — ``d1_pred``
    restricts the smaller-id side before the bucket join, cutting join
    volume by the panel fraction). Same bucketed equi-join + shared
    exact-decimal verify as every dup path; never all-pairs."""
    # ONE fused corpus pass (r17, guide §2.4): keys and the verify
    # side's norms come from the same persisted projection, so the
    # verify branch does not re-read the corpus
    keys_k = _mt_keys_udf(dim, n_tables, bits)
    base = (
        with_norm(_respread_narrow(emb), vec_col)
        .withColumn("__keys", keys_k(F.col(vec_col)))
        .persist()
    )
    keyed = base.select(F.col(id_col), F.explode("__keys").alias("bkt"))
    a_src = keyed.where(d1_pred) if d1_pred is not None else keyed
    a = a_src.select(F.col(id_col).alias("d1"), "bkt")
    b = keyed.select(F.col(id_col).alias("d2"), "bkt")
    cand = a.join(b, "bkt").where(F.col("d1") < F.col("d2")).select("d1", "d2")
    if cand_filter is not None:
        cand = cand.where(cand_filter)
    cand = cand.distinct()
    out = _verify_pairs(cand, base, threshold, id_col, vec_col).select(
        "d1", "d2", pround(F.col("cos_raw"), 6).alias("cosine")
    )
    return pin(out, base)


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    sample_mod: int = 1,
    max_sample: int = 4096,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Sampled spherical k-means for IVF coarse centroids — fully
    deterministic, no RNG anywhere:

    - sample  = ids with ``id % sample_mod == 0``, first ``max_sample``
      by id (mod-sampling is reproducible across partitionings, unlike
      ``DataFrame.sample`` whose seed is per-partition);
    - init    = ``n_centroids`` evenly spaced sample vectors in id
      order (spreads seeds across the corpus without randomness);
    - Lloyd   = a fixed ``n_iter`` rounds of assign-to-max-dot /
      renormalized-mean updates, driver-side numpy over the bounded
      sample (cost independent of corpus size — the 100 TB path trains
      on the same few thousand sampled rows).

    Returns plain ``list[list[float]]`` ready for ``ivf_topk``'s
    ``centroids=`` parameter."""
    import numpy as np

    rows = (
        emb.where(F.pmod(F.col(id_col), F.lit(sample_mod)) == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max_sample)
        .collect()
    )
    X = np.array([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    k = min(n_centroids, len(X))
    C = X[np.linspace(0, len(X) - 1, k).astype(int)].copy()
    for _ in range(n_iter):
        assign = (X @ C.T).argmax(axis=1)  # ties -> lowest centroid id
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        cn[cn == 0] = 1.0
        C = C / cn
    return [c.tolist() for c in C]


def _ddot(a: str, b: str) -> Column:
    """Plain-double dot product of two array SQL fragments — ~6x
    cheaper than the decimal fold (HOFs are interpreted; BigDecimal ops
    dominate `_dot`'s cost). NOT cross-engine canonical: use only as an
    internal PREFILTER with slack, never on an output edge."""
    return F.expr(
        f"aggregate(zip_with({a},{b},(x,y)->CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),"
        "0.0D,(acc,x)->acc+x)"
    )


def _py_decimal_norm(vec: list[float]) -> float:
    """Driver-side replica of ``sqrt(_dot(v, v))``: per-element double
    product cast to DECIMAL(30,15) (shortest-repr parse + HALF_UP to
    scale 15, Java ``BigDecimal.valueOf`` semantics), exact decimal
    sum, correctly-rounded double conversion and sqrt. Used for
    TRAINED centroid literals, where no oracle needs data-side parity."""
    return math.sqrt(_py_decimal_dot(vec, vec))


def _cell_scores_sql(
    cent_arrs: dict[int, list[float]],
    vexpr: str,
    cent_norms: dict[int, float] | None = None,
    nrm_expr: str | None = None,
) -> str:
    """SQL text of the per-centroid (negated-cosine, cid) struct array:
    the exact IVF rule for consumers that publish the SCORE as well as
    the cell (`cluster_profile`'s mean-cosine column); cid-only
    consumers run the argmax kernel (:func:`_ivf_cells_udf`), which
    reproduces this ranking bit for bit. One parsed string replaces
    ~K x (dim + lambda) py4j roundtrips — measured (r16) at 2 s per
    build for K=8 x dim=64 — while producing the IDENTICAL expression tree (same literals via
    shortest-repr round-trip, same zip_with/aggregate decimal fold,
    same struct names)."""
    parts = []
    for cid, cvec in sorted(cent_arrs.items()):
        varr = _vec_sql(cvec)
        if cent_norms is not None:
            cn = double_sql(cent_norms[cid])
        else:
            cn = f"SQRT({_dot_sql(varr, varr)})"
        vn = nrm_expr if nrm_expr is not None else f"SQRT({_dot_sql(vexpr, vexpr)})"
        parts.append(
            f"named_struct('negc', (- {_dot_sql(varr, vexpr)}) / ({cn} * {vn}),"
            f" 'cid', {int(cid)})"
        )
    return "array(" + ",".join(parts) + ")"


def _resolve_centroids(
    emb: DataFrame,
    centroids: list[list[float]] | None,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> tuple[dict[int, list[float]], dict[int, float]]:
    """(cent_arrs, cent_norms) for both centroid modes. Data-derived
    centroids collect their norms from the SAME with_norm expression
    the oracle mirrors (bit-exact parity by construction); trained
    centroid literals get the driver-side decimal-norm replica."""
    if centroids is not None:
        cent_arrs = {i: [float(v) for v in c] for i, c in enumerate(centroids)}
        cent_norms = {i: _py_decimal_norm(c) for i, c in cent_arrs.items()}
    else:
        cents = (
            with_norm(emb.where(F.col(id_col) < n_centroids), vec_col)
            .select(id_col, vec_col, "nrm")
            .collect()
        )
        cent_arrs = {int(r[0]): [float(v) for v in r[1]] for r in cents}
        cent_norms = {int(r[0]): float(r[2]) for r in cents}
    if not cent_arrs:
        # an empty centroid set would otherwise surface as an opaque
        # INVALID_EXTRACT_BASE_FIELD_TYPE from the empty scores array —
        # fail loudly at the seam instead (domain_case's convention)
        raise ValueError(
            "no centroids: the embeddings frame has no rows with "
            f"{id_col} < {n_centroids} and no explicit centroids= were "
            "given — an empty/degenerate corpus cannot define a cell "
            "geometry; pass trained centroids explicitly"
        )
    return cent_arrs, cent_norms


def ivf_topk(
    emb: DataFrame,
    query_pred: Column,
    dim: int,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into ``n_centroids`` inverted
    lists (nearest centroid by cosine, ties to the lower centroid id),
    then each query scores ONLY the vectors in its ``n_probe`` closest
    lists. Expected per-query work: n_probe/n_centroids of the corpus.

    ``centroids`` (e.g. from :func:`train_ivf_centroids`) are broadcast
    as literals so assignment is one scan, no join. Without them, the
    first ``n_centroids`` vectors by id serve as a deterministic,
    oracle-expressible seed choice — same machinery, weaker lists.
    NULL vectors are excluded (no cell, no cosine); a zero vector has a
    cell but no cosine, so it never ranks."""
    emb = emb.where(F.col(vec_col).isNotNull())
    cent_arrs, cent_norms = _resolve_centroids(
        emb, centroids, n_centroids, id_col, vec_col
    )
    # one kernel call ranks every vector's n_probe cells: the corpus
    # side keeps the first (its assignment), queries probe them all
    cells_k = _ivf_cells_udf(cent_arrs, cent_norms, n_probe)
    normed = with_norm(_respread_narrow(emb), vec_col).withColumn(
        "cells", cells_k(F.col(vec_col))
    ).persist()
    scorable = _has_cosine(normed)
    q = scorable.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode("cells").alias("cell"),
    )
    c = scorable.select(
        F.col(id_col).alias("cid_"),
        F.col(vec_col).alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("cells")[0].alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("cid_") != F.col("qid"))
        .withColumn("cos_raw", _dot("qv", "cv") / (F.col("qn") * F.col("cn")))
        .withColumnRenamed("cid_", "cid")
    )
    return pin(_two_phase_topk(scored, k), normed)


def semantic_dup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_centroids: int = 8,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    tag_same_cell: bool = False,
    cand_filter: Column | None = None,
    d1_pred: Column | None = None,
    candidates_only: bool = False,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: coarse-quantize every
    vector to its nearest centroid (the IVF assignment, ties to the
    lower centroid id), then verify exact-decimal cosine >= threshold
    ONLY within each cell. Output (d1 < d2, cosine).

    This is the cluster-then-dedup shape of Abbas et al. 2023
    ("SemDeDup"): candidate generation cost is Σ |cell|² instead of
    N² — with balanced cells, N²/k — and each cell's self-join is an
    ordinary keyed equi-join, so the plan is shuffle-on-cell, never
    all-pairs. The tradeoff vs sign-LSH banding (`cosine_dup_pairs`)
    is recall at cell boundaries: a pair split across two cells is
    missed — acceptable for semantic dedup where near-dups
    overwhelmingly co-assign, and tunable by training better centroids
    (:func:`train_ivf_centroids`) or multi-probe assignment.

    Like `ivf_topk`, ``centroids=None`` falls back to the first
    ``n_centroids`` vectors by id — deterministic and fully
    oracle-expressible. ``n_probe > 1`` widens candidate DISCOVERY to
    each vector's top-``n_probe`` cells (the standard multi-probe
    mitigation for boundary pairs — a pair is a candidate iff any
    probed cell is shared); verification and the reported ``cell``
    label (d1's primary cell) are unchanged, so raising n_probe only
    ever ADDS recovered pairs.

    ``tag_same_cell=True`` appends a boolean ``same_cell`` column (both
    members' PRIMARY cells equal). Because every same-primary-cell pair
    is also a multi-probe candidate, the ``same_cell`` subset of an
    ``n_probe=N`` run IS the ``n_probe=1`` output — the recall card
    measures both discovery configs from one pass this way.

    ``cand_filter`` (a predicate over the candidate columns d1/d2)
    prunes candidate pairs BEFORE the exact verify — the sampled-QA
    path: a recall card scoring only panel-d1 pairs cuts the verify
    stage by the panel fraction instead of verifying corpus-wide and
    discarding. ``d1_pred`` (over the original columns) goes further
    and restricts the smaller-id side BEFORE the cell join, cutting
    the join volume itself by the panel fraction. ``candidates_only``
    returns the distinct DISCOVERY pairs unverified (with ``same_cell``
    when tagged) — the recall-card path.

    ``assigned`` (candidates_only mode): an already-persisted,
    NULL-vector-free corpus frame carrying ``cells``/``cell`` from the
    same Arrow kernel (r17's shared-pass contract — the recall card
    assigns cells, norms and LSH keys in ONE corpus projection and
    hands it to every leg, so this function adds no corpus pass of its
    own). The caller owns the pin."""
    # NULL-vector rows are excluded before ANYTHING reads the frame:
    # they can never verify (NULL cosine fails any threshold), emitting
    # them as unverified "candidates" would be noise, the Arrow kernel
    # raises on NULL by contract, and a NULL among the first
    # ``n_centroids`` ids would crash the centroids=None driver collect
    # — so that mode means "first K NON-NULL vectors by id" (the oracle
    # twin assumes no NULL vectors among the first K, true of the
    # driver testdata)
    emb = emb.where(F.col(vec_col).isNotNull())
    own_frame = not (candidates_only and assigned is not None)
    if not own_frame:
        # shared-pass path (r17): the caller already assigned cells in
        # its own fused corpus projection — add no pass and no pin here
        normed = assigned
    else:
        cent_arrs, cent_norms = _resolve_centroids(
            emb, centroids, n_centroids, id_col, vec_col
        )
        # the exact-decimal norm fold exists solely for the verify
        # stage; discovery-only runs skip it
        base = _respread_narrow(emb)
        if not candidates_only:
            base = with_norm(base, vec_col)
        cells_k = _ivf_cells_udf(cent_arrs, cent_norms, n_probe)
        normed = (
            base.withColumn("cells", cells_k(F.col(vec_col)))
            .withColumn("cell", F.col("cells")[0])
            .persist()
        )
    # candidate pairs stay SKINNY (ids + probed cell) through the cell
    # self-join — a join on K cell keys lands on at most K partitions,
    # so the expensive per-pair work must not live in that stage;
    # re-spreading the id pairs before attaching vectors restores full
    # parallelism for the dot products (at real scale the vector-attach
    # joins shuffle anyway and the repartition folds into them)
    # on the candidates-only tagged path each side carries its PRIMARY
    # cell through the join, so same_cell is an inline comparison —
    # same_cell is functionally dependent on (d1, d2), so the distinct
    # below still dedups to one row per pair (previously two extra
    # keyed joins attached the cells after the fact)
    carry_cell = candidates_only and tag_same_cell
    side_cols = (F.col("cell").alias("__pcell"),) if carry_cell else ()
    probed = normed.select(
        F.col(id_col).alias("vid"), *side_cols, F.explode("cells").alias("pc")
    )
    a_src = (
        normed.where(d1_pred).select(
            F.col(id_col).alias("vid"), *side_cols,
            F.explode("cells").alias("pc"),
        )
        if d1_pred is not None
        else probed
    )
    a = a_src.select(
        F.col("pc"), F.col("vid").alias("d1"),
        *((F.col("__pcell").alias("__c1"),) if carry_cell else ()),
    )
    b = probed.select(
        F.col("pc"), F.col("vid").alias("d2"),
        *((F.col("__pcell").alias("__c2"),) if carry_cell else ()),
    )
    tag = (
        ((F.col("__c1") == F.col("__c2")).alias("same_cell"),)
        if carry_cell
        else ()
    )
    cand = (
        a.join(b, "pc")
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", *tag)
    )
    if cand_filter is not None:
        cand = cand.where(cand_filter)
    if n_probe > 1:
        # a pair sharing several probed cells would verify repeatedly
        cand = cand.distinct()
    if candidates_only:
        return pin(cand, normed) if own_frame else cand
    verified = _verify_pairs(
        cand, normed, threshold, id_col, vec_col, carry_left=("cell",)
    )
    cols = [
        F.col("d1"),
        F.col("d2"),
        F.col("cell").cast("bigint").alias("cell"),
        pround(F.col("cos_raw"), 6).alias("cosine"),
    ]
    if tag_same_cell:
        # keyed join on the (few) verified pairs only — attaches d2's
        # primary cell so callers can split out the n_probe=1 subset
        c2 = normed.select(
            F.col(id_col).alias("d2"), F.col("cell").alias("__cell2")
        )
        verified = verified.join(c2, "d2")
        cols.append((F.col("cell") == F.col("__cell2")).alias("same_cell"))
    return pin(verified.select(*cols), normed)


def exact_dup_pairs(
    emb: DataFrame,
    panel_pred: Column,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normed: DataFrame | None = None,
) -> DataFrame:
    """Exact near-dup ground truth over a BOUNDED panel: every pair
    (d1, d2) with d1 matching ``panel_pred``, d2 > d1 and exact-decimal
    cosine >= threshold — the baseline leg of the semantic-dedup recall
    card. Candidates come from broadcasting the SKINNY panel ids
    against corpus ids (O(|panel| * N) pairs, never corpus x corpus),
    and the shared two-stage verify (:func:`_verify_pairs`: double
    prefilter with slack, decimal on the survivors) keeps the exact
    fold off the non-dup mass — same cost shape as the exact ANN
    baseline `cosine_topk`.

    ``normed``: an already-persisted corpus frame carrying ``nrm``
    (r17's shared-pass contract — the recall card computes norms,
    probe cells and LSH keys in ONE corpus projection and hands it to
    every leg). Rows with NULL vectors may be pre-dropped: a NULL
    cosine can never reach the threshold, so the pair set is
    unchanged. The caller owns the pin."""
    own = normed is None
    if own:
        normed = with_norm(_respread_narrow(emb), vec_col).persist()
    p = normed.where(panel_pred).select(F.col(id_col).alias("d1"))
    c = normed.select(F.col(id_col).alias("d2"))
    cand = c.join(F.broadcast(p), F.col("d2") > F.col("d1"))
    out = _verify_pairs(cand, normed, threshold, id_col, vec_col).select(
        "d1", "d2", pround(F.col("cos_raw"), 6).alias("cosine")
    )
    return pin(out, normed) if own else out


def write_embedding_index(
    emb: DataFrame,
    table: str,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the corpus side of the multi-table sign-LSH as bucketed
    managed tables — the write-once-shuffle half of a day-2 embedding
    near-dup / ANN service (the embedding analog of
    ``dedup.write_signature_index``):

    - ``{table}_keys``: (vec_id, bkt), one row per vector per hash
      table, bucketed by bkt — a new batch's key join reads matching
      buckets with NO Exchange on the corpus side;
    - ``{table}_vecs``: (vec_id, embedding, nrm) bucketed by vec_id —
      the verify join's corpus side, likewise exchange-free, with the
      canonical decimal norm precomputed at write time.

    Rewrites both tables; production appends partitions instead, which
    bucketBy supports unchanged."""
    from ..etl.bucketed import write_bucketed

    keys = _mt_keys_udf(dim, n_tables, bits)
    keyed = _respread_narrow(emb).select(
        F.col(id_col).alias("vec_id"),
        F.explode(keys(F.col(vec_col))).alias("bkt"),
    )
    write_bucketed(keyed, f"{table}_keys", ["bkt"], n_buckets)
    vecs = with_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        "nrm",
    )
    write_bucketed(vecs, f"{table}_vecs", ["vec_id"], n_buckets)


def append_embedding_index(
    emb: DataFrame,
    table: str,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new batch's keys and vectors to an EXISTING embedding
    index under the same bucket spec — the self-maintaining half of the
    embedding-dedup loop (:func:`write_embedding_index`'s growth path).
    Caller guarantees the appended vec_ids are new."""
    from ..etl.bucketed import append_bucketed

    keys = _mt_keys_udf(dim, n_tables, bits)
    spark = emb.sparkSession
    vec_type = spark.table(f"{table}_vecs").schema["embedding"].dataType
    # cast FIRST so keys, stored vectors and stored norms all derive
    # from the same element values (norm-of-double with vector-of-float
    # would disagree at threshold knife-edges)
    cast = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast(vec_type).alias("embedding"),
    )
    keyed = _respread_narrow(cast).select(
        "vec_id", F.explode(keys(F.col("embedding"))).alias("bkt")
    )
    append_bucketed(keyed, f"{table}_keys", ["bkt"], n_buckets)
    append_bucketed(
        with_norm(cast, "embedding"), f"{table}_vecs", ["vec_id"], n_buckets
    )


def indexed_embedding_candidates(
    spark,
    batch: DataFrame,
    table: str,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct (d1 = batch vector, d2 = corpus vector) candidate pairs
    of a new batch against the persisted key index: the batch's LSH
    keys equi-join the bucketed corpus key table — only the (small)
    batch side shuffles. The batch is cast to the index's element type
    BEFORE keying (schema-only read of ``{table}_vecs``), so a float64
    batch probing a float32-stored index hashes knife-edge vectors to
    the same buckets the index did — the same convention
    :func:`incremental_embedding_matches` applies to norms and verify."""
    idx_type = spark.table(f"{table}_vecs").schema["embedding"].dataType
    keys = _mt_keys_udf(dim, n_tables, bits)
    bk = _respread_narrow(batch).select(
        F.col(id_col).alias("d1"),
        F.explode(keys(F.col(vec_col).cast(idx_type))).alias("bkt"),
    )
    ck = spark.table(f"{table}_keys").select(
        F.col("vec_id").alias("d2"), "bkt"
    )
    return bk.join(ck, "bkt").select("d1", "d2").distinct()


def incremental_embedding_matches(
    spark,
    batch: DataFrame,
    table: str,
    threshold: float,
    dim: int,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup matches (d1 = batch, d2 = corpus, cosine >=
    threshold) against the PERSISTED index
    (:func:`write_embedding_index`): candidate discovery joins the
    bucketed key table, verification attaches vectors from the bucketed
    vector table via the shared two-stage exact-decimal cosine —
    amortized cost per batch O(batch) + O(candidates), zero corpus-side
    shuffle, the corpus itself never re-keyed. Same disjoint-id-space
    precondition as the text signature index."""
    # cast the batch to the index's element type up front so keys,
    # norms and the verify all see the same values (the batch may
    # arrive float64 while the index stores float32)
    corpus_vecs = spark.table(f"{table}_vecs")
    cast = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col)
        .cast(corpus_vecs.schema["embedding"].dataType)
        .alias("embedding"),
    )
    cand = indexed_embedding_candidates(
        spark, cast, table, dim, n_tables, bits, "vec_id", "embedding"
    )
    b_normed = with_norm(_respread_narrow(cast), "embedding").persist()
    # d1 is always a batch id and d2 always a corpus id (disjoint-id
    # precondition), so the verify's two sides come from two different
    # frames: the batch serves d1, the vec_id-BUCKETED vector table
    # serves d2 — only the skinny candidate frame shuffles; unioning
    # the corpus into both sides would exchange the whole {table}_vecs
    # relation per batch, exactly the cost the index exists to avoid
    out = _verify_pairs(
        cand, b_normed, threshold, "vec_id", "embedding",
        normed_right=corpus_vecs,
    ).select(
        "d1", "d2", pround(F.col("cos_raw"), 6).alias("cosine")
    )
    return pin(out, b_normed)


def cluster_profile(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cluster composition card: assign every vector to its
    nearest coarse centroid (the IVF assignment the certified
    `sim_ann_ivf`/`dedup_semantic_ivf` entries run) and report, per
    cell, its population, corpus share, mean cosine-to-centroid
    (cluster COHERENCE — a low-cohesion cell is a grab-bag, not a
    topic), the modal label and its within-cell share (PURITY against
    whatever labeling the corpus carries). This is the topic-balance
    read a curation pass takes before reweighting by cluster, and the
    sanity check before trusting semantic dedup inside a cell.

    Ties break toward the lower centroid id (the shared
    `_cell_scores_sql` ordering) and toward the lower label; a NULL
    label sorts last so it never wins a tie. Output: (cell, n_members,
    share, avg_cos, modal_label, modal_share); avg_cos is the exact-
    decimal mean of per-row cosines prounded to 6 (order-free
    summation — doubles would make the mean partitioning-dependent).

    Scale shape: assignment is ONE scan against broadcast centroid
    literals (no join); both aggregates are map-side combinable onto a
    bounded key (n_centroids cells, x #labels for the modal pass); the
    share window and the modal row_number run over BOUNDED frames. The
    only join is cell-keyed between two aggregated frames of
    <= n_centroids (x labels) rows. No Python, no all-pairs."""
    cent_arrs, cent_norms = _resolve_centroids(
        emb, centroids, n_centroids, id_col, vec_col
    )
    normed = with_norm(_respread_narrow(emb), vec_col)
    scored = F.expr(_cell_scores_sql(cent_arrs, vec_col, cent_norms, "nrm"))
    # the narrow per-row frame feeds TWO aggregates (cell stats and the
    # modal-label pass); materialize it once so the broadcast-centroid
    # fold runs ONE scan, not two (interleaved A/B at sf0.1:
    # 3.07 s -> 1.23 s, output bit-identical; ~20 bytes/row
    # checkpointed vs re-scanning the vectors — the same
    # narrow-checkpoint argument as `cluster_balanced_sample`; see
    # `_narrow_checkpoint` for the executor-loss caveat)
    per = _narrow_checkpoint(normed.select(
        F.array_sort(scored).getItem(0).alias("best"),
        F.col(label_col).alias("label"),
    ).select(
        F.col("best.cid").alias("cell"),
        pround(-F.col("best.negc"), 6).alias("c"),
        "label",
    ))
    base = per.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        pround(
            F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_cos"),
    )
    lab = per.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("n_lab"))
    wl = W.partitionBy("cell").orderBy(
        F.col("n_lab").desc(), F.col("label").asc_nulls_last()
    )
    modal = (
        lab.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select("cell", F.col("label").alias("modal_label"), "n_lab")
    )
    out = base.join(modal, "cell")
    wt = W.partitionBy()  # bounded: one row per cell
    return out.select(
        F.col("cell").cast("int").alias("cell"),
        "n_members",
        pround(F.col("n_members") / F.sum("n_members").over(wt), 6).alias(
            "share"
        ),
        "avg_cos",
        "modal_label",
        pround(F.col("n_lab") / F.col("n_members"), 6).alias("modal_share"),
    )


def cluster_balanced_sample(
    emb: DataFrame,
    target_total: int,
    n_centroids: int = 8,
    alpha: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "cellmix-v1",
    centroids: list[list[float]] | None = None,
    keep: DataFrame | None = None,
) -> DataFrame:
    """Cluster-balanced reweighting — the WRITE to `cluster_profile`'s
    read: downsample the corpus to ≈``target_total`` vectors with the
    per-CELL distribution flattened, so one over-crawled topic cluster
    stops dominating the mixture. ``alpha=None`` targets a UNIFORM
    quota per occupied cell (each cell gets target/n_cells docs,
    capped at its population — no upsampling); ``alpha`` in (0, 1]
    uses the temperature rule instead (w_c ∝ share_c^alpha, the
    multilingual-balancing curve applied to topic cells). Returns the
    kept (``id_col``, ``cell``) pairs — callers join back whatever
    payload they need: returning the vector columns would force the
    threshold pass to either re-scan the corpus and re-evaluate the
    centroid fold, or cache corpus-width rows.

    Determinism: cell assignment is the certified IVF rule (decimal-
    exact cosine, ties toward the lower centroid id — the exact
    `cluster_profile` assignment); the keep decision is the shared
    salted-md5 bucket threshold (`sampling.bucket_col`), so an oracle
    replays every decision bit-for-bit.

    ``keep`` (a frame carrying ``id_col``) scopes the sample to a
    pre-gated subset — the corpus-assembly composition: centroids stay
    resolved from the FULL ``emb`` (so the cell geometry — and the
    oracle's ``vec_id < K`` centroid rule — is independent of what the
    gates removed this run), assignment is semi-joined to ``keep``
    BEFORE the counts, and quotas balance the survivors.

    Scale shape: ONE scan through the argmax kernel computes the
    cell, reduced immediately to the NARROW (id, cell) frame and
    materialized with an eager localCheckpoint — the quota cannot be
    known before the counts, so the operator is inherently two-pass,
    and the second (threshold) pass needs only id + cell: ~16 bytes a
    row instead of re-scanning the vectors and re-running the
    assignment (measured 2.6x faster at sf0.1; at 100 TB the gap is
    the corpus width). Counts are a bounded (n_centroids) aggregate
    collected driver-side; the filter is a literal CASE over the cell
    — no join, no window, the `mixture_sample` plan family (plus one
    id-keyed semi-join when ``keep`` is given). Checkpoint blocks are
    freed when the returned frame's references drop (no CacheManager
    entry pinning them across calls); see `_narrow_checkpoint` for the
    executor-loss caveat."""
    from .sampling import (
        _threshold_filter, mixture_rates, temperature_weights,
    )

    assigned = _assign_cells(emb, n_centroids, id_col, vec_col, centroids, keep)
    counts = {
        r[0]: r[1]
        for r in assigned.groupBy("cell").count().collect()  # bounded
    }
    weights = (
        {c: 1 for c in counts}
        if alpha is None
        else temperature_weights(counts, alpha)
    )
    thr = mixture_rates(counts, weights, target_total)
    return _threshold_filter(assigned, thr, "cell", id_col, salt)


def _assign_cells(
    emb: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None,
    keep: DataFrame | None = None,
) -> DataFrame:
    """The certified IVF cell assignment reduced to the NARROW
    (id, cell) frame and eagerly materialized (`_narrow_checkpoint`):
    one scan through the argmax kernel (:func:`_ivf_cells_udf`, ties
    toward the lower centroid id) — the exact `cluster_profile` rule.
    NULL vectors are excluded (no cell); a zero vector takes the lowest
    centroid id. ``keep`` semi-joins the assignment to a pre-gated id
    subset before the checkpoint (centroids still resolve from
    ``emb``)."""
    emb = emb.where(F.col(vec_col).isNotNull())
    cent_arrs, cent_norms = _resolve_centroids(
        emb, centroids, n_centroids, id_col, vec_col
    )
    cells_k = _ivf_cells_udf(cent_arrs, cent_norms, 1)
    assigned = _respread_narrow(emb).select(
        F.col(id_col), cells_k(F.col(vec_col))[0].alias("cell")
    )
    if keep is not None:
        assigned = assigned.join(keep.select(id_col), id_col, "left_semi")
    return _narrow_checkpoint(assigned)


def share_mixture_thresholds(
    src_stats: dict, target_total: int
) -> dict:
    """Pure driver math of :func:`cluster_share_mixture` — kept free of
    Spark so hypothesis can law-check it (tests/test_sampling_property).
    ``src_stats`` maps source -> (n_docs, avg_cell_share); returns the
    per-source bucket thresholds.

    Cross-engine determinism contract (must stay the EXACT IEEE
    expression tree of `o_mixture_cluster_share`): weights are integer
    micro-units w = floor(1e6/avg + 0.5) so Σw is exact; the rate is
    target*w (int, exact in double) / Σw / n — two correctly-rounded
    divisions — capped at 1.0, then floor(rate * BUCKETS)."""
    import math

    from .sampling import BUCKETS

    w_micro = {
        s: math.floor((1.0 / avg) * 1_000_000 + 0.5)
        for s, (_n, avg) in src_stats.items()
    }
    wsum = sum(w_micro.values())  # exact: integer micro-units
    return {
        s: int(min(1.0, (target_total * w_micro[s]) / wsum / n) * BUCKETS)
        for s, (n, _avg) in src_stats.items()
    }


def _cluster_share_stats(
    docs: DataFrame,
    emb: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    doc_id_col: str,
    domain_col: str,
    centroids: list[list[float]] | None,
) -> dict:
    """Shared planning pass of the cluster-share mixture family:
    assignment scan -> bounded cell shares (pround 6) -> per-source
    exact-decimal mean of member cell shares. Returns the bounded
    {source: (n_docs, avg_cell_share)} dict both the card
    (:func:`cluster_share_mixture`) and the actuator
    (:func:`cluster_share_kept`) plan from."""
    import math

    from .sampling import domain_case

    assigned = _assign_cells(emb, n_centroids, id_col, vec_col, centroids)
    counts = {
        r[0]: r[1]
        for r in assigned.groupBy("cell").count().collect()  # bounded
    }
    total = sum(counts.values())
    # share_c mirrors o_pround(CAST(n AS DOUBLE) / total, 6) exactly
    shares = {
        c: math.floor((n / total) * 1_000_000 + 0.5) / 1_000_000
        for c, n in counts.items()
    }
    per_src = (
        docs.select(F.col(doc_id_col).alias(id_col), domain_col)
        .join(assigned, id_col)
        .select(
            domain_col,
            domain_case(shares, "cell").alias("__share"),
        )
        .groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            pround(
                F.sum(F.col("__share").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cell_share"),
        )
    )
    return {
        r[0]: (r[1], r[2]) for r in per_src.collect()  # bounded: #sources
    }


def cluster_share_kept(
    docs: DataFrame,
    emb: DataFrame,
    target_total: int,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    domain_col: str = "source",
    salt: str = "cellsrc-v1",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The ACTUATOR for :func:`cluster_share_mixture`'s card: the kept
    (``domain_col``, ``doc_id_col``) rows under the same cluster-share
    thresholds — bit-identical keep decisions (shared
    `_cluster_share_stats` planning pass + `share_mixture_thresholds`
    chain + salted-bucket filter), without building the card or its
    spine join. `CorpusPipeline.mixture_by_cluster_share` chains it."""
    from .sampling import _threshold_filter

    src_stats = _cluster_share_stats(
        docs, emb, n_centroids, id_col, vec_col, doc_id_col, domain_col,
        centroids,
    )
    thr = share_mixture_thresholds(src_stats, target_total)
    return _threshold_filter(
        docs.select(domain_col, doc_id_col), thr, domain_col, doc_id_col, salt
    )


def cluster_cell_counts(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ADDITIVE state, part 1 of the incremental cluster-share mixture:
    per-cell vector counts (cell, n_vecs). Two batches' frames fold by
    summing n_vecs (`streaming.ingest._fold`) PROVIDED both were
    assigned under the SAME centroids — pass trained/pinned
    ``centroids=`` for incremental drops, exactly like the persisted
    embedding index pins its hyperplanes."""
    return (
        _assign_cells(emb, n_centroids, id_col, vec_col, centroids)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )


def cluster_source_cell_matrix(
    docs: DataFrame,
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    domain_col: str = "source",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ADDITIVE state, part 2: the (source, cell, n_docs) occupancy
    matrix — bounded #sources x #cells. Folds by summing n_docs under
    the same fixed-centroid contract as :func:`cluster_cell_counts`."""
    assigned = _assign_cells(emb, n_centroids, id_col, vec_col, centroids)
    return (
        docs.select(F.col(doc_id_col).alias(id_col), domain_col)
        .join(assigned, id_col)
        .groupBy(domain_col, "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# Grain tags of the single-log additive state for the cluster-share
# mixture card (`cluster_share_state_delta`): per-cell vector counts,
# (source, cell) doc occupancy, (source, keep-bucket) doc histogram.
GRAIN_VEC, GRAIN_OCC, GRAIN_BKT = "vec", "occ", "bkt"


def centroid_fingerprint(centroids: list[list[float]]) -> str:
    """Stable identity of a pinned cell geometry for state-parameter
    guards (`streaming.ingest._guard_card_params`): md5 over the exact
    float reprs — repr round-trips doubles bit-for-bit, so equal
    fingerprints mean equal geometry, and a restart that pins
    different centroids over an existing delta log is refused instead
    of silently merging assignments from two geometries."""
    import hashlib

    payload = "|".join(
        ",".join(repr(float(x)) for x in c) for c in centroids
    )
    return hashlib.md5(payload.encode()).hexdigest()


def cluster_share_state_delta(
    docs_b: DataFrame,
    emb_b: DataFrame,
    *,
    centroids: list[list[float]],
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    domain_col: str = "source",
    salt: str = "cellsrc-v1",
) -> DataFrame:
    """ONE batch's additive state for the cluster-share mixture card —
    all three grains in a single (grain, source, cell, n) log frame,
    sharing ONE assignment pass over the batch's vectors:

    - ``'vec'``: per-cell vector counts (domain NULL) — the share
      denominators (`cluster_cell_counts`'s grain);
    - ``'occ'``: (source, cell) occupancy of the batch's docs that
      carry a vector (`cluster_source_cell_matrix`'s grain);
    - ``'bkt'``: (source, salted-keep-bucket) counts over ALL batch
      docs — the keep-filter histogram. ``cell`` holds the bucket id
      (the exact `sampling.bucket_col` the threshold filter tests), so
      n_kept finishes from folded state alone: Σ_{b<t_s} hist(s, b)
      IS the filter's count, bit-for-bit.

    Folding two batches' deltas by summing ``n`` (the shared
    `streaming.ingest._fold`) is exact PROVIDED the cell geometry is
    fixed, so ``centroids`` is REQUIRED here — incremental deltas are
    not additive across geometries (the same pinned-literal contract
    as the persisted embedding index's hyperplanes); the stream
    wrapper records the fingerprint + salt as state identity."""
    if centroids is None:
        raise ValueError(
            "cluster_share_state_delta requires pinned centroids=: "
            "incremental deltas fold additively only under a fixed "
            "cell geometry"
        )
    from .sampling import bucket_col

    assigned = _assign_cells(emb_b, n_centroids, id_col, vec_col, centroids)
    vec = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit(GRAIN_VEC).alias("grain"),
            F.lit(None).cast("string").alias(domain_col),
            F.col("cell").cast("int").alias("cell"),
            "n",
        )
    )
    occ = (
        docs_b.select(F.col(doc_id_col).alias(id_col), domain_col)
        .join(assigned, id_col)
        .groupBy(domain_col, "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit(GRAIN_OCC).alias("grain"),
            F.col(domain_col).cast("string").alias(domain_col),
            F.col("cell").cast("int").alias("cell"),
            "n",
        )
    )
    bkt = (
        docs_b.select(
            domain_col,
            bucket_col(doc_id_col, salt).cast("int").alias("cell"),
        )
        .groupBy(domain_col, "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit(GRAIN_BKT).alias("grain"),
            F.col(domain_col).cast("string").alias(domain_col),
            "cell",
            "n",
        )
    )
    return vec.unionByName(occ).unionByName(bkt)


def cluster_share_card_from_state_log(
    log: DataFrame,
    target_total: int,
    domain_col: str = "source",
) -> DataFrame:
    """Finish the cluster-share mixture card ENTIRELY from the folded
    delta log — zero corpus touch: where `cluster_share_mixture_from_
    state` still scans the docs for its keep filter, here even n_kept
    comes from the state's (source, bucket) histogram grain, as
    Σ_{b<t_s} hist(s, b) — bit-identical to the salted-bucket filter
    because the histogram was built from the SAME `bucket_col`
    expression the filter tests. The finish is O(#cells +
    #sources x #cells) driver math plus one literal-CASE aggregate
    over the bounded state frame (#sources x 10k rows at most) — the
    cost of refreshing the card after a batch is independent of
    corpus size, which is what makes the card maintainable at ingest
    time on a 100 TB corpus. ``target_total`` is a finish-time knob,
    not state identity: the same log re-finishes at any target."""
    from .sampling import domain_case

    counts = {
        r[0]: int(r[1])
        for r in log.where(F.col("grain") == GRAIN_VEC)
        .select("cell", "n")
        .collect()  # bounded: #cells
    }
    src_stats = _state_src_stats(
        counts,
        (
            (r[0], r[1], r[2])
            for r in log.where(F.col("grain") == GRAIN_OCC)
            .select(domain_col, "cell", "n")
            .collect()  # bounded: #sources x #cells
        ),
    )
    thr = share_mixture_thresholds(src_stats, target_total)
    hist = log.where(F.col("grain") == GRAIN_BKT)
    if thr:
        kept_rows = hist.where(
            F.col("cell") < domain_case(thr, domain_col).otherwise(F.lit(0))
        )
    else:
        kept_rows = hist.where(F.lit(False))
    kept = kept_rows.groupBy(domain_col).agg(
        F.sum("n").cast("bigint").alias("n_kept")
    )
    return _mixture_card(log.sparkSession, src_stats, kept, domain_col)


def _state_src_stats(counts: dict, matrix_rows) -> dict:
    """Shared driver math finishing the per-source stats from folded
    additive state: per-cell shares from the cell totals through the
    micro-unit pround chain, then each source's mean cell share
    rebuilt EXACTLY as Σ_c share_c x n_sc in integer micro-units (a
    decimal sum of n identical 6-decimal addends IS share x n), then
    the same two correctly-rounded divisions and pround the row-based
    aggregate performs. ``counts`` maps cell -> n_vecs; ``matrix_rows``
    yields (source, cell, n_docs). Returns the
    {source: (n_docs, avg_cell_share)} dict `share_mixture_thresholds`
    consumes. O(#sources x #cells), no Spark."""
    import math

    from ..numeric import py_pround

    if not counts:
        raise ValueError(
            "empty cell-count state: no vectors were ever assigned — "
            "a cell geometry with no population defines no shares"
        )
    total = sum(counts.values())
    share_micro = {
        c: math.floor((n / total) * 1_000_000 + 0.5)
        for c, n in counts.items()
    }
    per_src: dict = {}
    for s, c, n in matrix_rows:
        n = int(n)
        tot_micro, n_s = per_src.get(s, (0, 0))
        per_src[s] = (tot_micro + share_micro[c] * n, n_s + n)
    return {
        # decimal(Σ)->double cast == one correctly-rounded /1e6, then
        # the same /n division and pround the row-based agg performs
        s: (n_s, py_pround((tot_micro / 1_000_000) / n_s, 6))
        for s, (tot_micro, n_s) in per_src.items()
    }


def _mixture_card(spark, src_stats: dict, kept: DataFrame,
                  domain_col: str) -> DataFrame:
    """Shared card assembly of the cluster-share mixture family: the
    bounded per-source stats become a LITERAL spine (`local_frame`,
    explicit schema: inference fails on an all-NULL column) left-joined
    to the broadcast kept counts."""
    spine = local_frame(
        spark,
        sorted(
            ((s, n, avg) for s, (n, avg) in src_stats.items()),
            key=lambda t: (t[0] is None, t[0] or ""),
        ),
        f"{domain_col} string, n_docs bigint, avg_cell_share double",
    )
    return (
        spine.join(F.broadcast(kept), domain_col, "left")
        .select(
            domain_col,
            "n_docs",
            "avg_cell_share",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def cluster_share_mixture_from_state(
    docs: DataFrame,
    cell_counts: DataFrame,
    matrix: DataFrame,
    target_total: int,
    doc_id_col: str = "doc_id",
    domain_col: str = "source",
    salt: str = "cellsrc-v1",
) -> DataFrame:
    """Finish the cluster-share mixture card from the FOLDED state —
    the incremental-drop path: no vector is re-scanned; the only
    corpus touch is the keep filter. Emits the exact
    `cluster_share_mixture` card, bit-for-bit: shares from the folded
    cell totals through the same pround chain; each source's mean cell
    share rebuilt EXACTLY as Σ_c share_c x n_sc in integer micro-units
    (the same value the row-based decimal sum produces, since a decimal
    sum of n identical 6-decimal addends IS share x n), then the same
    two correctly-rounded divisions and pround; thresholds and the
    salted-bucket filter through the shared chain. Everything except
    the keep filter is O(#sources x #cells) driver math over the
    bounded collected state."""
    from .sampling import _threshold_filter

    counts = {r[0]: int(r[1]) for r in cell_counts.collect()}  # bounded
    src_stats = _state_src_stats(
        counts,
        ((r[0], r[1], r[2]) for r in matrix.collect()),  # bounded
    )
    thr = share_mixture_thresholds(src_stats, target_total)
    kept = _threshold_filter(
        docs.select(domain_col, doc_id_col), thr, domain_col, doc_id_col, salt
    ).groupBy(domain_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    return _mixture_card(docs.sparkSession, src_stats, kept, domain_col)


def cluster_share_mixture(
    docs: DataFrame,
    emb: DataFrame,
    target_total: int,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    domain_col: str = "source",
    salt: str = "cellsrc-v1",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Close the reweight->mixture loop at the SOURCE grain (r16 plan:
    "weights from cluster shares"): a source concentrated in
    OVER-REPRESENTED topic cells gets a LOW mixture weight, a source
    living in rare cells a high one — the corpus-curation move that
    `cluster_balanced_sample` makes per cell, lifted to the source
    mixture that training-corpus configs are actually written in.

    Rule: per-cell shares from the certified IVF assignment; each
    source's topic concentration = the exact-decimal mean of its docs'
    cell shares (pround 6); weight_s = pround(1/avg_share_s, 6) in
    integer micro-units; per-source keep thresholds follow the
    `mixture_rates` quota rule (target * w/Σw, capped at population)
    applied through the shared salted-bucket filter. Output card:
    (source, n_docs, avg_cell_share, n_kept).

    Determinism (oracle-hash-exact): shares and means go through the
    pround/decimal conventions; weights are integer micro-units so Σw
    is exact; the threshold chain is the same IEEE expression tree in
    both engines (int-exact doubles, two correctly-rounded divisions,
    LEAST, FLOOR — no order-dependent float accumulation anywhere).

    Scale shape: ONE broadcast-centroid scan reduced to the narrow
    (id, cell) frame (`_narrow_checkpoint` — it feeds the per-source
    mean AND nothing else rescans the vectors); cell shares are a
    bounded collect; the share attach is a literal CASE (no join); the
    per-source mean is one map-side-combinable aggregate after a
    doc-keyed join to the corpus; weights/thresholds are O(#sources)
    driver math; the keep filter is a literal CASE over the domain —
    the `mixture_sample` plan family end to end."""
    from .sampling import _threshold_filter

    src_stats = _cluster_share_stats(
        docs, emb, n_centroids, id_col, vec_col, doc_id_col, domain_col,
        centroids,
    )
    thr = share_mixture_thresholds(src_stats, target_total)
    kept = _threshold_filter(
        docs.select(domain_col, doc_id_col), thr, domain_col, doc_id_col, salt
    ).groupBy(domain_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    # the per-source stats are already collected (bounded): _mixture_card
    # rebuilds the spine as a LITERAL frame instead of re-executing
    # per_src's docs-join lineage for the output join
    return _mixture_card(docs.sparkSession, src_stats, kept, domain_col)


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, dict[int, dict[int, list[float]]]]:
    """Deterministic product-quantization codebooks: subspace j's
    codebook is the j-th contiguous slice of the first-K vectors —
    the IVF family's first-K centroid convention applied per
    subspace, so the oracle reproduces the books without a training
    loop. Returns (sub_dim, {sub: {code: slice}}); the vector dim
    must divide evenly into ``m`` subspaces, and all ``n_codes``
    seed vectors must exist and be non-NULL (fail loudly,
    `_resolve_centroids`'s convention)."""
    rows = (
        emb.where((F.col(id_col) < n_codes) & F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .collect()  # bounded: n_codes vectors
    )
    books = {int(r[0]): [float(x) for x in r[1]] for r in rows}
    if len(books) < n_codes:
        raise ValueError(
            f"pq_codebooks needs the first {n_codes} vectors as code "
            f"seeds but only {len(books)} exist — a degenerate corpus "
            "cannot define a codebook"
        )
    dim = len(books[0])
    if dim % m:
        raise ValueError(
            f"vector dim {dim} does not split into {m} equal "
            "subspaces — pick m dividing the dim"
        )
    d = dim // m
    return d, {
        j: {cid: v[j * d:(j + 1) * d] for cid, v in books.items()}
        for j in range(m)
    }


def _adc_score_sql(lut: dict, m: int, n_codes: int) -> str:
    """SQL text of one query's ADC score over the ``codes`` column —
    the same element_at(literal-DECIMAL array, codes[j] + 1) chain
    re-summed in DECIMAL(30,15) that the Column-API ``_score`` built,
    emitted as one parseable string so a scorer over Q queries costs
    Q parses instead of Q x m x K py4j literal/lambda roundtrips."""
    acc = None
    for j in range(m):
        arr = "array(" + ",".join(
            f"CAST({float(lut[(j, c)])!r}D AS DECIMAL(30,15))"
            for c in range(n_codes)
        ) + ")"
        term = f"element_at({arr}, codes[{j}] + 1)"
        acc = term if acc is None else f"CAST({acc} + {term} AS DECIMAL(30,15))"
    return f"CAST({acc} AS DOUBLE)"


def _pq_best_sql(book_j: dict[int, list[float]], sub_expr: str) -> str:
    """Best (negated-dot, code) struct of one subvector SQL fragment
    against one subspace codebook — the PQ argmax with ties toward the
    lower code id, shared by the balance card, the encoder and the ADC
    scorer so the assignment rule can never drift between them.
    Exact-decimal dots (`_dot`), the `_cell_scores_sql` sort
    convention."""
    parts = [
        f"named_struct('negd', (- {_dot_sql(_vec_sql(cvec), sub_expr)}),"
        f" 'cid', {int(cid)})"
        for cid, cvec in sorted(book_j.items())
    ]
    return "array_sort(array(" + ",".join(parts) + "))[0]"


def pq_code_balance(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization code-balance card — the capacity-planning
    read for an IVF-PQ index layout (the standard compressed-ANN
    shape at 100 TB: cells route, codes compress): every vector
    splits into ``m`` contiguous subvectors; subspace j assigns its
    subvector the argmax exact-decimal DOT against subspace j's
    codebook (`pq_codebooks`), ties toward the lower code id. Output
    (sub, code, n_vecs, share, avg_dot): a skewed share column means
    the codebook wastes bits (usage entropy below log2 K — re-seed
    before building the index); avg_dot is the fit read per code.

    Determinism (oracle-hash-exact): dots are decimal folds cast to
    double (order-free), the per-row dot prounds to 6 BEFORE the
    exact DECIMAL(18,6) mean (`cluster_profile`'s convention), the
    share division is one correctly-rounded double divide of exact
    integers, and the tie rule is the same (dot DESC, code ASC) pair
    in both engines.

    Scale shape: ONE narrow scan of (id, vector); all m assignments
    are literal-codebook folds inside the same projection (no join,
    no shuffle until the final aggregate); the aggregate is map-side
    combinable onto m x K keys, and the share window runs over that
    bounded m x K frame — output size is independent of corpus
    size."""
    from pyspark.sql import Window

    d, books = pq_codebooks(emb, m, n_codes, id_col, vec_col)
    spread = _respread_narrow(emb.select(id_col, vec_col))
    per_sub = []
    for j in range(m):
        best = F.expr(_pq_best_sql(books[j], f"slice(`{vec_col}`, {j * d + 1}, {d})"))
        per_sub.append(
            F.struct(
                F.lit(j).cast("int").alias("sub"),
                best["cid"].cast("int").alias("code"),
                pround(-best["negd"], 6).alias("dr"),
            )
        )
    assigned = spread.select(
        F.explode(F.array(*per_sub)).alias("s")
    ).select("s.sub", "s.code", "s.dr")
    agg = assigned.groupBy("sub", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        pround(
            F.sum(F.col("dr").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_dot"),
    )
    w = Window.partitionBy("sub")
    return agg.select(
        "sub",
        "code",
        "n_vecs",
        pround(
            F.col("n_vecs").cast("double")
            / F.sum("n_vecs").over(w).cast("double"),
            6,
        ).alias("share"),
        "avg_dot",
    )


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: dict[int, dict[int, list[float]]] | None = None,
    sub_dim: int | None = None,
) -> DataFrame:
    """Encode every vector as its m PQ codes — the compressed
    representation an IVF-PQ index stores instead of raw floats
    (m bytes per vector at K<=256 vs 4*dim): one narrow scan, all m
    subvector argmaxes (:func:`_pq_codes`) in a single projection, eagerly reduced
    to the (id, codes array<int>) frame (`_narrow_checkpoint` — the
    ADC scorer fans this frame out per query and must not re-run the
    assignment per fan-out). NULL vectors are excluded."""
    emb = emb.where(F.col(vec_col).isNotNull())
    if books is None or sub_dim is None:
        sub_dim, books = pq_codebooks(emb, m, n_codes, id_col, vec_col)
    return _narrow_checkpoint(
        _respread_narrow(emb.select(id_col, vec_col)).select(
            F.col(id_col), _pq_codes(books, vec_col, sub_dim).alias("codes")
        )
    )


def _pq_codes(books: dict[int, dict[int, list[float]]], vec_col: str, d: int) -> Column:
    """array<int> of the m PQ codes of ``vec_col``: the argmax kernel's
    raw-dot mode (:func:`_ivf_cells_udf`, the `_pq_best_sql` rule) on
    each subvector slice, all m in one projection."""
    return F.array(*[
        _ivf_cells_udf(books[j], None, 1)(F.slice(F.col(vec_col), j * d + 1, d))[0]
        for j in sorted(books)
    ])


def pq_adc_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes — the QUERY side of an
    IVF-PQ index: each query pre-computes its m x K lookup table of
    subvector-vs-codebook dots ONCE, and every candidate then scores
    as m table lookups over its stored codes instead of a dim-wide
    float fold — the classic ADC trick that makes compressed ANN
    ~dim/m times cheaper per candidate. Approximation of the exact
    dot whose error is the quantization residual; `sim_ann_recall`'s
    methodology applies unchanged if a recall read is wanted.

    Determinism (oracle-hash-exact): the LUT is computed by the SAME
    Spark decimal fold the corpus dots use (collected — bounded
    n_queries x m x K doubles — and re-embedded as literals), so both
    engines derive bit-equal tables; the candidate score re-sums the
    m looked-up doubles in DECIMAL(30,15) (order-free in both
    engines); ranking ties break toward the lower candidate id.

    Scale shape: codes come from the eagerly-narrowed `pq_encode`
    frame (m ints per row — the index read, not the corpus read); the
    per-query scores are literal-array lookups in one projection
    fanned out by `explode` (no join); the cut is the shared
    salted two-phase top-k, so no partition ever holds a full query's
    candidate list. A query whose vector is NULL ranks nothing."""
    d, books = pq_codebooks(emb, m, n_codes, id_col, vec_col)
    codes = pq_encode(
        emb, m, n_codes, id_col, vec_col, books=books, sub_dim=d
    )
    lut_rows = (
        emb.where((F.col(id_col) < n_queries) & F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            *[
                F.expr(
                    _dot_sql(
                        _vec_sql(books[j][c]),
                        f"slice(`{vec_col}`, {j * d + 1}, {d})",
                    )
                ).alias(f"l{j}_{c}")
                for j in range(m)
                for c in sorted(books[j])
            ],
        )
        .collect()  # bounded: n_queries rows of m x K doubles
    )
    lut = {
        int(r[0]): {
            (j, c): float(r[f"l{j}_{c}"])
            for j in range(m)
            for c in sorted(books[j])
        }
        for r in lut_rows
    }

    qarr = "array(" + ",".join(
        f"named_struct('qid', CAST({q} AS BIGINT),"
        f" 'cos_raw', {_adc_score_sql(lut[q], m, n_codes)})"
        for q in sorted(lut)
    ) + ")"
    scored = (
        codes.select(
            F.col(id_col).alias("cid"),
            F.explode(F.expr(qarr)).alias("s"),
        )
        .select(F.col("s.qid").alias("qid"), "cid", F.col("s.cos_raw"))
        .where(F.col("cid") != F.col("qid"))
    )
    return _two_phase_topk(scored, k).withColumnRenamed("cosine", "adc")


def pq_ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The COMPLETE IVF-PQ search — the production compressed-ANN
    shape at 100 TB: IVF cells ROUTE (each query probes its
    ``n_probe`` nearest inverted lists, expected candidate work
    n_probe/n_centroids of the corpus) and PQ codes COMPRESS (each
    surviving candidate scores as m LUT lookups over its stored
    codes, never touching the raw vector). Combines the certified
    IVF assignment (:func:`_ivf_cells_udf`, ties toward the lower
    centroid id) with the certified ADC scorer (`pq_adc_topk`'s
    LUT-literal chain) — both halves reuse their family's certified
    rule, so this entry certifies only the COMPOSITION.

    Scale shape: ONE assignment+encode scan reduced to the narrow
    (id, cell, codes) frame (`_narrow_checkpoint` — 1-probe cell +
    m int codes per row; at K<=256 that is m+4 bytes of index per
    vector); the query side is one bounded collect (probe cells +
    LUT per query); candidate selection and scoring are a literal
    `isin` + literal-array lookups fanned by `explode` (no join);
    the cut is the shared salted two-phase top-k. NULL vectors are
    excluded; a zero vector takes the lowest cell."""
    emb = emb.where(F.col(vec_col).isNotNull())
    cent_arrs, cent_norms = _resolve_centroids(
        emb, centroids, n_centroids, id_col, vec_col
    )
    d, books = pq_codebooks(emb, m, n_codes, id_col, vec_col)
    narrow = _narrow_checkpoint(
        _respread_narrow(emb).select(
            F.col(id_col),
            _ivf_cells_udf(cent_arrs, cent_norms, 1)(F.col(vec_col))[0].alias("cell"),
            _pq_codes(books, vec_col, d).alias("codes"),
        )
    )
    q_rows = (
        emb.where(F.col(id_col) < n_queries)
        .select(
            F.col(id_col),
            _ivf_cells_udf(cent_arrs, cent_norms, n_probe)(F.col(vec_col)).alias(
                "probe"
            ),
            *[
                F.expr(
                    _dot_sql(
                        _vec_sql(books[j][c]),
                        f"slice(`{vec_col}`, {j * d + 1}, {d})",
                    )
                ).alias(f"l{j}_{c}")
                for j in range(m)
                for c in sorted(books[j])
            ],
        )
        .collect()  # bounded: n_queries rows
    )
    queries = {
        int(r[0]): (
            [int(c) for c in r["probe"]],
            {
                (j, c): float(r[f"l{j}_{c}"])
                for j in range(m)
                for c in sorted(books[j])
            },
        )
        for r in q_rows
    }

    # Filter BEFORE scoring (r16): the old shape computed every
    # query's ADC score on every candidate row and only then dropped
    # the ~(1 - n_probe/n_centroids) unprobed pairs — paying the
    # decimal re-sum for rows it threw away. Explode only the tiny
    # (qid, probed) routing structs, filter, then evaluate the score
    # through a CASE keyed on qid so each surviving pair computes
    # exactly ONE query's chain. Same pairs, same per-pair expression,
    # same output — just never scored where it never mattered.
    qarr = "array(" + ",".join(
        f"named_struct('qid', CAST({qid} AS BIGINT),"
        f" 'probed', cell IN ({','.join(str(int(c)) for c in cells)}))"
        for qid, (cells, _lut) in sorted(queries.items())
    ) + ")"
    case_sql = "CASE s.qid " + " ".join(
        f"WHEN {qid} THEN {_adc_score_sql(lut, m, n_codes)}"
        for qid, (_cells, lut) in sorted(queries.items())
    ) + " END"
    scored = (
        narrow.select(
            F.col(id_col).alias("cid"),
            "cell",
            "codes",
            F.explode(F.expr(qarr)).alias("s"),
        )
        .where(F.col("s.probed") & (F.col("cid") != F.col("s.qid")))
        .select(
            F.col("s.qid").alias("qid"),
            "cid",
            F.expr(case_sql).alias("cos_raw"),
        )
    )
    return _two_phase_topk(scored, k).withColumnRenamed("cosine", "adc")


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-DIMENSION embedding statistics — the quantization-planning
    card: for every vector position, the population, exact min/max,
    exact-decimal mean, and the symmetric int8 scale
    (max(|min|, |max|) / 127) an index build would ship. The read
    before quantizing an ANN index or shipping embeddings as int8
    shards: a dimension whose range dwarfs the others ruins a
    per-tensor scale (use per-dim), and a near-constant dimension is
    dead weight a projection should drop. Complements
    `embedding_stats_card` (norm-level, per label): this is the
    element-level view. Vectors that are NULL or carry a NULL element
    contribute nothing (the stats card is where those surface);
    ragged dimensions fall out naturally as differing ``n``.

    Numeric determinism: min/max are exact float values published as
    double (float->double promotion is exact); the mean sums
    DECIMAL(30,15)-quantized elements (the `_dot` convention's
    certified double->decimal edge, order-free) before one IEEE
    division; published ratios pround-6.

    Scale shape: ONE posexplode -> ONE map-side-combinable aggregate
    on the bounded dimension key (#dims rows out). No join, no
    window, no Python."""
    from ..numeric import pround

    v = F.col(vec_col)
    ok = emb.where(
        v.isNotNull() & ~F.exists(v, lambda x: x.isNull())
    )
    el = ok.select(F.posexplode(v).alias("dim", "e"))
    agg = el.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("e").cast("double")).alias("vmin"),
        F.max(F.col("e").cast("double")).alias("vmax"),
        F.sum(F.col("e").cast("double").cast(DEC)).alias("__s"),
    )
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        "vmin",
        "vmax",
        pround(F.col("__s").cast("double") / F.col("n"), 6).alias("mean"),
        pround(
            F.greatest(F.abs(F.col("vmin")), F.abs(F.col("vmax")))
            / F.lit(127.0),
            6,
        ).alias("int8_scale"),
    )
