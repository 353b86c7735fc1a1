"""Contrastive training-pair mining for embedding-model training.

An embedder's training set needs POSITIVE pairs (texts that mean the
same thing) and NEGATIVE pairs (texts that don't). At corpus scale the
standard recipe mines positives from near-duplicate discovery (the
same banded MinHash-LSH machinery dedup uses — a near-dup IS a natural
paraphrase pair) and draws negatives pseudo-randomly. This module
implements both with fully deterministic, oracle-checkable mechanics:

- positives: `dedup.minhash_lsh_pairs` (banded candidates, exact
  Jaccard verify) — label 1, similarity carried;
- negatives: HASH CO-BUCKETING with RING PAIRING — every doc lands in
  one of ``B`` salted-hash buckets; within a bucket, docs rank by a
  SECOND salted hash and consecutive ranks pair, so each doc joins at
  most one negative pair (no hub doc with bucket_size partners). The
  salts decorrelate both the bucketing and the pairing from content,
  so pairs are a uniform pseudo-random draw; any pair that near-dup
  discovery also found is anti-joined away (a "negative" that's
  actually a near-dup is a label error). No RNG state, no global
  sort — one shuffle on the bucket id, window partitioned by bucket.
  ``n_buckets`` bounds per-partition sort size at N/n_buckets AND caps
  the window's parallelism, so it must SCALE WITH THE CORPUS (roughly
  N / desired-partition-rows); the module default suits the test
  fixtures, not a production corpus.

Scale shape: positives inherit the LSH story (never all-pairs);
negatives are one bucketed aggregate + a broadcast-sized anti-join of
the positive set. Output is reproducible on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import pin, pins_of
from .hashing import o_hash56, portable_hash56

NEG_BUCKETS = 64  # fixture-scale width; library callers get a derived width
NEG_SALT = "negpair-v1"
# target per-bucket rows when n_buckets is derived from a corpus count:
# bounds the window sort at ~4k rows/bucket while keeping bucket count
# (= parallelism) proportional to corpus size
NEG_BUCKET_ROWS = 4096


def _derived_buckets(docs: DataFrame) -> int:
    """n_buckets ~ N / NEG_BUCKET_ROWS from one eager ``count()``.

    COST NOTE: this executes ``docs``'s lineage once, at plan-
    construction time, just to pick a width — ``DataFrame.count()`` is
    NOT a metadata-only operation (parquet aggregate pushdown is off by
    default, and any upstream transformation forces a full pass
    regardless). Callers feeding an expensive unpersisted pipeline
    should ``persist()`` it first, or pass ``n_buckets`` explicitly
    (e.g. from a known corpus size / partition-count estimate) to skip
    the count entirely. A fixed default remains the bigger scale trap:
    64 buckets over a production corpus means 64-way parallelism and
    N/64-row window sorts."""
    n = docs.count()
    return max(1, -(-n // NEG_BUCKET_ROWS))


def negative_pairs(
    docs: DataFrame, n_buckets: int | None = None, salt: str = NEG_SALT
) -> DataFrame:
    """(d1, d2) pseudo-random pairs via hash co-bucketing with RING
    pairing: within each salted-hash bucket, docs are ranked by a
    second salted hash (ties by id) and consecutive ranks pair up —
    every doc lands in AT MOST ONE pair (no hub: pairing each doc with
    a fixed bucket anchor would give that anchor bucket_size partners,
    a skew disaster at corpus scale). Deterministic, content-
    independent, d1 < d2 normalized; the window partitions BY BUCKET,
    so ``n_buckets`` ~ N / desired-partition-rows — it is both the
    parallelism width and the per-partition sort bound (see the module
    doc). ``n_buckets=None`` (the default) derives that width from a
    corpus count; pass it explicitly when the caller needs a
    reproducible width independent of corpus growth (e.g. the oracle
    twin, which bakes the width into static SQL)."""
    from pyspark.sql import Window

    if n_buckets is None:
        n_buckets = _derived_buckets(docs)
    b = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))
    ) % n_buckets
    r = portable_hash56(
        F.concat(F.lit(f"{salt}-rank:"), F.col("doc_id").cast("string"))
    )
    ids = docs.select(F.col("doc_id"), b.alias("bkt"), r.alias("__r"))
    w = Window.partitionBy("bkt").orderBy("__r", "doc_id")
    ranked = ids.withColumn("rk", F.row_number().over(w)).withColumn(
        "grp", ((F.col("rk") - 1) / 2).cast("long")
    )
    return (
        ranked.groupBy("bkt", "grp")
        .agg(
            F.min("doc_id").alias("d1"),
            F.max("doc_id").alias("d2"),
            F.count("*").alias("__n"),
        )
        .where(F.col("__n") == 2)  # the odd doc out of a bucket sits out
        .select("d1", "d2")
    )


def contrastive_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_buckets: int | None = None,
    salt: str = NEG_SALT,
) -> DataFrame:
    """Labelled training pairs: near-dup positives (label 1, verified
    Jaccard carried) + hash-co-bucket negatives (label 0, any pair the
    near-dup pass also surfaced is removed). Output:
    (d1, d2, label, jaccard)."""
    from . import dedup

    mined = dedup.minhash_lsh_pairs(docs, threshold=threshold)
    pos = mined.select("d1", "d2", F.lit(1).alias("label"), "jaccard")
    neg = (
        negative_pairs(docs, n_buckets=n_buckets, salt=salt)
        .join(pos.select("d1", "d2"), ["d1", "d2"], "left_anti")
        .select(
            "d1",
            "d2",
            F.lit(0).alias("label"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )
    return pin(pos.unionByName(neg), *pins_of(mined))


def o_negative_pairs(
    n_buckets: int = NEG_BUCKETS, salt: str = NEG_SALT, source_sql: str = "documents"
) -> str:
    """DuckDB oracle twin of :func:`negative_pairs` (CTE ``negp``)."""
    h = o_hash56(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    r = o_hash56(f"'{salt}-rank:' || CAST(doc_id AS VARCHAR)")
    return f"""
    npids AS (SELECT doc_id, ({h}) % {n_buckets} AS bkt, {r} AS rh
              FROM {source_sql}),
    npranked AS (
      SELECT doc_id, bkt,
             (ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY rh, doc_id) - 1)
               // 2 AS grp
      FROM npids
    ),
    negp AS (
      SELECT MIN(doc_id) AS d1, MAX(doc_id) AS d2
      FROM npranked GROUP BY bkt, grp HAVING COUNT(*) = 2
    )"""
