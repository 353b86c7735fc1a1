"""Near-dup cluster assignment: connected components over candidate
pairs, the step between pair discovery (:mod:`.dedup`) and corpus
pruning — docs in one component keep a single canonical representative.

Scale design: the alternating **large-star / small-star** scheme of the
MapReduce connected-components literature (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the published
O(log n)-round algorithm for graphs that don't fit one machine:

- each round is a constant number of groupBy/join shuffles on the edge
  list; neighborhoods are NEVER collected into arrays (a hub's degree
  is unbounded at 100 TB), the per-node minimum comes from an
  aggregate and joins back;
- large-star hangs every bigger neighbor under the neighborhood
  minimum (cuts long chains in half each round), small-star flattens
  the smaller neighbors onto it — together they converge to star
  graphs where every node points at its component minimum;
- convergence is detected by an order-insensitive edge-set fingerprint
  (count + sum of xxhash64), one tiny aggregate per round, bounded by
  ``max_iter`` as a safety net.

The driver loop holds only the fingerprint — O(1) — never edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import local_frame


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) -> for every node u, hang each LARGER neighbor v under
    m = min(N(u) + {u})."""
    both = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        both.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        both.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges big->small, then point every smaller neighbor (and
    u itself) at m = min(N(u) + {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        oriented.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = m.select("u", F.col("m").alias("v"))
    return moved.union(self_edges).distinct()


def _fingerprint(edges: DataFrame) -> tuple:
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal accumulator: a long SUM of 64-bit hashes overflows
        # under ANSI mode on any non-trivial edge count
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


# Below this edge count the component fold runs driver-side, replacing
# ~1 s/round of distributed star scheduling with a sub-second
# union-find. Above it, the O(log n) star rounds run. Budget: the raw
# payload is ~16 MB of longs, but what the driver actually
# materializes is Python objects — MEASURED at the threshold (1M
# random edges over ~1.4M nodes, ru_maxrss delta): ~130 MB for the
# collected edge list, ~315 MB peak once the dict-based union-find
# builds parent/root maps; Row objects from a real collect() add ~2x
# on the list. Size a driver for ~0.5-1 GB of headroom at this
# threshold — trivial for a 100 TB-job driver, but NOT the "16 MB"
# the raw-long arithmetic suggests.
LOCAL_CC_MAX_EDGES = 1_000_000


def _driver_union_find(edge_rows) -> list[tuple]:
    """Union-find with path compression over a bounded edge list;
    returns (doc_id, component_min) for every node seen."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    return [(x, comp_min[r]) for x, r in roots.items()]


def connected_components(
    pairs: DataFrame, max_iter: int = 15
) -> DataFrame:
    """(d1, d2) undirected pair list -> (doc_id, cluster_id) where
    cluster_id is the minimum doc_id of the connected component. Only
    nodes appearing in at least one pair are labeled (singletons are
    their own trivial cluster and never shuffle here).

    Each round ends in ``localCheckpoint`` — the iterative-algorithm
    necessity, not a convenience: a round references its predecessor
    several times, so the unrolled lineage branches exponentially and
    even the PLAN (analysis + codegen per job) grows without bound.
    Checkpointing pins the round to its materialized blocks and keeps
    every plan one round deep. (Checkpointing every SECOND round was
    tried and is ~2x slower: the unmaterialized middle round is
    recomputed once per reference by the next round's star ops.) The
    checkpointed frame is the edge list — O(near-dup pairs), orders of
    magnitude below the corpus — which is the same per-iteration
    truncation GraphFrames' connected components applies.

    Two-tier execution: the initial fingerprint puts the edge COUNT on
    the driver for free, and when it is under ``LOCAL_CC_MAX_EDGES``
    the fold collects the (bounded) edge list and runs union-find
    driver-side — near-dup edge lists are typically orders of magnitude
    below the corpus, and the distributed star rounds cost ~1 s each in
    pure scheduling at any size. Past the threshold the O(log n) star
    rounds run unchanged, so the 100 TB path is identical."""
    edges = pairs.select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    ).distinct().localCheckpoint()
    prev = _fingerprint(edges)
    if prev[0] <= LOCAL_CC_MAX_EDGES:
        spark = pairs.sparkSession
        labels = _driver_union_find(
            [(r["u"], r["v"]) for r in edges.collect()]
        )
        utype = dict(edges.dtypes)["u"]
        out = local_frame(spark, labels, "doc_id long, cluster_id long")
        return out.select(
            F.col("doc_id").cast(utype), F.col("cluster_id").cast(utype)
        )
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .union(edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")))
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster assignment + canonical selection over near-dup pairs:
    (doc_id, cluster_id, cluster_size, is_canonical) — keep rows where
    ``is_canonical`` (the component minimum) to dedup the corpus."""
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def canonicals_by_score(
    clusters: DataFrame, scores: DataFrame, score_col: str = "quality"
) -> DataFrame:
    """Re-elect each cluster's canonical by a per-doc score: the member
    with the HIGHEST score wins (ties fall to the smallest doc_id) —
    the policy production dedup pipelines actually want ("among
    near-dups, keep the best copy"), replacing
    :func:`near_dup_clusters`'s structural component-minimum default.
    ``clusters`` is any (doc_id, cluster_id, ...) assignment;
    ``scores`` carries (doc_id, ``score_col``). Members missing a
    score rank below every scored member — they only win a cluster
    with no scored member at all. Output: the clusters frame with
    ``is_canonical`` replaced by the score-elected flag.

    Scale shape: one left join to attach scores (cluster membership is
    a small fraction of the corpus — only docs with a near-dup pair),
    then a map-side-combinable struct-max per cluster (score first,
    negated doc_id second, so the comparator IS the election rule —
    no window, no per-cluster sort), and a skinny broadcast-size join
    back. Deterministic for any input order."""
    neg_inf = F.lit(float("-inf"))
    ranked = clusters.drop("is_canonical").join(
        scores.select("doc_id", F.col(score_col).alias("__score")),
        "doc_id",
        "left",
    )
    winners = ranked.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.coalesce("__score", neg_inf).alias("s"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("__w")
    )
    return (
        ranked.join(winners, "cluster_id")
        .withColumn(
            "is_canonical", F.col("doc_id") == -F.col("__w.nid")
        )
        .drop("__score", "__w")
    )

def split_by_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    salt: str = "split-v1",
) -> DataFrame:
    """Leakage-SAFE train/val/test split: every member of a near-dup
    cluster draws its split from ONE key — the cluster's
    component-minimum label — so a benchmark document can never have a
    near-copy on the other side of the split. This is the FIX operator
    paired with the `split_leakage_audit` report: document-level
    hash splitting (`sampling.hash_split`) leaves every near-dup pair
    a coin-flip away from train/test contamination; re-keying by
    cluster drives the audit's ``leaky`` count to exactly zero while
    unclustered docs (the overwhelming majority) keep their ordinary
    per-doc assignment under the SAME salt and thresholds.

    ``docs`` is any (doc_id, ...) frame; ``pairs`` the near-dup edges
    (d1, d2) from any discovery path (exact-Jaccard, MinHash-LSH,
    SimHash...). Output: docs' columns + nullable ``cluster_id`` +
    ``split`` (a pre-existing ``cluster_id`` on ``docs`` is replaced
    by the labels derived from ``pairs`` — the split must key on THESE
    edges, not a stale labeling).

    Scale shape: the CC labels come straight from
    :func:`connected_components` — the audited O(log n)
    large-star/small-star fold over the PAIRS only (cluster membership
    is a small fraction of the corpus); `near_dup_clusters`' size
    aggregate and canonical election are skipped because the split
    needs nothing but the label. The label attach is one left join on
    doc_id, and the split stamp is a pure hash projection — no extra
    shuffle beyond the label join, no window, no driver data.
    """
    from .sampling import hash_split

    lbl = connected_components(pairs)
    keyed = docs.drop("cluster_id").join(lbl, "doc_id", "left").withColumn(
        "__split_key", F.coalesce("cluster_id", "doc_id")
    )
    return hash_split(keyed, fractions, key_col="__split_key", salt=salt).drop(
        "__split_key"
    )
