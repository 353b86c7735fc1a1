"""Training-data sampling: deterministic splits and mixture weighting.

Two operators every large-scale training pipeline needs in front of the
tokenizer:

- **hash split** — assign each document to train/val/test by a salted
  content-independent hash of its key. Deterministic (same doc → same
  split on every run, any cluster size), order-free (no global sort or
  shuffle — the split is a projection), and stable under corpus growth
  (new docs don't move old ones between splits, unlike modulo-on-row-
  number schemes).
- **mixture sampling** — downsample each domain/source to hit target
  mixture proportions (the "data mixing" step of corpus assembly).
  Per-domain keep-rates derive from per-domain counts (ONE map-side-
  combinable aggregate, output bounded by the number of domains) and
  are applied as a hash-threshold filter — again a pure projection over
  the fact scan, no shuffle, no sort, no RNG state.

Both use the repo's portable md5-based 56-bit hash, so DuckDB oracles
reproduce the exact row selection (Spark's builtin ``rand(seed)`` is
partition-dependent and has no cross-engine twin — unusable for
verified sampling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tables import pin
from .hashing import o_hash56, portable_hash56

# hash buckets per unit interval: rates quantize to 1/10000
BUCKETS = 10_000


def bucket_col(key_col: str, salt: str) -> Column:
    return portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    ) % BUCKETS


def o_bucket(key_expr: str, salt: str) -> str:
    """DuckDB twin of the salted hash bucket (salt quote-escaped —
    it is caller-supplied free text reaching a SQL literal)."""
    salt = salt.replace("'", "''")
    salted = f"'{salt}:' || CAST({key_expr} AS VARCHAR)"
    return f"({o_hash56(salted)} % {BUCKETS})"


def hash_split(
    docs: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split-v1",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named fraction.

    ``fractions`` maps split name → fraction; they must sum to ≤ 1 (any
    remainder falls into the LAST split). Assignment is by cumulative
    bucket thresholds over the salted key hash — changing the salt
    re-draws the whole assignment (the standard "split version" knob).
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    b = bucket_col(key_col, salt)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        thr = int(round(acc * BUCKETS))
        expr = (
            F.when(b < thr, name) if expr is None else expr.when(b < thr, name)
        )
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(names[-1])
    return docs.withColumn("split", split)


def o_hash_split(fractions: dict[str, float], key_expr: str = "doc_id",
                 salt: str = "split-v1") -> str:
    """DuckDB CASE expression twin of :func:`hash_split`."""
    b = o_bucket(key_expr, salt)
    acc = 0.0
    names = list(fractions)
    # split names are caller-supplied free text headed into SQL
    # string literals — quote-escape them like o_bucket's salt
    lits = {n: n.replace("'", "''") for n in names}
    whens = []
    for name in names[:-1]:
        acc += fractions[name]
        whens.append(
            f"WHEN {b} < {int(round(acc * BUCKETS))} THEN '{lits[name]}'"
        )
    if not whens:  # single split: CASE with no WHEN is invalid SQL
        return f"'{lits[names[-1]]}'"
    return "CASE " + " ".join(whens) + f" ELSE '{lits[names[-1]]}' END"


def mixture_rates(
    counts: dict[str, int], weights: dict[str, float], target_total: int
) -> dict[str, int]:
    """Per-domain keep thresholds (out of BUCKETS) hitting the target
    mixture: domain d gets ``target_total * w_d / Σw`` docs, capped at
    its population (no upsampling — a domain short of its quota yields
    what it has, like real mixture builders that then re-normalize).
    Driver-side over the BOUNDED per-domain count dict.

    Thresholds truncate toward zero (``int()``); any oracle computing
    them in SQL must use FLOOR, not a rounding CAST, or boundary
    buckets diverge between engines."""
    wsum = sum(weights.values())
    thresholds = {}
    for d, n in counts.items():
        w = weights.get(d, 0.0)
        quota = target_total * w / wsum if wsum else 0.0
        rate = min(1.0, quota / n) if n else 0.0
        thresholds[d] = int(rate * BUCKETS)
    return thresholds


def domain_case(mapping: dict, domain_col: str) -> Column:
    """Literal CASE over a BOUNDED per-domain mapping (#domains
    branches, sorted for a deterministic expression) — the shared
    shape of every per-domain scalar lookup here and in the pipeline's
    calibrated gates: one pushdown-friendly scan, no join. No
    ``otherwise``: unmapped or NULL domains yield NULL, and each
    caller chooses its own default. Raises on an empty mapping —
    callers decide what "no domains" means."""
    if not mapping:
        raise ValueError("mapping must be non-empty")
    expr = None
    for d, v in sorted(mapping.items()):
        cond = F.col(domain_col) == d
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr


def _threshold_filter(
    docs: DataFrame, thresholds: dict[str, int], domain_col: str,
    key_col: str, salt: str,
) -> DataFrame:
    """Apply per-domain bucket thresholds as a literal CASE over the
    domain column (:func:`domain_case`). An empty threshold dict keeps
    nothing (there are no domains to keep)."""
    if not thresholds:
        return docs.where(F.lit(False))
    b = bucket_col(key_col, salt)
    expr = domain_case(thresholds, domain_col)
    return docs.where(b < expr.otherwise(F.lit(0)))


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    target_total: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Filter ``docs`` down to ≈``target_total`` rows with domain
    proportions following ``weights``. Phase 1 is one bounded aggregate
    (per-domain counts, collected — O(#domains) driver state); phase 2
    is a hash-threshold filter built as a literal CASE over the domain
    column, so the scan stays a single pushdown-friendly pass with no
    join."""
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(domain_col).count().collect()  # bounded: #domains
    }
    thr = mixture_rates(counts, weights, target_total)
    return _threshold_filter(docs, thr, domain_col, key_col, salt)


def domain_quality_cap(
    docs: DataFrame,
    cap: int,
    domain_col: str = "source",
    hot_factor: int | None = None,
) -> DataFrame:
    """Domain balancing by quality: keep at most ``cap`` documents per
    domain, the highest-quality ones first (ties on quality break by
    doc_id, so the selection is a total order and deterministic on any
    cluster). Output: (doc_id, domain, quality, rk).

    The classic "cap the over-represented domain" step of corpus
    assembly — mixture sampling (above) hits *proportions* with a
    hash filter; this hits an absolute *budget* with a quality
    ordering, the shape used when one crawl dominates the corpus.

    Scale shape: quality is a projection over the scan
    (:func:`..llmdata.textstats.quality_scores` passes the domain
    through, no re-join); the rank is a window partitioned BY DOMAIN —
    never a global sort — so parallelism is #domains-wide and each
    partition streams.

    ``hot_factor`` enables the hot-domain path: a domain holding more
    than ``hot_factor * cap`` docs gets its quality cutoff estimated
    from an approx quantile (margin 3x the cap against the sketch's
    rank error) and is FILTERED to the candidates above the cutoff
    before any ranking, so the window never materializes a dominant
    crawl's full membership on one partition. If the sketch
    under-selects anyway (fewer than cap candidates survive), that
    domain falls back to the exact path — the output is therefore
    IDENTICAL to the plain window in every case, only the work shape
    changes. Per-hot-domain driver work is bounded by the number of
    hot domains (few, by definition)."""
    from pyspark.sql import Window

    from .textstats import quality_scores

    q = quality_scores(docs, keep=(domain_col,)).select(
        "doc_id", F.col(domain_col).alias("domain"), "quality"
    )
    if hot_factor:
        counts = {r[0]: r[1] for r in q.groupBy("domain").count().collect()}
        hot = {d: c for d, c in counts.items() if c > hot_factor * cap}
        if hot:
            q = q.persist()
            # NOT-IN drops NULL domains; the plain window ranks NULL as
            # its own partition, so the hot path must keep it too
            frames = [
                q.where(
                    (~F.col("domain").isin(*hot)) | F.col("domain").isNull()
                )
            ]
            for d, c in sorted(hot.items()):
                frac = max(0.0, 1.0 - (3.0 * cap) / c)
                cut = (
                    q.where(F.col("domain") == d)
                    .agg(F.percentile_approx("quality", frac, 10000).alias("cut"))
                    .collect()[0]["cut"]
                )
                sub = q.where(
                    (F.col("domain") == d) & (F.col("quality") >= cut)
                )
                if sub.count() < min(cap, c):  # sketch under-selected
                    sub = q.where(F.col("domain") == d)
                frames.append(sub)
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            q = out
    w = (
        Window.partitionBy("domain")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
    )
    out = (
        q.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cap)
        .select("doc_id", "domain", "quality", F.col("rk").cast("int").alias("rk"))
    )
    return pin(out, q)


def domain_token_budget(
    docs: DataFrame, budget: int, domain_col: str = "source"
) -> DataFrame:
    """Per-domain TOKEN budget: keep each domain's highest-quality docs
    until the domain's cumulative token count reaches ``budget`` —
    mixture planning in the unit that actually costs training compute
    (tokens), where :func:`domain_quality_cap` budgets doc COUNTS. A
    doc is admitted while its domain's budget is not yet filled
    (tokens of strictly better-ranked docs < budget), so the crossing
    doc is kept and the spend overshoots by at most one document — the
    deterministic greedy rule. Quality ties break by doc_id; docs with
    NULL quality (NULL text — an empty string still tokenizes and
    competes, the `quality_scores` convention) are outside the
    selection, and so are docs with a NULL domain — a token budget for
    an unnamed source is as meaningless as a quality cut for one, the
    same posture as `quality_gate_keep_rate_by_domain` (without it the
    NULL group would be granted a full domain-budget of un-sourced
    text). Output: (doc_id, domain, quality, n_tokens, tok_before).

    Scale shape: quality and the token count come from the ONE
    quality-scan projection (no re-join); the running token total is a
    window partitioned BY DOMAIN — never a global sort — so
    parallelism is #domains-wide and each partition streams. Same
    window discipline as :func:`domain_quality_cap`; a dominant crawl
    can reuse its hot-domain pre-filter upstream if needed."""
    from pyspark.sql import Window

    from .textstats import quality_scores

    q = quality_scores(docs, keep=(domain_col,)).select(
        "doc_id", F.col(domain_col).alias("domain"), "quality", "n_tokens"
    ).where(F.col("quality").isNotNull() & F.col("domain").isNotNull())
    w = (
        Window.partitionBy("domain")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        q.withColumn(
            "tok_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
        )
        .where(F.col("tok_before") < budget)
        .select(
            "doc_id", "domain", "quality",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "tok_before",
        )
    )


def _validate_epochs(epochs: dict[str, int], default_epochs: int) -> None:
    """THE negative-count guard, shared by the Spark column builder
    AND the DuckDB oracle renderer — a negative default would
    otherwise silently delete every unmapped domain via the 0-epoch
    vanish rule instead of raising, on either engine."""
    if default_epochs < 0:
        raise ValueError(f"negative default_epochs {default_epochs}")
    for dom, n in sorted(epochs.items()):  # deterministic message
        if n < 0:
            raise ValueError(f"negative epoch count for {dom!r}")


def epoch_reps(
    epochs: dict[str, int], domain_col: str, default_epochs: int
) -> Column:
    """Validated per-domain repeat-factor CASE shared by
    :func:`epoch_upsample` and ``CorpusPipeline.epochs`` — ONE source
    (:func:`_validate_epochs`) for the negative-count guard."""
    _validate_epochs(epochs, default_epochs)
    reps = F.lit(default_epochs)
    for dom, n in sorted(epochs.items()):
        reps = F.when(F.col(domain_col) == dom, F.lit(n)).otherwise(reps)
    return reps


def epoch_explode(reps: Column) -> Column:
    """The guarded 1-based epoch generator over a repeat-factor
    column: Spark's sequence(1, 0) steps DOWN to [1, 0], so a 0-epoch
    domain must route to an empty array to vanish (DuckDB's
    range(1, 1) = [] agrees) — the subtlety lives here exactly once."""
    return F.explode(
        F.when(reps >= 1, F.sequence(F.lit(1), reps)).otherwise(
            F.array().cast("array<int>")
        )
    )


def epoch_upsample(
    docs: DataFrame,
    epochs: dict[str, int],
    domain_col: str = "source",
    default_epochs: int = 1,
) -> DataFrame:
    """Mixture UPSAMPLING by repetition: emit each document
    ``epochs[domain]`` times (default ``default_epochs``), tagged with
    a 1-based epoch index — the "N epochs of the high-quality domain"
    weighting of real pre-training mixes (downsampling caps a domain;
    repetition is how a small trusted corpus gets overweighted).

    A pure projection + generator over the scan: the per-domain repeat
    factor is a literal CASE (bounded dict, no join), the repetition an
    ``explode(sequence(...))`` — JVM-side row generation, no shuffle,
    no Python. Downstream shuffles see the repeated rows, which is the
    point: the tokenizer/packer consumes epochs as ordinary rows."""
    return (
        docs.withColumn(
            "__reps", epoch_reps(epochs, domain_col, default_epochs)
        )
        .withColumn("__epoch", epoch_explode(F.col("__reps")))
        .select(
            "doc_id",
            F.col(domain_col).alias("domain"),
            F.col("__epoch").cast("bigint").alias("epoch"),
        )
    )


def o_epoch_upsample(
    epochs: dict[str, int],
    domain_col: str = "source",
    default_epochs: int = 1,
) -> str:
    """DuckDB oracle twin of :func:`epoch_upsample` (same
    `_validate_epochs` guard — the twins must reject the same
    inputs, not diverge into raise-vs-silent-deletion)."""
    _validate_epochs(epochs, default_epochs)
    whens = " ".join(
        f"WHEN '{dom}' THEN {n}" for dom, n in sorted(epochs.items())
    )
    case = (
        f"CASE {domain_col} {whens} ELSE {default_epochs} END"
        if whens
        else str(default_epochs)  # CASE with no WHEN arm is invalid SQL
    )
    return f"""
    SELECT doc_id, {domain_col} AS domain,
           CAST(unnest(range(1, reps + 1)) AS BIGINT) AS epoch
    FROM (
      SELECT doc_id, {domain_col},
             {case} AS reps
      FROM documents
    )"""


def shard_training_order(
    docs: DataFrame,
    n_shards: int,
    salt: str = "shard-v1",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-data sharding + within-shard order: shard
    = salted content-independent hash of the key mod ``n_shards``;
    position = rank of that hash within the shard (ties by key). The
    dataloader story at the end of corpus assembly: every run of the
    pipeline, at any cluster size, materializes byte-identical shards
    in byte-identical order — a reproducible "global shuffle" without
    any RNG state or global sort.

    Scale shape: the shard id is a pure projection; the position is a
    window partitioned BY SHARD — production shard counts (thousands,
    sized so a shard fits a dataloader worker) give the window full
    parallelism and hash-balanced partitions by construction. Nothing
    is ordered globally; writing then partitions by shard and sorts
    within partitions (`sortWithinPartitions`), the exact layout
    `partitionBy(shard)` parquet writers want."""
    from pyspark.sql import Window

    h = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    d = docs.select(
        key_col, h.alias("__h"), F.pmod(h, F.lit(n_shards)).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("__h", key_col)
    return d.select(
        key_col,
        F.col("shard").cast("int").alias("shard"),
        F.row_number().over(w).alias("position"),
    )


def curriculum_order(
    scored: DataFrame,
    n_shards: int,
    stages: int = 4,
    salt: str = "shard-v1",
    key_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-curriculum training order: `shard_training_order`'s
    deterministic shard + position, with the within-shard order keyed
    FIRST by a coarse quality stage (descending — cleanest data warms
    the model up, the curriculum-learning schedule) and only then by
    the reproducible hash. ``scored`` carries (``key_col``,
    ``score_col``); stage = min(stages-1, floor(score * stages)) on
    the pround-6 score, and an unscored row (NULL quality — e.g. NULL
    text) gets stage -1 so it sorts LAST deterministically instead of
    wherever NULL ordering falls. Output: (key, shard, stage,
    position).

    Determinism: the stage cut is one multiply + floor on an exact
    pround-6 double — the same IEEE expression the oracle evaluates —
    so engines can never disagree on a boundary; ties inside a stage
    fall back to the hash-then-key total order.

    Scale shape: identical to `shard_training_order` — stage and
    shard are pure projections, position is a window partitioned BY
    SHARD (hash-balanced, full parallelism at production shard
    counts), nothing global."""
    from pyspark.sql import Window

    h = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    stage = (
        F.when(F.col(score_col).isNull(), F.lit(-1))
        .otherwise(
            F.least(
                F.lit(stages - 1).cast("bigint"),
                F.floor(F.col(score_col) * stages),
            )
        )
        .cast("int")
    )
    d = scored.select(
        key_col,
        h.alias("__h"),
        F.pmod(h, F.lit(n_shards)).alias("shard"),
        stage.alias("stage"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("stage").desc(), "__h", key_col
    )
    return d.select(
        key_col,
        F.col("shard").cast("int").alias("shard"),
        "stage",
        F.row_number().over(w).alias("position"),
    )


def o_shard_training_order(
    n_shards: int,
    salt: str = "shard-v1",
    key_expr: str = "doc_id",
    source_sql: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`shard_training_order` over any
    relation (table name or CTE)."""
    h = o_hash56(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    return f"""
    SELECT doc_id, CAST(shard AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY __h, doc_id) AS INT) AS position
    FROM (SELECT {key_expr} AS doc_id, {h} AS __h, ({h}) % {n_shards} AS shard
          FROM {source_sql})"""


def o_curriculum_order(
    n_shards: int,
    stages: int = 4,
    salt: str = "shard-v1",
    qual_rel: str = "qual",
) -> str:
    """DuckDB oracle twin of :func:`curriculum_order`: LEFT-joins the
    shared quality CTE chain (``qual_rel`` — the caller supplies the
    CTEs) so unscored docs take the deterministic stage -1, then the
    same stage/hash/key window. Same IEEE stage cut (one multiply +
    FLOOR on the pround-6 score)."""
    h = o_hash56(f"'{salt}:' || CAST(d.doc_id AS VARCHAR)")
    return f"""
    SELECT doc_id, CAST(shard AS INT) AS shard, CAST(stage AS INT) AS stage,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY stage DESC, __h, doc_id)
                AS INT) AS position
    FROM (
      SELECT d.doc_id, {h} AS __h, ({h}) % {n_shards} AS shard,
             CASE WHEN q.quality IS NULL THEN -1
                  ELSE LEAST({stages - 1},
                             CAST(FLOOR(q.quality * {stages}) AS BIGINT))
             END AS stage
      FROM documents d LEFT JOIN {qual_rel} q ON q.doc_id = d.doc_id
    )"""


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    salt: str = "shard-v1",
    key_col: str = "doc_id",
) -> None:
    """Materialize the training corpus as ``path/shard=K/`` parquet in
    within-shard training order — the layout a dataloader consumes
    (one worker per shard directory, rows already in read order).

    The physical plan is exactly the :func:`shard_training_order`
    story: shard id is a salted-hash projection, one shuffle lands
    each shard on one task (`repartition(n_shards, shard)`), rows sort
    WITHIN partitions only (no global sort), and `partitionBy(shard)`
    writes each directory from its one task — so files are written in
    position order and re-runs are byte-stable."""
    h = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    assigned = (
        docs.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("__h", key_col)
    (
        assigned.withColumn("position", F.row_number().over(w))
        .drop("__h")
        .repartition(n_shards, "shard")
        # the sort must LEAD with the partition column: V1Writes requires
        # ordering by the partitionBy key and ELIMINATES a user sort that
        # lacks it, inserting its own shard-only sort — with "position"
        # alone the training order never actually runs (verified in the
        # executed plan); ("shard", "position") satisfies the writer's
        # requirement, so this exact sort is the one executed
        .sortWithinPartitions("shard", "position")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def write_curriculum_shards(
    scored: DataFrame,
    path: str,
    n_shards: int,
    stages: int = 4,
    salt: str = "shard-v1",
    key_col: str = "doc_id",
    score_col: str = "quality",
) -> None:
    """:func:`write_training_shards` with :func:`curriculum_order`'s
    schedule: ``path/shard=K/`` parquet where each shard reads in
    quality-curriculum order (stage DESC — cleanest data first — then
    the reproducible hash, unscored rows last). ``scored`` carries the
    corpus columns PLUS ``score_col``; the written rows keep every
    input column plus (stage, position).

    Same physical story as the hash writer: stage/shard are
    projections, ONE shuffle lands each shard on one task, rows sort
    WITHIN partitions only, and the sort leads with the partitionBy
    key so V1Writes executes exactly this sort (see
    `write_training_shards` for why)."""
    h = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    stage = (
        F.when(F.col(score_col).isNull(), F.lit(-1))
        .otherwise(
            F.least(
                F.lit(stages - 1).cast("bigint"),
                F.floor(F.col(score_col) * stages),
            )
        )
        .cast("int")
    )
    assigned = (
        scored.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("stage", stage)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(
        F.col("stage").desc(), "__h", key_col
    )
    (
        assigned.withColumn("position", F.row_number().over(w))
        .drop("__h")
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "position")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int,
    salt: str = "shard-v1",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reproducibility manifest per training shard: doc count, token
    total, and an order-free XOR checksum of the member documents'
    content hashes. Two runs of the assembly pipeline (at any cluster
    size, any partitioning) produce the same manifest iff they produced
    the same shards — the cheap end-to-end integrity check every
    production dataloader pipeline records next to its shards.

    XOR is the right fold for the checksum: commutative/associative
    (partition-order-free), overflow-free on the 56-bit hash domain,
    and any single changed/missing/extra document flips it.

    Scale shape: one projection (shard id, token count, content hash)
    over one corpus scan, one map-side-combinable aggregate keyed by
    shard. Output is n_shards rows."""
    h = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    d = docs.select(
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        F.size(F.split(F.lower(F.col(text_col)), " ")).alias("__ntok"),
        portable_hash56(F.col(text_col)).alias("__th"),
    )
    return d.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("__ntok").cast("long").alias("n_tokens"),
        F.expr("bit_xor(__th)").alias("content_xor"),
    )


def o_shard_manifest(
    n_shards: int,
    salt: str = "shard-v1",
    key_expr: str = "doc_id",
    source_sql: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`shard_manifest`."""
    h = o_hash56(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    return f"""
    SELECT CAST(shard AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(__ntok) AS BIGINT) AS n_tokens,
           bit_xor(__th) AS content_xor
    FROM (SELECT ({h}) % {n_shards} AS shard,
                 len(string_split(lower(text), ' ')) AS __ntok,
                 {o_hash56('text')} AS __th
          FROM {source_sql})
    GROUP BY shard"""


def stratified_sample_n(
    docs: DataFrame,
    n_per_stratum: int,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "strat-v1",
) -> DataFrame:
    """Deterministic fixed-``n``-per-stratum sample: within each
    stratum, rank documents by their salted content-independent hash
    (ties by key) and keep the first ``n_per_stratum``. The eval-set /
    calibration-set builder: unlike mixture sampling (proportions) or
    the quality cap (budget by score), this draws a fixed-size
    pseudo-random-but-reproducible panel per stratum — same panel on
    every run, any cluster size, and stable under corpus growth in the
    same sense as hash_split (a new doc displaces at most one panel
    member, where row-number-on-arrival schemes reshuffle everything).

    Scale shape: the hash is a projection; the rank is a window
    partitioned BY STRATUM (parallelism = #strata, each partition
    streams); no global sort, no RNG state. Output: (doc_id, stratum,
    rk)."""
    from pyspark.sql import Window

    h = portable_hash56(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    d = docs.select(
        key_col, F.col(stratum_col).alias("stratum"), h.alias("__h")
    )
    w = Window.partitionBy("stratum").orderBy("__h", key_col)
    return (
        d.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= n_per_stratum)
        .select(key_col, "stratum", "rk")
    )


def o_stratified_sample_n(
    n_per_stratum: int,
    stratum_expr: str = "source",
    key_expr: str = "doc_id",
    salt: str = "strat-v1",
    source_sql: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`stratified_sample_n`."""
    h = o_hash56(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    return f"""
    SELECT doc_id, stratum, CAST(rk AS INT) AS rk
    FROM (
      SELECT {key_expr} AS doc_id, {stratum_expr} AS stratum,
             ROW_NUMBER() OVER (PARTITION BY {stratum_expr}
                                ORDER BY {h}, {key_expr}) AS rk
      FROM {source_sql})
    WHERE rk <= {n_per_stratum}"""


def temperature_weights(counts: dict[str, int], alpha: float) -> dict[str, int]:
    """Temperature-scaled domain weights: w_d ∝ (n_d / Σn)^alpha — the
    multilingual/multi-domain balancing rule (alpha=1 keeps natural
    proportions, alpha->0 approaches uniform; 0.3-0.7 are the published
    sweet spots). Returns INTEGER-quantized weights (scaled by 1e9):
    the quantization makes the downstream weight SUM exact in any
    engine/order, so the only cross-engine surface is `pow` itself
    (evaluated by the same libm for Python and DuckDB on one host, and
    empirically hash-verified at every sf). Driver-side over the
    bounded per-domain count dict."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    total = sum(counts.values())
    if not total:
        return {d: 0 for d in counts}
    import math

    return {
        d: int(math.floor((n / total) ** alpha * 1_000_000_000 + 0.5))
        for d, n in counts.items()
    }


def temperature_thresholds(
    counts: dict[str, int], alpha: float, target_total: int
) -> dict[str, int]:
    """Bucket thresholds for temperature-scaled mixture sampling —
    the exact integer/IEEE chain the oracle replays in SQL."""
    return mixture_rates(
        counts, temperature_weights(counts, alpha), target_total
    )


def mixture_sample_temperature(
    docs: DataFrame,
    alpha: float,
    target_total: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mixT-v1",
) -> DataFrame:
    """Mixture sampling with temperature-scaled weights: per-domain
    counts (one bounded aggregate) -> alpha-scaled integer weights ->
    thresholds -> single-scan hash filter. Same plan shape as
    :func:`mixture_sample`; only the weight rule differs."""
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(domain_col).count().collect()  # bounded: #domains
    }
    thr = temperature_thresholds(counts, alpha, target_total)
    return _threshold_filter(docs, thr, domain_col, key_col, salt)


def o_mixture_sample_temperature(
    alpha: float,
    target_total: int,
    domain_col: str = "source",
    key_expr: str = "doc_id",
    salt: str = "mixT-v1",
    source_sql: str = "documents",
) -> str:
    """DuckDB oracle twin: replays the integer-quantized weight chain
    in SQL (pow -> floor-quantize to 1e9 -> exact BIGINT sum -> IEEE
    rate division -> FLOOR threshold), so every arithmetic step after
    `pow` is bit-identical to the Python driver side."""
    b = o_bucket(key_expr, salt)
    return f"""
    SELECT s.* FROM {source_sql} s
    JOIN (
      SELECT {domain_col} AS dom,
             CAST(FLOOR(LEAST(1.0,
                    ({target_total} * w9 / wsum) / n) * {BUCKETS}) AS BIGINT) AS t
      FROM (
        SELECT {domain_col}, n,
               CAST(FLOOR(pow(CAST(n AS DOUBLE) / tot, {alpha!r})
                          * 1000000000 + 0.5) AS BIGINT) AS w9,
               SUM(CAST(FLOOR(pow(CAST(n AS DOUBLE) / tot, {alpha!r})
                              * 1000000000 + 0.5) AS BIGINT)) OVER () AS wsum
        FROM (SELECT {domain_col}, COUNT(*) AS n,
                     SUM(COUNT(*)) OVER () AS tot
              FROM {source_sql} GROUP BY {domain_col})
      )
    ) thr ON thr.dom = s.{domain_col}
    WHERE {b} < thr.t"""
