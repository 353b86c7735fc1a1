"""Benchmark decontamination: flag corpus documents sharing word
n-grams with an evaluation/benchmark set — the standard pre-training
hygiene step (the GPT-3/PaLM papers' 13-gram collision rule, here
parameterized; the driver fixture's short docs use n=5).

Scale design: the benchmark side reduces to its DISTINCT shingle set —
eval suites are tiny next to a 100 TB corpus, so the join is a classic
large-fact x small-dim shape that AQE broadcasts; the corpus side is
the one-shuffle shingle explosion shared with the dedup family
(:mod:`.shingles`), and the overlap count is a map-side-combinable
groupBy. Nothing is ever all-pairs and the corpus is scanned once.

The join runs on RAW shingle strings, not the portable 56-bit hash:
collision detection only needs equality, so hashing would add a
md5+hex-slice+conv expression chain per corpus shingle for nothing
(string equality is also exact where a hash join is
collision-approximate). The dedup family keeps the hash because
MinHash/SimHash need numeric hash values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import pin, pins_of
from .shingles import shingle_index


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """(doc_id, n_overlap, contaminated) for every corpus doc: how many
    of its distinct word n-grams appear anywhere in the benchmark, and
    whether that count reaches ``min_hits``. Zero-overlap docs are kept
    (n_overlap = 0) so the output is the full keep/drop decision."""
    bench_set = shingle_index(benchmark, n=n).select("shingle").distinct()
    hits = (
        shingle_index(corpus, n=n)
        .join(bench_set, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0).cast("bigint")).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def fuzzy_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """NEAR-DUP contamination: corpus docs with a MinHash-LSH-discovered,
    exact-Jaccard-verified near-duplicate in the benchmark set — the
    paraphrased-eval-leakage mode that :func:`ngram_overlap`'s exact
    n-gram collision rule misses (a light rewrite shares few exact
    5-grams but keeps most of its 3-gram shingle set). Output one row
    per corpus doc: (doc_id, n_matches, max_jaccard, contaminated).

    Scale shape: both sides band their MinHash signatures (the dedup
    family's machinery, pointed corpus×eval instead of corpus×corpus);
    the EVAL side is bounded by definition — an eval suite, not a
    corpus — so its banded signatures broadcast and candidate discovery
    is a map-side hash join against the corpus bands: no corpus×corpus
    work, no all-pairs, corpus text scanned once (shared persisted
    shingle index feeds signatures and verification). Verification is
    the exact-Jaccard array intersect over candidates only.

    Precondition: corpus and benchmark doc_id spaces must be disjoint
    (same contract as ``dedup.incremental_lsh_matches``); equal ids are
    dropped from candidates as a guard."""
    from . import dedup

    sh_c = dedup.hashed_shingles(corpus, n=n).persist()
    sh_b = dedup.hashed_shingles(benchmark, n=n).persist()
    bc = dedup.banded_signatures(dedup._signatures_from(sh_c)).alias("c")
    bb = dedup.banded_signatures(dedup._signatures_from(sh_b)).alias("b")
    cands = (
        bc.join(
            F.broadcast(bb),
            (F.col("c.band") == F.col("b.band")) & (F.col("c.sig") == F.col("b.sig")),
        )
        .where(F.col("c.doc_id") != F.col("b.doc_id"))
        .select(F.col("c.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    arr_c = sh_c.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    arr_b = sh_b.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    matches = dedup._pair_jaccard_arrays(arr_c, arr_b, cands, threshold)
    per_doc = matches.groupBy("d1").agg(
        F.count("*").alias("n_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    out = (
        corpus.select("doc_id")
        .join(per_doc, F.col("doc_id") == F.col("d1"), "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0).cast("bigint")).alias("n_matches"),
            F.col("max_jaccard"),
            (F.coalesce("n_matches", F.lit(0)) >= 1).alias("contaminated"),
        )
    )
    return pin(out, sh_c, sh_b)


# Intra-corpus boilerplate: a shingle that recurs across a large
# fraction of a source's documents is template text (headers, nav
# chrome, license banners), not content — the CCNet/RefinedWeb-style
# "too common to be signal" rule, applied per source so one domain's
# template can't poison another's statistics.
BOILER_SOURCE_FRAC = 0.05  # shingle is boilerplate within its source
BOILER_DOC_FRAC = 0.5      # doc is boilerplate when most shingles are


def boilerplate_flags(
    corpus: DataFrame,
    n: int = 5,
    source_col: str = "source",
    shingle_src_frac: float = BOILER_SOURCE_FRAC,
    doc_frac: float = BOILER_DOC_FRAC,
) -> DataFrame:
    """Per-doc boilerplate stats: of the doc's distinct word ``n``-grams,
    how many occur in more than ``shingle_src_frac`` of its source's
    documents, and the keep/drop flag when that fraction exceeds
    ``doc_frac``. Output: (doc_id, source, n_shingles, bp_shingles,
    bp_frac, boilerplate).

    Scale shape: the corpus explodes ONCE into the (source, shingle,
    doc) index shared with the dedup family; the per-(source, shingle)
    document frequency is a map-side-combinable aggregate of that
    index; per-source doc counts are a bounded dim (#sources rows) that
    AQE broadcasts. The df threshold compares an exact int count to a
    double product of exact ints — deterministic in both engines. No
    all-pairs, no window, corpus scanned once."""
    from .shingles import shingle_index, with_tokens  # noqa: F401

    idx = shingle_index(corpus, n=n).join(
        corpus.select("doc_id", source_col), "doc_id"
    )
    src_counts = corpus.groupBy(source_col).agg(
        F.count("*").alias("src_docs")
    )
    gram_df = idx.groupBy(source_col, "shingle").agg(
        F.count("*").alias("df")
    )
    boiler = (
        gram_df.join(src_counts, source_col)
        .where(F.col("df") > F.lit(shingle_src_frac) * F.col("src_docs"))
        .select(source_col, "shingle")
    )
    per_doc = (
        idx.join(boiler, [source_col, "shingle"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("bp_shingles"))
    )
    totals = idx.groupBy("doc_id", source_col).agg(
        F.count("*").alias("n_shingles")
    )
    from ..numeric import pround

    bp = F.coalesce("bp_shingles", F.lit(0).cast("bigint"))
    frac = F.when(
        F.col("n_shingles") > 0, pround(bp / F.col("n_shingles"), 6)
    ).otherwise(F.lit(0.0))
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        source_col,
        "n_shingles",
        bp.alias("bp_shingles"),
        frac.alias("bp_frac"),
        (frac > doc_frac).alias("boilerplate"),
    )


def semantic_contamination(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC contamination: corpus vectors with an exact-decimal
    cosine >= ``threshold`` neighbor in the benchmark embedding set —
    the third rung of the decontamination ladder after
    :func:`ngram_overlap` (exact n-gram collisions) and
    :func:`fuzzy_contamination` (lexical near-dups): a translated or
    fully re-worded eval leak shares no shingles at all but still sits
    next to its source in embedding space. Output one row per corpus
    vector: (id, n_matches, max_cosine, contaminated) — zero-match
    vectors kept (n_matches = 0, NULL max_cosine) so the frame is the
    full keep/drop decision, the :func:`fuzzy_contamination` contract.

    Scale shape: multi-table sign-LSH discovery (the measured
    ~0.9-recall config of the `dedup_semantic_recall` card), with the
    BOUNDED eval side's bucket keys broadcast — candidate discovery is
    a map-side hash join against the corpus keys, no corpus x corpus
    and no corpus x eval all-pairs; both key sets come from the same
    Arrow-batched kernel. Verification attaches vectors to the skinny
    candidate pairs by keyed joins and runs the shared two-stage
    double-prefilter + exact-decimal cosine (`simsearch._verify_pairs`
    with the eval frame on the right side, so the corpus is never
    unioned into both branches). Each side's LSH keys and exact-decimal
    norm are computed in ONE fused persisted projection (r17) feeding
    all three consumers — LSH keying, the verify-side normed vectors,
    and the output id left join — so each side is read once, not once
    per branch; both are pinned to the output. Precondition: corpus
    and eval id spaces must be disjoint (the `fuzzy_contamination`
    contract)."""
    from . import simsearch as ss

    # ONE fused projection per side (r17, guide §2.4): the LSH keys and
    # the exact-decimal norm are computed in the SAME persisted pass, so
    # the discovery branch and the verify branch share one corpus read
    # instead of the r16 shape's two cached passes per side (keys pass +
    # with_norm pass). Buckets, norms, pairs and verify are expression-
    # identical — only the pass count changes.
    keys_k = ss._mt_keys_udf(dim)
    base = (
        ss.with_norm(
            ss._respread_narrow(corpus_emb.select(id_col, vec_col)), vec_col
        )
        .withColumn("__keys", keys_k(F.col(vec_col)))
        .persist()
    )
    ebase = (
        ss.with_norm(eval_emb.select(id_col, vec_col), vec_col)
        .withColumn("__keys", keys_k(F.col(vec_col)))
        .persist()
    )
    cand = (
        base.select(F.col(id_col).alias("d1"), F.explode("__keys").alias("bkt"))
        .join(
            F.broadcast(
                ebase.select(
                    F.col(id_col).alias("d2"), F.explode("__keys").alias("bkt")
                )
            ),
            "bkt",
        )
        .where(F.col("d1") != F.col("d2"))  # disjoint-id contract guard
        .select("d1", "d2")
        .distinct()
    )
    matches = ss._verify_pairs(
        cand, base, threshold, id_col, vec_col, normed_right=ebase
    )
    from ..numeric import pround

    per_vec = matches.groupBy("d1").agg(
        F.count("*").alias("n_matches"),
        pround(F.max("cos_raw"), 6).alias("max_cosine"),
    )
    out = (
        base.select(id_col)
        .join(per_vec, F.col(id_col) == F.col("d1"), "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0).cast("bigint")).alias("n_matches"),
            F.col("max_cosine"),
            (F.coalesce("n_matches", F.lit(0)) >= 1).alias("contaminated"),
        )
    )
    return pin(out, base, ebase)


def decontamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_emb: DataFrame | None = None,
    bench_emb: DataFrame | None = None,
    n_exact: int = 5,
    fuzzy_threshold: float = 0.8,
    fuzzy_n: int = 3,
    semantic_threshold: float = 0.9,
    dim: int = 64,
) -> DataFrame:
    """Per-doc contamination EVIDENCE across the whole ladder — the
    audit frame that answers "why was this doc dropped?" with every
    rung's numbers in one row: (doc_id, n_overlap, n_fuzzy,
    max_jaccard, n_semantic, max_cosine, contaminated). Exact n-gram
    collisions and lexical near-dups always run; the semantic rung
    joins in when both embedding frames are supplied — docs WITHOUT a
    vector carry NULL semantic evidence (unknown, not clean-by-fiat),
    and NULL never sets the flag. ``contaminated`` is the any-rung OR,
    the same decision the pipeline's three stages make separately.

    Scale shape: pure composition of the three certified operators
    (each already eval-broadcast, candidate-verified, never all-pairs)
    plus two or three doc_id-keyed left joins of one-row-per-doc
    frames — no new shuffle structure. The rungs' pins pass on to the
    output."""
    ex = ngram_overlap(corpus, benchmark, n=n_exact, min_hits=1).select(
        "doc_id", "n_overlap",
        F.col("contaminated").alias("__c_exact"),
    )
    fz = fuzzy_contamination(
        corpus, benchmark, threshold=fuzzy_threshold, n=fuzzy_n
    )
    out = ex.join(
        fz.select(
            "doc_id",
            F.col("n_matches").alias("n_fuzzy"),
            "max_jaccard",
            F.col("contaminated").alias("__c_fuzzy"),
        ),
        "doc_id",
    )
    flags = [F.col("__c_exact"), F.col("__c_fuzzy")]
    if (corpus_emb is None) != (bench_emb is None):
        raise ValueError(
            "decontamination_report needs BOTH corpus_emb and bench_emb "
            "for the semantic rung (or neither to skip it); a "
            "half-supplied pair would silently report NULL semantic "
            "evidence while looking embedding-screened"
        )
    sem_pins: tuple = ()
    if corpus_emb is not None and bench_emb is not None:
        sem = semantic_contamination(
            corpus_emb.join(corpus.select("doc_id"), "doc_id", "left_semi"),
            bench_emb,
            threshold=semantic_threshold,
            dim=dim,
            id_col="doc_id",
        )
        out = out.join(
            sem.select(
                "doc_id",
                F.col("n_matches").alias("n_semantic"),
                "max_cosine",
                F.col("contaminated").alias("__c_sem"),
            ),
            "doc_id",
            "left",
        )
        flags.append(F.coalesce("__c_sem", F.lit(False)))
        sem_pins = pins_of(sem)
    else:
        out = out.withColumn(
            "n_semantic", F.lit(None).cast("bigint")
        ).withColumn("max_cosine", F.lit(None).cast("double"))
    any_flag = flags[0]
    for f in flags[1:]:
        any_flag = any_flag | f
    result = out.select(
        "doc_id", "n_overlap", "n_fuzzy", "max_jaccard",
        "n_semantic", "max_cosine",
        any_flag.alias("contaminated"),
    )
    return pin(result, *pins_of(fz), *sem_pins)


def decontam_rate_by_source(
    corpus: DataFrame,
    benchmark: DataFrame,
    n_exact: int = 5,
    min_hits: int = 1,
    fuzzy_threshold: float = 0.8,
    fuzzy_n: int = 3,
    source_col: str = "source",
) -> DataFrame:
    """Per-source contamination rates — the release-audit rollup of the
    per-doc decontamination evidence: for every corpus source, how many
    docs the exact n-gram rung flags, how many the fuzzy (MinHash-LSH
    near-dup) rung flags, the any-rung total, and its rate. The number
    a dataset card publishes ("0.4% of crawl X overlapped the eval
    suite and was dropped") and the skew check a mixture review runs —
    contamination concentrated in one source is a different problem
    from a uniform sprinkle. A NULL source keeps its own audit row.

    Scale shape: pure composition of the two certified per-doc
    operators (each eval-broadcast, candidate-verified, never
    all-pairs) + two doc_id-keyed joins of one-row-per-doc frames +
    ONE bounded (source) aggregate. The fuzzy rung's pins pass on to
    the output."""
    from ..numeric import pround

    ex = ngram_overlap(corpus, benchmark, n=n_exact, min_hits=min_hits).select(
        "doc_id", F.col("contaminated").alias("__ex")
    )
    fz = fuzzy_contamination(
        corpus, benchmark, threshold=fuzzy_threshold, n=fuzzy_n
    )
    j = (
        corpus.select("doc_id", F.col(source_col).alias("source"))
        .join(ex, "doc_id")
        .join(fz.select("doc_id", F.col("contaminated").alias("__fz")), "doc_id")
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    out = (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            flag(F.col("__ex")).alias("n_exact_hit"),
            flag(F.col("__fz")).alias("n_fuzzy_hit"),
            flag(F.col("__ex") | F.col("__fz")).alias("n_flagged"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_hit",
            "n_fuzzy_hit",
            "n_flagged",
            pround(
                F.col("n_flagged").cast("double") / F.col("n_docs"), 6
            ).alias("contamination_rate"),
        )
    )
    return pin(out, *pins_of(fz))


def decontam_matrix(
    corpus: DataFrame,
    benchmark: DataFrame,
    set_col: str = "eval_set",
    n: int = 5,
    min_hits: int = 1,
    source_col: str = "source",
) -> DataFrame:
    """Contamination MATRIX: for every (corpus source, eval set) cell,
    how many of the source's docs collide (exact n-gram rule) with
    THAT eval set and at what rate — `decontam_rate_by_source` answers
    "how dirty is each source overall", this answers "which benchmark
    leaks into which crawl", which is what decides whether an eval
    number is still trustworthy after a data refresh. Zero cells are
    REPORTED (a "no leakage" row is the affirmative audit result, not
    an absence); a NULL corpus source keeps its audit row via a
    null-safe grid join.

    Scale shape: the eval side folds to DISTINCT (set, shingle) —
    bounded by definition (eval suites, not corpora) and
    AQE-broadcast against the one-shuffle corpus shingle index; the
    matrix itself is #sources x #sets rows built from a broadcast
    cross of two bounded frames. No corpus x corpus work."""
    from ..numeric import pround

    bsh = (
        shingle_index(benchmark, n=n)
        .join(
            benchmark.select("doc_id", F.col(set_col).alias("eval_set")),
            "doc_id",
        )
        .select("eval_set", "shingle")
        .distinct()
    )
    hits = (
        shingle_index(corpus, n=n)
        .join(bsh, "shingle")
        .groupBy("doc_id", "eval_set")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= min_hits)
    )
    src = corpus.select("doc_id", F.col(source_col).alias("source"))
    per_src = src.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sets = benchmark.select(F.col(set_col).alias("eval_set")).distinct()
    flagged = (
        src.join(hits, "doc_id")
        .groupBy("source", "eval_set")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    grid = per_src.crossJoin(F.broadcast(sets))
    cond = grid["source"].eqNullSafe(flagged["source"]) & (
        grid["eval_set"] == flagged["eval_set"]
    )
    nf = F.coalesce(flagged["n_flagged"], F.lit(0)).cast("bigint")
    return grid.join(flagged, cond, "left").select(
        grid["source"],
        grid["eval_set"],
        grid["n_docs"],
        nf.alias("n_flagged"),
        pround(nf.cast("double") / grid["n_docs"], 6).alias(
            "contamination_rate"
        ),
    )
