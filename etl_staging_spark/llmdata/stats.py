"""Approximate corpus statistics: the planning inputs a 100 TB pipeline
computes before committing to parameters.

- **cardinality** (`approx_count_distinct`, HyperLogLog++): how many
  distinct shingles/urls/doc-keys exist — sizes the MinHash band count,
  decides exact-vs-approximate dedup, budgets the shuffle. One pass,
  O(1) sketch per partition, mergeable.
- **quantiles** (`percentile_approx`, Greenwald-Khanna): token-count
  distribution — picks the sequence-packing length, flags outlier docs.
  Same one-pass mergeable-sketch shape.

Both are approximate by construction, so they carry no DuckDB oracle
(different engines ship different sketches); the tests pin the error
bound against exact answers instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from ..numeric import pround, py_pround
from ..tables import local_frame, pin, pins_of
from .textstats import TOKEN_RE, lang_id


def bpe_token_count(text_col: str) -> Column:
    """THE per-doc BPE-ish token count (TOKEN_RE matches over the
    lowercased text), shared by every card that budgets in tokens —
    `token_length_quantiles`, `exact_corpus_stats`,
    `length_histogram_card` — so the token convention cannot drift
    between the sketch, the exact stats, and the histogram that claims
    to be their certifiable companion."""
    return F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    )


def corpus_cardinality(
    docs: DataFrame, rsd: float = 0.02, text_col: str = "text"
) -> Row:
    """Approximate distinct counts of docs and of word trigram shingles
    in ONE aggregate (no exact distinct — at corpus scale an exact
    count of shingles is itself a giant shuffle)."""
    from .shingles import ngram_array, with_tokens

    toks = with_tokens(docs, text_col)
    exploded = toks.select(
        "doc_id", F.explode_outer(ngram_array(3)).alias("shingle")
    )
    return exploded.agg(
        F.approx_count_distinct("doc_id", rsd).alias("n_docs_approx"),
        F.approx_count_distinct("shingle", rsd).alias("n_shingles_approx"),
    ).head()


def token_length_quantiles(
    docs: DataFrame,
    probabilities: list[float] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
    text_col: str = "text",
) -> list[int]:
    """Approximate quantiles of per-doc token counts (one pass,
    mergeable sketch). Drives the sequence-length / truncation choice:
    seq_len below p99 wastes compute on splits, far above it wastes
    padding."""
    n_tokens = bpe_token_count(text_col)
    row = docs.select(n_tokens.alias("n")).agg(
        F.percentile_approx("n", list(probabilities), accuracy).alias("qs")
    ).head()
    return [int(q) for q in row.qs]


def exact_corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """EXACT corpus planning stats, cross-engine verifiable (the oracle
    twin of the sketches above): doc count, distinct-text count, and
    discrete token-count quantiles (p50/p90 as the smallest value whose
    cumulative frequency reaches rank floor((n-1)*p)+1 — pure integer
    logic, no interpolation, so engines cannot disagree).

    Scale shape: the quantiles come from a VALUE HISTOGRAM, not a sort —
    per-doc token counts live in a tiny bounded domain, so the histogram
    is a map-side-combinable groupBy of #distinct-lengths rows, which
    COLLECTS (the bounded-collect convention of the mixture sampler) and
    resolves the rank elements driver-side: no window anywhere, let
    alone a corpus-sized one. Distinct texts hash-aggregate in one
    shuffle. This is the exact path; the HLL/GK sketches stay the
    one-pass answer when even one shuffle is too expensive."""
    n_tokens = bpe_token_count(text_col)
    base = docs.select(F.sha2(F.col(text_col), 256).alias("h"), n_tokens.alias("n"))
    # two-level: a COUNT(*)+COUNT(DISTINCT) mix would plan an Expand
    # that duplicates every row; grouping by the text hash first makes
    # both totals plain aggregates of the grouped frame. count("h")
    # skips the NULL-text group (sha2(NULL) = NULL) exactly as the
    # oracle's COUNT(DISTINCT h) does; sum(ch) still counts its docs.
    totals = (
        base.groupBy("h")
        .agg(F.count("*").alias("ch"))
        .agg(
            F.sum("ch").alias("n_docs"),
            F.count("h").alias("n_distinct_texts"),
        )
    )
    groups = base.groupBy("n").agg(F.count("*").alias("c")).collect()
    # bounded: #distinct token lengths. NULL-text docs (n = NULL) count
    # toward n_docs — and therefore the quantile RANK — but are not
    # quantile candidates, mirroring the oracle's NULLS-LAST cumulative
    # sum; a rank past the text-bearing mass yields NULL, not the max.
    hist = sorted((r[0], r[1]) for r in groups if r[0] is not None)
    n_docs = sum(r[1] for r in groups)

    def rank_element(p: float) -> int | None:
        import math

        rank = math.floor((n_docs - 1) * p) + 1
        cum = 0
        for v, c in hist:
            cum += c
            if cum >= rank:
                return v
        return None

    # NB: the histogram collects at CALL time while the totals evaluate
    # lazily — callers over mutable sources should snapshot first. The
    # isNotNull guard makes the empty corpus yield ZERO rows (an
    # ungrouped Spark agg otherwise emits one NULL row where the
    # oracle's GROUP BY emits none).
    return totals.where(F.col("n_docs").isNotNull()).select(
        "n_docs",
        "n_distinct_texts",
        F.lit(rank_element(0.5)).cast("bigint").alias("p50_tokens"),
        F.lit(rank_element(0.9)).cast("bigint").alias("p90_tokens"),
    )


def o_exact_corpus_stats(text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`exact_corpus_stats` (same discrete
    quantile definition, same histogram shape)."""
    return f"""
    ecs_base AS (
      SELECT sha256({text_col}) AS h,
             len(regexp_extract_all(lower({text_col}), '[a-z0-9]+|[^a-z0-9 ]')) AS n
      FROM documents
    ),
    ecs_tot AS (
      SELECT COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_distinct_texts
      FROM ecs_base
    ),
    ecs_hist AS (SELECT n, COUNT(*) AS c FROM ecs_base GROUP BY n),
    ecs_cum AS (
      SELECT n, SUM(c) OVER (ORDER BY n
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM ecs_hist
    )
    SELECT t.n_docs, t.n_distinct_texts,
           MIN(CASE WHEN cum >= FLOOR((t.n_docs - 1) * 0.5) + 1 THEN n END) AS p50_tokens,
           MIN(CASE WHEN cum >= FLOOR((t.n_docs - 1) * 0.9) + 1 THEN n END) AS p90_tokens
    FROM ecs_cum CROSS JOIN ecs_tot t
    GROUP BY t.n_docs, t.n_distinct_texts"""


def source_overlap_matrix(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source pair
    (a <= b), how many verified near-dup pairs span them and what
    fraction of each side's corpus is implicated — the "how much of
    snapshot A is already in snapshot B" planning question asked before
    merging crawls or buying a dataset.

    One row per source pair that has at least one near-dup pair:
    (source_a, source_b, n_pairs, docs_a, docs_b, frac_a, frac_b) where
    docs_a = distinct docs FROM source_a in a near-dup pair with
    source_b (after a<=b normalization) and frac_a = docs_a / |source_a|.
    The diagonal (a == b) reports within-source redundancy; there
    docs_a == docs_b counts each implicated doc once.

    A NULL source is reported as its own GENUINE-NULL row, sorting
    after every real source on the a<=b axis — the same convention the
    sibling audit cards (`dup_rate_by_source` / `source_novelty_card`)
    use, so the cards join on source without a sentinel mapping and a
    real source literally named ``(null)`` can never merge with the
    un-sourced population. Internally the matrix keys on a
    (is_null, value) struct — collision-free, totally ordered, never a
    NULL join key — and unwraps it only in the final projection.

    Scale shape: discovery is `dedup.minhash_lsh_pairs` — the certified
    banded-LSH + exact-Jaccard-verify operator, never all-pairs — and
    everything after it is skinny: two doc_id->source lookups against a
    2-column projection of the corpus, a #sources^2-bounded aggregate,
    and a broadcast of the per-source totals (#sources rows)."""
    from . import dedup

    def skey(c):
        # collision-free total-order key: NULL source sorts LAST and
        # can never equal a real value (incl. '' and '(null)')
        return F.struct(c.isNull().alias("z"), F.coalesce(c, F.lit("")).alias("v"))

    def unkey(k):
        return F.when(~k.getField("z"), k.getField("v"))

    src = docs.select("doc_id", skey(F.col(source_col)).alias("src"))
    totals = docs.groupBy(skey(F.col(source_col)).alias("src")).agg(
        F.count("*").alias("n_total")
    )
    raw_pairs = dedup.minhash_lsh_pairs(docs, threshold=threshold, n=n)
    pairs = (
        raw_pairs.select("d1", "d2")
        .join(src.select(F.col("doc_id").alias("d1"), F.col("src").alias("s1")), "d1")
        .join(src.select(F.col("doc_id").alias("d2"), F.col("src").alias("s2")), "d2")
    )
    # normalize so source_a <= source_b, carrying each doc with the
    # side its source landed on
    swap = F.col("s1") > F.col("s2")
    # persisted: three downstream consumers (counts + both membership
    # branches) would otherwise re-run the LSH discovery + exact-Jaccard
    # verify — the dominant cost — once each
    norm = pairs.select(
        F.when(swap, F.col("s2")).otherwise(F.col("s1")).alias("source_a"),
        F.when(swap, F.col("s1")).otherwise(F.col("s2")).alias("source_b"),
        F.when(swap, F.col("d2")).otherwise(F.col("d1")).alias("da"),
        F.when(swap, F.col("d1")).otherwise(F.col("d2")).alias("db"),
    ).persist()
    counts = norm.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs")
    )
    # distinct implicated docs per side: union the memberships so a
    # diagonal pair's two docs both count once under side a == side b
    memb = norm.select(
        "source_a", "source_b", F.col("da").alias("doc_id"),
        F.lit("a").alias("side"),
    ).unionByName(
        norm.select(
            "source_a", "source_b", F.col("db").alias("doc_id"),
            F.lit("b").alias("side"),
        )
    )
    diag = F.col("source_a") == F.col("source_b")
    sides = (
        memb.withColumn("side", F.when(diag, F.lit("a")).otherwise(F.col("side")))
        .distinct()
        .groupBy("source_a", "source_b")
        .pivot("side", ["a", "b"])
        .agg(F.count(F.lit(1)))
    )
    out = (
        counts.join(sides, ["source_a", "source_b"])
        .join(
            F.broadcast(totals.select(F.col("src").alias("source_a"),
                                      F.col("n_total").alias("tot_a"))),
            "source_a",
        )
        .join(
            F.broadcast(totals.select(F.col("src").alias("source_b"),
                                      F.col("n_total").alias("tot_b"))),
            "source_b",
        )
    )
    docs_a = F.coalesce(F.col("a"), F.lit(0))
    docs_b = F.when(diag, docs_a).otherwise(F.coalesce(F.col("b"), F.lit(0)))
    result = out.select(
        # unwrap the internal (is_null, value) keys back to genuine
        # NULL-able source names only here, after every join is done
        unkey(F.col("source_a")).alias("source_a"),
        unkey(F.col("source_b")).alias("source_b"),
        "n_pairs",
        docs_a.cast("bigint").alias("docs_a"),
        docs_b.cast("bigint").alias("docs_b"),
        # pround: the deterministic rounding convention every oracle-
        # facing ratio in the catalog uses (cross-engine hashable)
        pround(docs_a / F.col("tot_a"), 6).alias("frac_a"),
        pround(docs_b / F.col("tot_b"), 6).alias("frac_b"),
    )
    return pin(result, norm, *pins_of(raw_pairs))


def quality_threshold_for_keep_rate(
    docs: DataFrame, keep_rate: float, decimals: int = 3
) -> float:
    """Calibrate the quality gate: the LOWEST cut ``t`` such that
    keeping raw ``quality >= t`` retains at least ``keep_rate`` of the
    scored corpus — the inverse-CDF question every pipeline author
    answers before picking `quality_gate(...)`'s floor ("I want to
    keep the best 70%; what's the cut?"). The cut is the lower edge of
    the winning quantized bucket, so it is directly usable as
    `quality_gate`'s raw-score floor.

    Scale shape: the quality score is already quantized (pround) and
    bounded in [0, 1], so rounding to ``decimals`` puts scores in a
    domain of at most 10^decimals + 1 values — the per-score histogram
    is one map-side-combinable aggregate whose result COLLECTS bounded
    (the `exact_corpus_stats` histogram convention), and the threshold
    resolves driver-side by walking the CDF from the top. No sort, no
    window, one scan + one tiny shuffle. The returned cut keeps AT
    LEAST the requested fraction OF THE SCORED DOCS when applied to
    the RAW ``quality`` column — i.e. ``quality_gate(t)`` honors the
    rate as advertised: the cut is the LOWER EDGE of the winning
    quantized bucket (bucket value minus half a quantum), so every doc
    the histogram counted as kept clears a plain ``quality >= t``
    filter too (ties at the edge are kept, so the kept set can only
    overshoot; NULL-quality docs — NULL text — are outside both
    sides of the rate since no threshold could ever keep them)."""
    from .textstats import quality_scores

    return threshold_from_scores(quality_scores(docs), keep_rate, decimals)


def threshold_from_scores(
    scored: DataFrame, keep_rate: float, decimals: int = 3
) -> float:
    """The CDF walk of :func:`quality_threshold_for_keep_rate` over an
    ALREADY-SCORED frame (a ``quality`` column) — callers that keep the
    scored frame around (e.g. the pipeline's calibrated gate, which
    persists it and filters the same frame) calibrate without scoring
    twice. NULL-quality docs (NULL text; empty strings still score,
    the `quality_scores` convention) are excluded from both
    sides of the rate: no threshold could ever keep them, so counting
    them in the denominator would silently break the keep-at-least
    guarantee — and a None bucket would not sort against floats."""
    if not 0 < keep_rate <= 1:
        raise ValueError("keep_rate must be in (0, 1]")
    hist = _score_histogram(scored, decimals)
    n_docs = sum(c for _, c in hist)
    if not n_docs:
        return 0.0
    return _bucket_edge(_cdf_cut(hist, keep_rate * n_docs)[0], decimals)


def _bucket_edge(bucket: float, decimals: int) -> float:
    """Lower edge of a pround bucket: the smallest raw value that
    quantizes INTO it (bucket minus half a quantum, re-prounded at one
    extra decimal so the edge is the exact float a 6-decimal quality
    score lands on — a raw ``>= edge`` filter then keeps exactly the
    buckets at or above ``bucket``, with no IEEE boundary leakage)."""
    return py_pround(bucket - 0.5 * 10 ** -decimals, decimals + 1)


def _score_histogram(scored: DataFrame, decimals: int) -> list[tuple[float, int]]:
    """Bounded (quantized score -> count) histogram, ascending.
    pround, not F.round: the floor(x*10^d + 0.5) convention is the one
    DuckDB replays exactly (HALF_UP vs banker's knife edges)."""
    q = pround(F.col("quality"), decimals)
    return sorted(
        (r[0], r[1])
        for r in scored.where(F.col("quality").isNotNull())
        .groupBy(q.alias("qb"))
        .agg(F.count("*").alias("c"))
        .collect()  # bounded: <= 10^decimals + 1 quantized score values
    )


def _cdf_cut(hist: list[tuple[float, int]], need: float) -> tuple[float, int]:
    """Walk the CDF from the best score down: the first (= highest)
    bucket where the cumulative count reaches ``need`` is the cut.
    Returns (threshold, n_kept at that threshold)."""
    kept = 0
    for v, c in reversed(hist):
        kept += c
        if kept >= need:
            return float(v), kept
    return float(hist[0][0]), kept


CALIBRATION_RATES = (0.25, 0.5, 0.75, 0.9)


def quality_calibration_card(
    docs: DataFrame,
    rates: tuple[float, ...] = CALIBRATION_RATES,
    decimals: int = 3,
) -> DataFrame:
    """The calibration REPORT CARD: for each target keep rate, the
    resolved quality cut and what it actually keeps — (keep_rate,
    threshold, n_scored, n_kept, actual_rate), one row per rate. The
    tabular twin of :func:`quality_threshold_for_keep_rate`, built for
    the oracle harness (r10 registration queue) and for eyeballing the
    corpus's quality CDF before committing to a gate.

    ONE bounded histogram collect serves every rate (the
    `exact_corpus_stats` convention: heavy scan once, driver resolves
    the tiny rank walk, result frame carries the literals).
    ``actual_rate >= keep_rate`` always — edge ties are kept. The
    reported threshold is the bucket LOWER EDGE (the
    :func:`quality_threshold_for_keep_rate` convention), directly
    usable as a raw-score gate floor. Rates are validated before any
    work — same rejection on an empty corpus as a full one — and must
    be unique so the card and its per-rate oracle twin agree row for
    row."""
    from .textstats import quality_scores

    _validate_rates(rates)
    hist = _score_histogram(quality_scores(docs), decimals)
    n_docs = sum(c for _, c in hist)
    spark = docs.sparkSession
    schema = ("keep_rate double, threshold double, n_scored bigint, "
              "n_kept bigint, actual_rate double")
    if not n_docs:
        return local_frame(spark, [], schema)
    rows = []
    for rate in rates:
        t, kept = _cdf_cut(hist, rate * n_docs)
        rows.append(
            (float(rate), _bucket_edge(t, decimals), n_docs, kept,
             py_pround(kept / n_docs, 6))
        )
    return local_frame(spark, rows, schema)


def _validate_rates(rates: tuple[float, ...]) -> None:
    """Shared rate validation for the calibration card and its DuckDB
    oracle twin: the SAME rejection on either engine, resolved before
    any scan (an invalid rate must not depend on the data, and must
    not pay for the histogram first)."""
    if not rates:
        raise ValueError("at least one keep rate is required")
    if len(set(rates)) != len(rates):
        raise ValueError("keep rates must be unique")
    for rate in rates:
        if not 0 < rate <= 1:
            raise ValueError("keep rates must be in (0, 1]")



def quality_calibration_by_domain(
    docs: DataFrame,
    keep_rate: float,
    decimals: int = 3,
    domain_col: str = "source",
) -> DataFrame:
    """PER-DOMAIN calibrated quality cuts: for one target keep rate,
    each domain's own threshold and what it actually keeps — (domain,
    threshold, n_scored, n_kept, actual_rate), one row per domain with
    at least one scored doc. Domains have different quality
    distributions (a clean books corpus vs a noisy crawl), so "keep
    the best 70% of each source" needs a per-source cut; the global
    card (:func:`quality_calibration_card`) would over-keep the clean
    domain and gut the noisy one. Thresholds are bucket lower edges
    (the raw-score gate-floor convention shared with
    :func:`quality_threshold_for_keep_rate`).

    Scale shape: ONE (domain, quantized-score) histogram aggregate —
    map-side combinable, output bounded by #domains x (10^decimals+1)
    rows — COLLECTS (the `exact_corpus_stats` bounded-collect
    convention) and every domain's CDF walks driver-side; the result
    frame carries the literals. No window over the corpus, no
    per-domain job. Docs with a NULL domain are excluded — a cut for
    an unnamed source is meaningless, and the exclusion keeps the
    DuckDB twin's equi-joins exact."""
    from .textstats import quality_scores

    return calibration_by_domain_from_scores(
        quality_scores(docs, keep=(domain_col,)), keep_rate, decimals,
        domain_col,
    )


def calibration_by_domain_from_scores(
    scored: DataFrame,
    keep_rate: float,
    decimals: int = 3,
    domain_col: str = "source",
) -> DataFrame:
    """The per-domain CDF walk of
    :func:`quality_calibration_by_domain` over an ALREADY-SCORED frame
    (``quality`` + the domain column) — the `threshold_from_scores`
    split, so callers holding the scored frame (e.g. the pipeline's
    per-domain gate, which persists it and filters the same frame)
    calibrate without scoring twice. Rates validate through the shared
    :func:`_validate_rates`, the SAME rejection the oracle twin uses."""
    _validate_rates((keep_rate,))
    rows = (
        scored.where(
            F.col("quality").isNotNull() & F.col(domain_col).isNotNull()
        )
        .groupBy(
            F.col(domain_col).alias("domain"),
            pround(F.col("quality"), decimals).alias("qb"),
        )
        .agg(F.count("*").alias("c"))
        .collect()  # bounded: #domains x (10^decimals + 1)
    )
    by_domain: dict = {}
    for r in rows:
        by_domain.setdefault(r["domain"], []).append((r["qb"], r["c"]))
    out = []
    for domain in sorted(by_domain):
        hist = sorted(by_domain[domain])
        n = sum(c for _, c in hist)
        t, kept = _cdf_cut(hist, keep_rate * n)
        out.append(
            (domain, _bucket_edge(t, decimals), n, kept,
             py_pround(kept / n, 6))
        )
    schema = ("domain string, threshold double, n_scored bigint, "
              "n_kept bigint, actual_rate double")
    return local_frame(scored.sparkSession, out, schema)


def ngram_freq_spectrum(
    docs: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """Word n-gram frequency-of-frequency spectrum — the Zipf card: for
    every corpus frequency ``freq``, how many DISTINCT n-grams occur
    exactly that often. The planning read-out behind tokenizer-vocab
    sizing (how much of the long tail is hapax), dedup-threshold
    choice (a fat high-freq head means boilerplate), and n-gram
    decontamination cost estimates (how many distinct grams the eval
    join must key on). Occurrences are TOTAL counts (Zipf), not the
    per-doc-distinct shingles the dedup path uses; tokens are the
    whitespace-split lowercased convention shared with `shingles`.
    Docs with fewer than ``n`` tokens (or NULL text) contribute
    nothing. Output: (freq, n_grams), one row per observed frequency.

    Scale shape: explode -> one map-side-combinable count per gram ->
    a second tiny aggregate keyed on the count itself (cardinality =
    #distinct frequencies, ~hundreds). The gram count is THE shuffle;
    it is keyed on the gram string, the same width the decontamination
    join already shuffles, and needs no verify stage or window. No
    driver data, no Python."""
    from .shingles import ngram_multiset_array, with_tokens

    grams = ngram_multiset_array(n)
    freq = (
        with_tokens(docs, text_col)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("freq"))
    )
    return freq.groupBy("freq").agg(F.count("*").alias("n_grams"))


def dup_rate_by_source(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    folded: bool = False,
) -> DataFrame:
    """Per-source EXACT duplication rate — the "how redundant is each
    crawl" dataset-card row: for every source, how many docs carry
    text, how many distinct texts they collapse to, and the fraction
    of text-bearing docs that are excess copies. The exact-identity
    sibling of `source_overlap_matrix`'s diagonal (which reports
    NEAR-dup redundancy); with ``folded`` the identity keys on
    `textclean.fold_key` so encoding-noise twins count as copies.
    NULL-text docs appear in ``n_docs`` but carry no identity (NULL
    never joins the distinct count, the engine convention); a NULL
    source is reported as its own row — this is an audit, not an
    allocator, and un-sourced redundancy is exactly what an audit
    must surface. Output: (source, n_docs, n_with_text, n_texts,
    dup_docs, dup_rate); dup_rate is NULL when no doc carries text.

    Scale shape: ONE aggregate — count-distinct-per-group expands to
    the standard two-phase plan (partial on (source, key), final on
    source), both map-side combinable; the distinct key is
    sha2(text) so the shuffle carries a 64-char digest, never the
    document body. No join, no window, no Python."""
    key = F.col(text_col)
    if folded:
        from .textclean import fold_key

        key = fold_key(key)
    n_with_text = F.count(text_col)
    n_texts = F.count_distinct(F.sha2(key, 256))
    return (
        docs.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").alias("n_docs"),
            n_with_text.alias("n_with_text"),
            n_texts.alias("n_texts"),
        )
        .select(
            "source",
            "n_docs",
            "n_with_text",
            "n_texts",
            (F.col("n_with_text") - F.col("n_texts")).alias("dup_docs"),
            F.when(
                F.col("n_with_text") > 0,
                pround(
                    (F.col("n_with_text") - F.col("n_texts"))
                    / F.col("n_with_text"),
                    6,
                ),
            ).alias("dup_rate"),
        )
    )


def token_drift_card(
    docs: DataFrame,
    source_a: str,
    source_b: str,
    top_n: int = 50,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Unigram drift between two sources/snapshots: the ``top_n``
    tokens whose corpus rate moved most (|rate_a - rate_b|), with both
    counts and rates — the "what changed between these crawls" QA card
    read before trusting a refreshed snapshot in an established
    mixture. Tokens are the whitespace-split lowercased convention;
    NULL-text docs contribute nothing; a side with zero tokens yields
    NULL rates/delta (degenerate comparison, surfaced not hidden).
    Output: (token, count_a, count_b, rate_a, rate_b, delta), delta =
    rate_a - rate_b, ranked by |delta| DESC then token ASC (a total
    order, so the top-n cut is deterministic cross-engine).

    Scale shape: one filtered scan -> explode -> ONE map-side-
    combinable (token) aggregate with conditional counts (persisted:
    the grand totals and the final projection both read it); the
    totals attach via the repo's sanctioned 1-ROW broadcast nested
    loop (the BM25/stats scalar-frame pattern — each output row scans
    exactly one build row); every rate/delta is
    ROW-LOCAL IEEE arithmetic prounded to 6 places (no float
    sum-order dependence), and the top-n cut is a TakeOrdered heap —
    no global sort, no window, no Python."""
    if source_a == source_b:
        # the side CASE would route every token to 'a' and publish an
        # all-NULL-rate card — a copy-paste slip, not a comparison
        raise ValueError(f"source_a == source_b ({source_a!r})")
    side = F.when(F.col(source_col) == source_a, F.lit("a")).otherwise(
        F.lit("b")
    )
    toks = (
        docs.where(
            F.col(source_col).isin(source_a, source_b)
            & F.col(text_col).isNotNull()
        )
        .select(
            side.alias("side"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
        )
    )
    counts = (
        toks.groupBy("token")
        .agg(
            F.count(F.when(F.col("side") == "a", 1)).alias("count_a"),
            F.count(F.when(F.col("side") == "b", 1)).alias("count_b"),
        )
        .persist()
    )
    totals = counts.agg(
        F.sum("count_a").alias("__ta"), F.sum("count_b").alias("__tb")
    )
    rate_a = F.when(
        F.col("__ta") > 0, pround(F.col("count_a") / F.col("__ta"), 6)
    )
    rate_b = F.when(
        F.col("__tb") > 0, pround(F.col("count_b") / F.col("__tb"), 6)
    )
    delta = F.when(
        (F.col("__ta") > 0) & (F.col("__tb") > 0),
        pround(
            F.col("count_a") / F.col("__ta")
            - F.col("count_b") / F.col("__tb"),
            6,
        ),
    )
    out = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "token", "count_a", "count_b",
            rate_a.alias("rate_a"),
            rate_b.alias("rate_b"),
            delta.alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc_nulls_last(), F.asc("token"))
        .limit(top_n)
    )
    return pin(out, counts)


def embedding_stats_card(
    embs: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-table QA card, per group: vector counts, NULL and
    zero-vector counts, dimension range, and L2-norm min/max/mean —
    the "trust the embedding column before ANN/dedup runs on it"
    read-out. A NULL vector contributes to ``n_vectors``/``n_null``
    but to no norm or dimension statistic; a vector CONTAINING a NULL
    element (the worst corruption an embedding column carries) is
    counted in ``n_nullelem`` and excluded from every norm stat —
    its norm is undefined, and hiding it among the healthy norms is
    exactly what a QA card must not do; an EMPTY array is a real
    (degenerate) vector: dim 0, norm 0, counted in ``n_zero``
    alongside genuine all-zero vectors — both poison cosine math, and
    this card is where they surface. A ragged dimension range
    (``dim_min != dim_max``) is the schema-drift alarm. Output:
    (group, n_vectors, n_null, n_nullelem, n_zero, dim_min, dim_max,
    norm_min, norm_max, norm_mean), ordered by group NULLS LAST.

    Numeric determinism: each row's norm is the exact-decimal
    self-dot (`simsearch._dot` over the column's SQL fragment — the
    same decimal-fold text every similarity operator parses —
    DECIMAL(30,15) element products, order-independent by construction) rounded to 9 places; the mean
    sums those rounded norms as DECIMAL(38,9) (exact, so partition
    order can't move the sum) before one IEEE division, and every
    published stat is pround-6. Scale shape: ONE map-side-combinable
    aggregate over a single scan — the norm fold is per-row JVM
    expression work (whole-stage codegen), the shuffle carries only
    #groups × 9 scalars, no window, no join, no Python."""
    from .simsearch import _dot

    v = F.col(vec_col)
    # a NULL element poisons _dot's decimal fold to a NULL norm, so
    # the flag and the fold agree on every row that evaluates: NULL
    # elements are the fold's ONLY NULL source for a non-NULL vector
    # (the session runs ANSI, so a decimal-overflow element is a loud
    # error in both engines, never a silently skipped row)
    bad = v.isNotNull() & F.exists(v, lambda x: x.isNull())
    nrm9 = pround(F.sqrt(_dot(f"`{vec_col}`", f"`{vec_col}`")), 9)
    dim = F.when(v.isNotNull(), F.size(v)).cast("long")
    agg = (
        embs.select(
            F.col(group_col).alias("grp"),
            v.isNull().alias("__isnull"),
            bad.alias("__bad"),
            dim.alias("__dim"),
            nrm9.alias("__n9"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count(F.when(F.col("__isnull"), 1)).alias("n_null"),
            F.count(F.when(F.col("__bad"), 1)).alias("n_nullelem"),
            F.count(F.when(F.col("__n9") == 0, 1)).alias("n_zero"),
            F.min("__dim").alias("dim_min"),
            F.max("__dim").alias("dim_max"),
            F.min("__n9").alias("__nmin"),
            F.max("__n9").alias("__nmax"),
            F.sum(F.col("__n9").cast("decimal(38,9)")).alias("__nsum"),
            F.count("__n9").alias("__ncnt"),
        )
    )
    # all-NULL group: __ncnt == 0 -> no norm stats (guarded division,
    # never an ANSI divide-by-zero)
    return agg.select(
        F.col("grp").alias(group_col),
        "n_vectors", "n_null", "n_nullelem", "n_zero",
        "dim_min", "dim_max",
        pround(F.col("__nmin"), 6).alias("norm_min"),
        pround(F.col("__nmax"), 6).alias("norm_max"),
        F.when(
            F.col("__ncnt") > 0,
            pround(F.col("__nsum").cast("double") / F.col("__ncnt"), 6),
        ).alias("norm_mean"),
    ).orderBy(F.asc_nulls_last(group_col))


def source_novelty_card(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source content novelty: for every source, how many distinct
    word n-grams it contains and what fraction of them appear in NO
    other source — the "is this crawl adding anything" dataset-card
    row. The gram-level complement of `source_overlap_matrix` (which
    counts near-dup DOC identity) and the content dual of
    `token_drift_card` (which ranks individual movers): a source can
    be 0% doc-overlapping yet 0% novel if its text is re-assembled
    from grams every other source already has. Grams follow the
    shingle convention (whitespace-split lowercased, per-doc
    DISTINCT); docs with NULL text or fewer than ``n`` tokens
    contribute nothing; a NULL source is its own audit row
    (struct-wrapped below so the set aggregate cannot drop it).
    Output: (source, n_grams, n_unique, novelty_rate), novelty_rate =
    n_unique / n_grams prounded to 6, ordered by source NULLS LAST.

    Scale shape: explode -> ONE gram-keyed aggregate collecting the
    BOUNDED source set (≤ #sources elements, map-side partials dedup
    early) -> explode that tiny set back out -> per-source rollup.
    The gram aggregate is THE shuffle — the same gram-string width the
    dedup and decontamination joins already move; no window, no join,
    no Python, and the per-source division can never see a zero
    denominator (a source row exists only with ≥1 gram)."""
    from .shingles import ngram_array, with_tokens

    pairs = with_tokens(docs, text_col).select(
        F.col(source_col).alias("__src"),
        F.explode(ngram_array(n)).alias("gram"),
    )
    g = pairs.groupBy("gram").agg(
        F.collect_set(F.struct(F.col("__src").alias("s"))).alias("srcs")
    )
    per = g.select(
        F.explode("srcs").alias("sv"), F.size("srcs").alias("nsrc")
    )
    return (
        per.select(F.col("sv.s").alias(source_col), "nsrc")
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("nsrc") == 1, 1)).alias("n_unique"),
        )
        .select(
            source_col, "n_grams", "n_unique",
            pround(F.col("n_unique") / F.col("n_grams"), 6).alias(
                "novelty_rate"
            ),
        )
        .orderBy(F.asc_nulls_last(source_col))
    )


# Power-of-two token-length buckets, THE single source of truth for
# `length_histogram_card` and its DuckDB oracle (both CASE ladders are
# generated from this constant, so the edges cannot drift apart).
# Bucket 0 holds zero-token docs; bucket k >= 1 holds 2^(k-1) <= n <
# 2^k; the last bucket is open-ended (hi reported NULL). Exact integer
# comparisons only — no log2, whose Java (ln x / ln 2) and C++
# (std::log2) implementations disagree by an ulp at power-of-two
# boundaries and would knife-edge the floor.
LENGTH_BUCKET_MAX_POW = 24


def length_bucket_lo(n: Column) -> Column:
    """Bucket floor for a token count: 0 for zero-token docs, else the
    largest power of two <= n, saturating at the open top bucket
    (2^LENGTH_BUCKET_MAX_POW). Factored out of the card so the open
    bucket — unreachable from any realistic test corpus — is unit-
    testable on literal counts."""
    # NULL propagates (a NULL count is an unknown length, not a 16M-token
    # doc): without this head the when() chain would fall through to the
    # open-bucket otherwise() for NULL inputs
    lo = F.when(n.isNull(), F.lit(None)).when(n == 0, F.lit(0))
    for k in range(LENGTH_BUCKET_MAX_POW):
        lo = lo.when(n < 2 ** (k + 1), F.lit(2**k))
    return lo.otherwise(F.lit(2**LENGTH_BUCKET_MAX_POW))


def length_bucket_hi(lo: Column) -> Column:
    """Inclusive bucket ceiling from the floor: 0 for the zero bucket,
    NULL for the open top bucket, else 2*lo - 1."""
    return (
        F.when(lo == 0, F.lit(0))
        .when(lo == 2**LENGTH_BUCKET_MAX_POW, F.lit(None))
        .otherwise(lo * 2 - 1)
    )


def length_histogram_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-length histogram on power-of-two buckets — the
    exact, certifiable companion of :func:`token_length_quantiles`
    (which is a one-pass sketch): how each source's document lengths
    distribute, the read that picks sequence length / truncation /
    packing mode per source before a training run commits to them.
    Tokens are the BPE-ish ``TOKEN_RE`` convention (the unit
    `quality_scores` and the packing operators budget in). NULL-text
    docs contribute nothing; an empty string is a genuine zero-token
    doc (bucket 0); a NULL source keeps its own audit row. Output:
    (source, lo_tokens, hi_tokens, n_docs, share); hi_tokens is NULL
    for the open top bucket; share = n_docs / source total, prounded
    to 6.

    Scale shape: one scan -> row-local CASE ladder -> ONE map-side-
    combinable (source, bucket) aggregate; the share window runs over
    the BOUNDED histogram frame (#sources x <=26 buckets), never the
    corpus. No join, no Python.

    Split into :func:`length_hist_counts` (the additive delta) and
    :func:`finish_length_card` (the presentation) so the streaming
    twin (`streaming.ingest.length_card_stream`) maintains the same
    card incrementally — counts merge by addition, the finish reruns
    on the bounded merged frame."""
    return finish_length_card(
        length_hist_counts(docs, source_col=source_col, text_col=text_col)
    )


def length_hist_counts(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The ADDITIVE half of `length_histogram_card`: (source,
    lo_tokens, n_docs) bucket counts — two frames of these merge by
    summing n_docs, which is what makes the card incrementally
    maintainable over micro-batches."""
    lo = length_bucket_lo(bpe_token_count(text_col))
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(source_col).alias("source"), lo.alias("lo_tokens"))
        .groupBy("source", F.col("lo_tokens").cast("int").alias("lo_tokens"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def finish_length_card(hist: DataFrame) -> DataFrame:
    """The presentation half of `length_histogram_card`: ceiling column
    and within-source shares over an already-bounded (source,
    lo_tokens, n_docs) frame."""
    hi = length_bucket_hi(F.col("lo_tokens"))
    w = Window.partitionBy("source")
    return hist.select(
        "source",
        "lo_tokens",
        hi.cast("int").alias("hi_tokens"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        pround(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


def ttr_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source lexical diversity: total tokens, distinct token
    types, hapax legomena (types occurring exactly once in that
    source), type-token ratio and hapax rate — the dataset-card row
    that separates template-stamped sources (low TTR: few types
    repeated endlessly) from natural text BEFORE n-gram dedup spends a
    shuffle proving it, and sizes the vocabulary a tokenizer trained
    on that source would see. Tokens are the whitespace-lowercase
    convention (the per-source identity unit `token_drift_card` and
    `source_novelty_card` use). NULL-text docs contribute nothing; a
    NULL source keeps its own audit row. Output: (source, n_tokens,
    n_types, n_hapax, ttr, hapax_rate), both rates prounded to 6 —
    denominators can never be zero (a source row exists only with >=1
    token).

    Scale shape: explode -> ONE (source, token)-keyed count aggregate
    (map-side combinable — the same token-string shuffle width
    `token_drift_card` moves) -> per-source rollup whose input is
    bounded by per-source vocabulary, not corpus size. No window, no
    join, no Python."""
    return finish_ttr_card(
        ttr_token_counts(docs, source_col=source_col, text_col=text_col)
    )


def ttr_token_counts(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The ADDITIVE half of `ttr_card`: (source, token, cnt) occurrence
    counts — the per-source vocabulary state, bounded by vocabulary
    (not corpus) size, that merges by summing cnt. The streaming twin
    maintains THIS and re-derives the card; types and hapax counts are
    not additive, but the counts they derive from are."""
    from .shingles import TOKS, with_tokens

    toks = with_tokens(docs, text_col).select(
        F.col(source_col).alias("source"),
        F.explode(F.col(TOKS)).alias("token"),
    )
    return toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def finish_ttr_card(per_tok: DataFrame) -> DataFrame:
    """The presentation half of `ttr_card`: the per-source rollup and
    rates over an already-aggregated (source, token, cnt) frame."""
    return per_tok.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("cnt") == 1, 1)).alias("n_hapax"),
    ).select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        pround(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        pround(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_rate"),
    )


def _lang_matrix(
    docs: DataFrame, group_col: str, out_name: str
) -> DataFrame:
    """Shared (group x predicted-language) distribution builder behind
    `lang_source_matrix` (group = source) and `lang_confusion_card`
    (group = the labeled language): lang-ID projection with the group
    carried through (no doc_id re-join), ONE map-side-combinable
    (group, lang) aggregate, share window over the bounded matrix."""
    m = (
        lang_id(docs, keep=(group_col,))
        .groupBy(F.col(group_col).alias(out_name), "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy(out_name)
    return m.select(
        out_name,
        "pred_lang",
        "n_docs",
        pround(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


def lang_source_matrix(
    docs: DataFrame, source_col: str = "source"
) -> DataFrame:
    """Language x source distribution: per (source, predicted
    language) doc counts and the within-source share — the full
    distribution behind `corpus_source_profile`'s single modal-language
    column, and the dataset-card staple that decides which language
    gates each source needs. Predictions are `textstats.lang_id`
    (char-bigram profiles, alphabetical tie-break); zero-evidence and
    NULL-text docs land in the NULL-language row — unidentified is a
    population to report, not to hide; a NULL source keeps its own
    audit row. Output: (source, pred_lang, n_docs, share), share
    prounded to 6.

    Scale shape: the lang-ID projection is row-local JVM expressions
    (`keep` carries the source through — no doc_id re-join); ONE
    map-side-combinable (source, lang) aggregate; the share window
    runs over the BOUNDED matrix (#sources x #profiles+1), never the
    corpus. No join, no Python."""
    return _lang_matrix(docs, source_col, "source")


def lang_confusion_card(docs: DataFrame, label_col: str = "lang") -> DataFrame:
    """Language-ID confusion matrix against the corpus's LABELED
    language column: per (label, predicted) doc counts and the
    within-label share — the diagonal is per-language recall, the
    off-diagonal rows say WHERE the n-gram identifier leaks before a
    language gate trusts it (the QA read `lang_source_matrix` cannot
    give, since it has no ground truth). Zero-evidence and NULL-text
    docs land in the NULL-prediction column of their label row; a NULL
    label keeps its own audit row. Output: (label_lang, pred_lang,
    n_docs, share), share prounded to 6.

    Scale shape: identical to `lang_source_matrix` (the shared
    `_lang_matrix` builder): row-local JVM lang-ID projection, ONE
    (label, lang) aggregate, share window over the bounded matrix
    (#labels x #profiles+1). No join, no Python."""
    return _lang_matrix(docs, label_col, "label_lang")


def pii_rate_by_source(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source PII incidence — the "how dirty is each crawl" QA
    read BEFORE `pii.mask_pii` spends a scan scrubbing it, and the
    number a release review asks for after: per-category match totals
    (emails / phones / long numeric ids, the module's certified regex
    trio counted on the ORIGINAL text) plus how many docs carry ANY
    match and that doc-level rate. NULL-text docs count in ``n_docs``
    but contribute no matches (NULL counts never sum, the engine
    convention — so a source whose docs are ALL NULL-text reports NULL
    category totals, not 0, on both engines; the hypothesis
    triangulation pins this); a NULL source keeps its own audit row.
    Output:
    (source, n_docs, n_emails, n_phones, n_ids, n_pii_docs,
    pii_doc_rate), rate prounded to 6 — n_docs is never zero for an
    emitted row.

    Scale shape: three codegen'd regexp_extract_all counts in ONE
    row-local projection -> ONE map-side-combinable source aggregate.
    No join, no window, no Python.

    Split into :func:`pii_counts` (the additive delta) and
    :func:`finish_pii_card` (the presentation) so the streaming twin
    (`streaming.ingest.pii_card_stream`) maintains the counts
    incrementally and re-derives the card per batch."""
    return finish_pii_card(pii_counts(docs, source_col, text_col))


def pii_counts(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The ADDITIVE half of `pii_rate_by_source`: per-source doc and
    per-category match counts — two frames of these merge by summing
    every count column, which is what makes the card incrementally
    maintainable over micro-batches."""
    from .pii import EMAIL_RE, LONG_ID_RE, PHONE_RE, _count

    c = F.col(text_col)
    # _count is THE counting convention the certified pii_mask_regex
    # entry publishes — importing it keeps this card's totals from
    # ever drifting from the masker's own numbers
    d = docs.select(
        F.col(source_col).alias("source"),
        _count(c, EMAIL_RE).alias("e"),
        _count(c, PHONE_RE).alias("p"),
        _count(c, LONG_ID_RE).alias("i"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum("i").alias("n_ids"),
        F.count_if(
            F.col("e") + F.col("p") + F.col("i") > 0
        ).alias("n_pii_docs"),
    )


def finish_pii_card(counts: DataFrame) -> DataFrame:
    """The presentation half of `pii_rate_by_source`: the doc-level
    rate over an already-bounded per-source counts frame."""
    return counts.select(
        "source",
        "n_docs",
        "n_emails",
        "n_phones",
        "n_ids",
        "n_pii_docs",
        pround(F.col("n_pii_docs") / F.col("n_docs"), 6).alias(
            "pii_doc_rate"
        ),
    )


def dup_token_rate_by_source(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source TOKEN-weighted exact duplication — the cost number
    `dup_rate_by_source` (doc-weighted) cannot give: a source whose
    few duplicated docs are its longest wastes far more training
    tokens than its doc-level rate suggests, and mixture weights
    budget in tokens. For every source: text-bearing docs, their total
    tokens (the shared `bpe_token_count` convention), the tokens spent
    on EXCESS copies ((copies - 1) x tokens per identity group), and
    that fraction. Identity is per-source exact text (sha2 digest on
    the Spark side, the `dup_rate_by_source` convention); NULL-text
    docs carry no identity and no tokens; a NULL source keeps its own
    audit row. Output: (source, n_with_text, total_tokens, dup_tokens,
    dup_token_rate); the rate is NULL for an all-empty source (zero
    total tokens).

    Scale shape: TWO map-side-combinable aggregates — partial on
    (source, digest) where the shuffle carries a 64-char digest plus
    two ints (never the document body), final on source over a frame
    bounded by per-source distinct texts. No join, no window, no
    Python."""
    t = F.col(text_col)
    keyed = docs.where(t.isNotNull()).select(
        F.col(source_col).alias("source"),
        F.sha2(t, 256).alias("k"),
        bpe_token_count(text_col).alias("tok"),
    )
    per_key = keyed.groupBy("source", "k").agg(
        F.count(F.lit(1)).alias("cnt"),
        # identical text -> identical count; min() is the associative
        # pick (merges across partials), not a semantic choice
        F.min("tok").alias("tok"),
    )
    total = F.sum(F.col("cnt") * F.col("tok")).cast("bigint")
    dup = F.sum((F.col("cnt") - 1) * F.col("tok")).cast("bigint")
    return (
        per_key.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_with_text"),
            total.alias("total_tokens"),
            dup.alias("dup_tokens"),
        )
        .select(
            "source",
            "n_with_text",
            "total_tokens",
            "dup_tokens",
            F.when(
                F.col("total_tokens") > 0,
                pround(F.col("dup_tokens") / F.col("total_tokens"), 6),
            ).alias("dup_token_rate"),
        )
    )


def charclass_profile_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source character-class composition — the encoding-health
    read that catches a crawl gone wrong (mojibake, markup residue,
    digit dumps, whitespace floods) from ONE scan before any
    tokenizer sees it: alphabetic / digit / space fractions of all
    characters, with everything else (punctuation, unicode, control)
    as the reported remainder. Counts subtract the post-removal
    length from the raw length (exact integer arithmetic on both
    engines — no per-char explode); NULL-text docs are excluded (no
    characters to profile; `corpus_stats_exact` reports them), an
    all-empty source keeps its row with NULL fractions. The space
    class is ASCII whitespace [ \\t\\n\\r] — a newline-flooded crawl
    must read as a whitespace flood, not dilute the punctuation/
    mojibake signal ``other_frac`` isolates. Output: (source, n_docs,
    n_chars, alpha_frac, digit_frac, space_frac, other_frac),
    fractions prounded to 6.

    Scale shape: one row-local codegen'd projection (three regex
    removals) -> ONE map-side-combinable source aggregate. No join,
    no window, no Python.

    Split into :func:`charclass_counts` (the additive delta) and
    :func:`finish_charclass_card` (the presentation) so the streaming
    twin (`streaming.ingest.charclass_card_stream`) maintains the
    counts incrementally and re-derives the card per batch."""
    return finish_charclass_card(
        charclass_counts(docs, source_col, text_col)
    )


def charclass_counts(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The ADDITIVE half of `charclass_profile_card`: per-source
    character-class sums — two frames of these merge by summing every
    count column."""
    t = F.col(text_col)
    n = F.length(t)
    d = docs.where(t.isNotNull()).select(
        F.col(source_col).alias("source"),
        n.alias("n"),
        (n - F.length(F.regexp_replace(t, "[A-Za-z]", ""))).alias("al"),
        (n - F.length(F.regexp_replace(t, "[0-9]", ""))).alias("dg"),
        (n - F.length(F.regexp_replace(t, "[ \\t\\n\\r]", ""))).alias("sp"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_chars"),
        F.sum("al").cast("bigint").alias("n_alpha"),
        F.sum("dg").cast("bigint").alias("n_digit"),
        F.sum("sp").cast("bigint").alias("n_space"),
    )


def finish_charclass_card(counts: DataFrame) -> DataFrame:
    """The presentation half of `charclass_profile_card`: the class
    fractions over an already-bounded per-source counts frame."""

    def _frac(c: Column) -> Column:
        return F.when(
            F.col("n_chars") > 0, pround(c / F.col("n_chars"), 6)
        )

    return counts.select(
        "source",
        "n_docs",
        "n_chars",
        _frac(F.col("n_alpha")).alias("alpha_frac"),
        _frac(F.col("n_digit")).alias("digit_frac"),
        _frac(F.col("n_space")).alias("space_frac"),
        _frac(
            F.col("n_chars")
            - F.col("n_alpha")
            - F.col("n_digit")
            - F.col("n_space")
        ).alias("other_frac"),
    )


def dup_similarity_histogram(
    docs: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
) -> DataFrame:
    """Near-dup similarity SPECTRUM: exact n-gram Jaccard pairs above a
    low floor, bucketed into tenths — the threshold-tuning evidence
    every dedup rollout needs before committing a cutoff (a bimodal
    spectrum says 0.8 is safe; a fat 0.5-0.8 shoulder says the corpus
    has paraphrase-grade redundancy a higher threshold would miss).
    Pairs come from THE exact operator (`dedup.jaccard_pairs`, same
    stop-shingle-filtered single-shuffle index as the certified
    `dedup_ngram_jaccard`), so the spectrum is the ground truth the
    MinHash estimate approximates. Binning is knife-edge-free: the
    prounded jaccard is recovered to an exact micro-jaccard INTEGER
    (floor(j*1e6+0.5)) and integer-divided — a 0.7 pair lands in bin 7
    on both engines, no IEEE x10 boundary. Output: (jac_bin, bin_lo,
    n_pairs); bin 10 is shingle-set-identical pairs.

    Scale shape: the pair generation is the operator's own bounded
    index join (fan-out <= max_df^2 per bucket); the histogram adds
    ONE map-side-combinable aggregate over pairs and frees the
    operator's pins. No new shuffle family, no Python."""
    from .dedup import jaccard_pairs

    pairs = jaccard_pairs(docs, threshold=threshold, n=n)
    je6 = F.floor(F.col("jaccard") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    out = (
        pairs.select(je6.alias("je6"))
        .select(F.expr("je6 DIV 100000").alias("jac_bin"))
        .groupBy("jac_bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "jac_bin",
            (F.col("jac_bin").cast("double") / 10).alias("bin_lo"),
            "n_pairs",
        )
    )
    return pin(out, *pins_of(pairs))


def sentence_stats_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source sentence-shape card: sentence counts (non-blank
    [.!?]+ segments), sentences per doc, and tokens per sentence — the
    structural read that separates prose from logs/tables/code dumps
    (terminator-free walls of text average ONE giant 'sentence') and
    sizes context windows in sentences where packing budgets in
    tokens. A terminator-free non-empty doc is one sentence; an empty
    doc has zero; NULL-text docs count in n_docs but contribute no
    sentences; a NULL source keeps its own audit row. Output: (source,
    n_docs, n_sentences, avg_sentences_per_doc, avg_tokens_per_sent),
    averages prounded to 6 — tokens per sentence is NULL for a
    sentence-free source.

    Scale shape: one row-local projection (a split + lambda filter and
    the shared token count, all JVM) -> ONE map-side-combinable source
    aggregate. No join, no window, no Python."""
    t = F.col(text_col)
    # a segment is a sentence when it carries any non-whitespace char
    # (plain trim() only strips spaces, so a '\n' tail after a period
    # would count as a phantom sentence on both engines)
    n_sent = F.size(
        F.filter(
            F.split(t, "[.!?]+"), lambda s: s.rlike("[^ \\t\\n\\r]")
        )
    )
    d = docs.select(
        F.col(source_col).alias("source"),
        n_sent.alias("ns"),
        bpe_token_count(text_col).alias("tok"),
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ns").cast("bigint").alias("n_sentences"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_sentences"), F.lit(0)).alias("n_sentences"),
        pround(
            F.coalesce(F.col("n_sentences"), F.lit(0)) / F.col("n_docs"), 6
        ).alias("avg_sentences_per_doc"),
        F.when(
            F.col("n_sentences") > 0,
            pround(F.col("n_tokens") / F.col("n_sentences"), 6),
        ).alias("avg_tokens_per_sent"),
    )


def token_fertility_by_lang(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility per predicted language: chars per token for
    each language the n-gram identifier sees — the read that catches a
    tokenizer trained on an English-dominant mixture fragmenting the
    other languages (their chars-per-token collapses, so the same text
    budget buys them fewer characters of signal, silently skewing any
    token-denominated mixture weight). Predictions are
    `textstats.lang_id` (the certified `lang_id_ngram` convention);
    tokens are the shared `bpe_token_count`; chars are `length()` code
    points. Zero-evidence and NULL-text docs land in the NULL-language
    row (NULL text counts in n_docs but adds no chars/tokens). Output:
    (pred_lang, n_docs, n_chars, n_tokens, chars_per_token), the ratio
    prounded to 6 and NULL for a token-free language row.

    Scale shape: one row-local JVM projection (lang-ID substring
    probes + a regex token count, `keep=` carries the text — no
    doc_id re-join) -> ONE map-side-combinable aggregate on a bounded
    key (#profiles + 1). No join, no window, no Python.

    Split into :func:`fertility_counts` (the additive delta) and
    :func:`finish_fertility_card` (the presentation) so the streaming
    twin (`streaming.ingest.fertility_card_stream`) maintains the
    per-language sums incrementally and re-derives the ratio per
    batch."""
    return finish_fertility_card(fertility_counts(docs))


def fertility_counts(docs: DataFrame) -> DataFrame:
    """The ADDITIVE half of `token_fertility_by_lang`: per-language
    (n_docs, n_chars, n_tokens) sums — two frames of these merge by
    summing every count column."""
    per = lang_id(docs, keep=("text",)).select(
        "pred_lang",
        F.length("text").alias("nc"),
        bpe_token_count("text").alias("tok"),
    )
    agg = per.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
    )
    return agg.select(
        "pred_lang",
        "n_docs",
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("bigint").alias("n_chars"),
        F.coalesce(F.col("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )


def finish_fertility_card(counts: DataFrame) -> DataFrame:
    """The presentation half of `token_fertility_by_lang`: the
    chars-per-token ratio over an already-bounded per-language counts
    frame."""
    return counts.select(
        "pred_lang",
        "n_docs",
        "n_chars",
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            pround(F.col("n_chars") / F.col("n_tokens"), 6),
        ).alias("chars_per_token"),
    )


def length_quality_joint_card(docs: DataFrame) -> DataFrame:
    """Joint length x quality distribution: doc counts per (power-of-
    two token-length bucket, quality tenth) cell — the 2-D read the
    marginal cards can't give: a fat long-but-junk corner says a
    quality gate placed from the global histogram would still pack
    low-grade long documents into every context window, while
    short-but-clean mass says truncation, not filtering, is the
    binding constraint. Length buckets are the shared
    `length_bucket_lo` ladder over `bpe_token_count`; quality tenths
    recover the prounded score's exact micro-integer (floor(q*1e6+0.5),
    THE pround numerator both engines agree on) and integer-divide —
    no IEEE x10 knife edge; bin 10 is exactly-1.0 quality. Docs with a
    NULL quality (NULL text) are excluded — `corpus_stats_exact`
    reports them. Output: (lo_tokens, q_bin, q_lo, n_docs, share),
    share of all scored docs prounded to 6.

    Scale shape: one row-local projection -> ONE map-side-combinable
    aggregate on a bounded key (<=26 length buckets x 11 tenths); the
    share window runs over that bounded frame, never the corpus. No
    join, no Python."""
    from .textstats import quality_scores

    # quality_scores reads the canonical `text` column (with_tokens'
    # convention), so the length axis must too — a text_col parameter
    # here would silently describe two different columns
    per = quality_scores(docs, keep=("text",)).select(
        length_bucket_lo(bpe_token_count("text")).cast("int").alias("lo_tokens"),
        F.floor(F.col("quality") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("qe6"),
    ).where(F.col("qe6").isNotNull())
    cells = (
        per.select("lo_tokens", F.expr("qe6 DIV 100000").alias("q_bin"))
        .groupBy("lo_tokens", "q_bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # unpartitioned window over the BOUNDED cell frame (<= 26 x 11)
    w = Window.partitionBy()
    return cells.select(
        "lo_tokens",
        "q_bin",
        (F.col("q_bin").cast("double") / 10).alias("q_lo"),
        "n_docs",
        pround(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


def dup_ngram_coverage(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Duplicated n-gram coverage per source — the substring-
    granularity dedup signal (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): what fraction of each
    source's n-gram OCCURRENCES is text that also appears in some
    OTHER document. Document-level dedup cards (`dup_rate_by_source`)
    miss partially-copied text — boilerplate headers, quoted threads,
    syndicated paragraphs — which is exactly the mass this card
    surfaces; a source can be 0% doc-duplicated and 60% span-
    duplicated. Grams are the whitespace-split lowercased multiset
    (the `ngram_freq_spectrum` convention, NOT the dedup path's
    per-doc-distinct shingles); an occurrence counts as duplicated
    when its gram occurs in >= 2 distinct docs (same-doc repetition
    alone is `text_repetition_gopher`'s signal, not duplication).
    Docs with fewer than ``n`` tokens (or NULL text) contribute
    nothing; a source with no gram-bearing docs has no row. Output:
    (source, n_grams, n_dup_grams, dup_coverage), ratio prounded to 6.

    Scale shape: explode -> per-(doc, gram-hash) occurrence counts
    (map-side combinable; the shuffle carries doc_id + a 56-bit gram
    digest + a count, never the text) -> per-hash doc counts (one row
    per distinct gram) -> an equi-join of two PRE-AGGREGATED frames
    (hot grams are 1 row on the `nd` side and <=#docs rows on the
    occurrence side — no skew amplification) -> ONE per-source
    rollup. No window, no Python, no all-pairs anywhere."""
    from .hashing import portable_hash56
    from .shingles import ngram_multiset_array, with_tokens

    grams = ngram_multiset_array(n)
    occ = (
        with_tokens(docs, text_col)
        .select(
            F.col(source_col).alias("source"),
            "doc_id",
            F.explode(grams).alias("gram"),
        )
        .select("source", "doc_id", portable_hash56("gram").alias("h"))
    )
    per = occ.groupBy("doc_id", "source", "h").agg(
        F.count(F.lit(1)).alias("occ")
    )
    # collapse to the (source, gram) grain BEFORE the docs-per-gram
    # join: a doc has exactly one source, so distinct docs per gram is
    # the sum of the per-source distinct-doc counts (`per` is
    # (doc, source, h)-distinct by construction), and the join input
    # shrinks from docs x vocab to #sources x vocab rows. At test SF
    # this is a measured wash (nd broadcasts either way: r14 A/B
    # best-of-5 {2.49, 2.96} doc-grain vs {2.73, 2.74} source-grain,
    # identical 20-row output) — the grain cut is for the 100 TB
    # posture, where the per-gram count side is vocabulary-scale, the
    # join goes sort-merge, and the doc-grain side would be the
    # corpus's full (doc, gram) incidence instead of a bounded matrix.
    # per2 feeds BOTH the docs-per-gram aggregate and the join back —
    # materialize the bounded (#sources x vocab) frame once with an
    # eager localCheckpoint so the corpus explode+hash runs ONE scan,
    # not two (interleaved A/B at sf0.1: 2.46 s -> 1.49 s, 20-row
    # output bit-identical; at 100 TB the re-run side is the full
    # corpus n-gram explode, the checkpoint side a vocabulary-bounded
    # matrix — the `cluster_balanced_sample` narrow-checkpoint
    # argument at the gram grain)
    per2 = per.groupBy("source", "h").agg(
        F.sum("occ").alias("occ"), F.count(F.lit(1)).alias("nd_s")
    ).localCheckpoint(eager=True)
    nd = per2.groupBy("h").agg(F.sum("nd_s").alias("nd"))
    j = per2.join(nd, "h")
    agg = j.groupBy("source").agg(
        F.sum("occ").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("nd") > 1, F.col("occ")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_dup_grams"),
    )
    return agg.select(
        "source",
        "n_grams",
        "n_dup_grams",
        pround(F.col("n_dup_grams") / F.col("n_grams"), 6).alias(
            "dup_coverage"
        ),
    )


def source_vocab_cosine_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise lexical similarity between sources: the cosine between
    per-source token-count vectors — the distribution-level mirror
    read that catches two sources that are essentially the same corpus
    (two crawls of one site, a mirror, a re-release) even when no
    individual document duplicates, which is exactly the case the
    doc-level (`source_overlap_matrix`) and span-level
    (`dup_ngram_coverage`) cards miss. Cosine on RAW counts is
    scale-invariant (a source 10x the size of its mirror still scores
    ~1), and every dot/norm numerator is EXACT integer arithmetic
    (DECIMAL products/sums — no summation-order dependence), with the
    single sqrt/division in correctly-rounded double on both engines.
    Tokens are the whitespace-lowercase convention (`ttr_card`'s
    identity unit, via the shared `ttr_token_counts` frame).
    NULL-source docs carry no identity to correlate and are excluded;
    a pair of sources sharing zero tokens has no row (cosine 0 by
    absence). Output: (source_a < source_b, n_shared_types, cosine),
    cosine prounded to 6.

    Scale shape: ONE (source, token) count aggregate (vocabulary-
    bounded, map-side combinable), an inverted-index equi-join of that
    frame with itself on the token (per-token fan-out <= #sources^2 —
    bounded by the reporting grain, never the corpus), one
    (source, source) rollup, and two BROADCAST joins against the
    #sources-row norms frame. No window, no Python, no all-pairs over
    documents.

    The matrix half is :func:`source_vocab_cosine_from_counts` so the
    TTR stream's maintained (source, token, cnt) state serves this
    card too — one maintained token table, three cards (TTR,
    vocab-coverage, cosine matrix), no corpus re-scan."""
    return source_vocab_cosine_from_counts(
        ttr_token_counts(docs, source_col, text_col)
    )


def source_vocab_cosine_from_counts(per_tok: DataFrame) -> DataFrame:
    """`source_vocab_cosine_matrix` over a prebuilt (source, token,
    cnt) frame — e.g. the TTR stream's merged delta-log state."""
    per = per_tok.where(F.col("source").isNotNull())
    # DECIMAL(19,0) counts: products land in DECIMAL(38,0) — exact
    # per-product up to ~1e12 counts where bigint products would
    # already overflow. The SUM stays precision 38, so a dot product
    # can in principle exceed 1e38 (vocabulary size x 1e12^2 worst
    # case) and fail loudly under ANSI rather than round — acceptable:
    # the failure is an error, never a silently drifted cosine, and
    # real per-(source, token) counts sit orders of magnitude below
    # the bound
    per = per.select(
        "source", "token", F.col("cnt").cast("decimal(19,0)").alias("cnt")
    )
    # `per` feeds the norms aggregate AND both sides of the self-join
    # — three evaluations of the upstream (corpus tokenize for the
    # batch card; delta-log fold for the stream state). Materialize
    # the vocabulary-bounded frame once (eager localCheckpoint;
    # interleaved A/B at sf0.1: 0.57 s -> 0.44 s, 190-row output
    # bit-identical — the narrow-checkpoint rule: bounded frame,
    # multiple consumers). Contrast `decontam.boilerplate_flags`,
    # where the same A/B REJECTED checkpointing the corpus-sized
    # shingle index (0.99 -> 1.28 s): the rule cuts on the frame
    # being bounded, not on consumer count alone.
    per = per.localCheckpoint(eager=True)
    norms = per.groupBy("source").agg(
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).cast("double")).alias(
            "nrm"
        )
    )
    a = per.select(
        F.col("source").alias("source_a"), "token", F.col("cnt").alias("ca")
    )
    b = per.select(
        F.col("source").alias("source_b"), "token", F.col("cnt").alias("cb")
    )
    dots = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_types"),
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        )
    )
    na = norms.select(
        F.col("source").alias("source_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("source").alias("source_b"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_types",
            pround(
                F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )


def truncation_loss_card(
    docs: DataFrame,
    max_len: int = 512,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Truncation-loss card: per source, the token mass a fixed
    max-sequence-length cut would DISCARD — the number a training run
    reads before committing to a context length (the length histogram
    says how docs distribute; this says what the cut actually costs,
    because one 100k-token doc loses more than a thousand 600-token
    docs). Tokens are the shared `bpe_token_count` budgeting unit.
    NULL-text docs carry no tokens to lose and are excluded
    (`corpus_stats_exact` reports them); an all-empty source keeps its
    row with a NULL loss rate; a NULL source keeps its own audit row.
    Output: (source, n_docs, n_tokens, n_truncated, tokens_lost,
    trunc_rate, loss_rate), rates prounded to 6.

    Scale shape: one row-local projection -> ONE map-side-combinable
    source aggregate. No join, no window, no Python.

    Split into :func:`truncation_counts` (the additive delta) and
    :func:`finish_truncation_card` (the presentation) so the streaming
    twin (`streaming.ingest.truncation_card_stream`) maintains the
    sums incrementally — the cost of a candidate context length stays
    current as drops arrive."""
    return finish_truncation_card(
        truncation_counts(docs, max_len, source_col, text_col)
    )


def truncation_counts(
    docs: DataFrame,
    max_len: int = 512,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The ADDITIVE half of `truncation_loss_card`: per-source token /
    truncation sums at a FIXED max_len — two frames of these merge by
    summing every count column (the max_len is part of the state's
    identity; merging states cut at different lengths is meaningless)."""
    tok = bpe_token_count(text_col)
    d = docs.where(F.col(text_col).isNotNull()).select(
        F.col(source_col).alias("source"),
        tok.alias("tok"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
        F.sum((F.col("tok") > max_len).cast("int"))
        .cast("bigint")
        .alias("n_truncated"),
        F.sum(F.greatest(F.col("tok") - max_len, F.lit(0)))
        .cast("bigint")
        .alias("tokens_lost"),
    )


def finish_truncation_card(counts: DataFrame) -> DataFrame:
    """The presentation half of `truncation_loss_card`: the truncation
    and loss rates over an already-bounded per-source counts frame."""
    return counts.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_truncated",
        "tokens_lost",
        pround(F.col("n_truncated") / F.col("n_docs"), 6).alias(
            "trunc_rate"
        ),
        F.when(
            F.col("n_tokens") > 0,
            pround(F.col("tokens_lost") / F.col("n_tokens"), 6),
        ).alias("loss_rate"),
    )


def source_signature_terms(
    docs: DataFrame,
    k: int = 10,
    min_cnt: int = 2,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Characteristic terms per source: the k tokens with the highest
    relative-frequency LIFT (share within the source over share in the
    whole corpus) — the "what is this source actually about" dataset-
    card row, and the first read when a mixture weight misbehaves (a
    crawl whose signature terms are casino spam does not deserve its
    byte share). Lift instead of TF-IDF because it needs no logarithm:
    score = (cnt_st * N) / (N_s * cnt_t) is two exact integer-valued
    double products and one division — bit-identical on both engines,
    no ln() rounding hazard. Ties break toward the lexicographically
    smaller token; ``min_cnt`` suppresses hapax noise (a token seen
    once in a small source otherwise tops every list). NULL-source
    docs carry no population to characterize and are excluded; NULL
    text contributes nothing. Output: (source, rank, token, cnt,
    lift), lift prounded to 6.

    Scale shape: ONE vocabulary-bounded (source, token) count (the
    shared `ttr_token_counts` frame), a token-keyed join against the
    per-token corpus counts (fan-out <= #sources per token), broadcast
    joins for the bounded per-source totals and the 1-row corpus
    total, and the salted two-phase per-source top-k (no partition
    ever holds a source's full vocabulary). No Python, no all-pairs."""
    per = ttr_token_counts(docs, source_col, text_col).where(
        F.col("source").isNotNull()
    )
    tot_s = per.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_s")
    )
    tot_t = per.groupBy("token").agg(
        F.sum("cnt").cast("bigint").alias("cnt_t")
    )
    n_total = tot_s.agg(F.sum("n_s").cast("bigint").alias("n_total"))
    scored = (
        per.where(F.col("cnt") >= min_cnt)
        .join(tot_t, "token")
        .join(F.broadcast(tot_s), "source")
        .crossJoin(F.broadcast(n_total))
        .select(
            "source",
            "token",
            "cnt",
            (
                (F.col("cnt").cast("double") * F.col("n_total"))
                / (F.col("n_s").cast("double") * F.col("cnt_t"))
            ).alias("lift_raw"),
        )
    )
    n_salt = docs.sparkSession.sparkContext.defaultParallelism
    w1 = Window.partitionBy(
        "source", F.pmod(F.xxhash64("token"), F.lit(n_salt))
    ).orderBy(F.desc("lift_raw"), F.asc("token"))
    local = scored.withColumn("__r1", F.row_number().over(w1)).where(
        F.col("__r1") <= k
    )
    w2 = Window.partitionBy("source").orderBy(
        F.desc("lift_raw"), F.asc("token")
    )
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "source",
            "rank",
            "token",
            "cnt",
            pround(F.col("lift_raw"), 6).alias("lift"),
        )
    )


def source_concentration_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixture-concentration card: ONE row saying how lopsided the
    corpus is across sources — bucket count, doc/token totals,
    Herfindahl-Hirschman concentration of the doc and token shares,
    and the dominant source with both its shares. The first read when
    a mixture is proposed: a token HHI far above the doc HHI means one
    source's long documents dominate the actual training signal even
    though the doc mix looks balanced, and every downstream weighting
    decision (temperature, caps, budgets) starts from that fact.
    HHI instead of entropy deliberately: sum(share^2) needs NO
    logarithm — sum(cnt^2) is an exact order-free DECIMAL(38,0)
    integer on both engines and the share normalization is one double
    division, so the card hash-certifies where an ln()-based entropy
    could drift in the last ulp.

    A NULL source is its own bucket (audit convention); NULL-text docs
    count in docs but carry zero tokens. The dominant source is by
    token count, ties to more docs then lexicographically smaller
    source with NULL last. ``token_hhi``/``top_token_share`` are NULL
    for a token-free corpus.

    Scale shape: one map-side-combinable (source) aggregate over one
    projection, then a #sources-bounded reduce: a 1-row totals
    aggregate, a TakeOrdered(1) for the dominant source, and one
    broadcast cross of the two 1-row frames. No corpus-scale window,
    no Python. Split as additive counts + finish so
    `streaming.ingest.concentration_card_stream` maintains the same
    card incrementally."""
    return finish_concentration_card(
        concentration_counts(docs, source_col, text_col)
    )


def concentration_counts(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The ADDITIVE half of `source_concentration_card`: per-source doc
    and token counts (integers — `_fold` merges them across batches).
    NULL-text docs count with zero tokens (COALESCE at the delta level
    keeps the column additive)."""
    return docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs_s"),
        F.coalesce(
            F.sum(bpe_token_count(text_col)), F.lit(0)
        ).cast("bigint").alias("n_tok_s"),
    )


def finish_concentration_card(per: DataFrame) -> DataFrame:
    """The presentation half of `source_concentration_card` over a
    (source, n_docs_s, n_tok_s) frame — a batch aggregate or the card
    stream's merged delta-log state."""
    d19 = "decimal(19,0)"
    tot = per.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n_docs_s").cast("bigint").alias("n_docs"),
        F.sum("n_tok_s").cast("bigint").alias("n_tokens"),
        F.sum(F.col("n_docs_s").cast(d19) * F.col("n_docs_s").cast(d19))
        .alias("__d2"),
        F.sum(F.col("n_tok_s").cast(d19) * F.col("n_tok_s").cast(d19))
        .alias("__t2"),
    )
    top = (
        per.orderBy(
            F.desc("n_tok_s"), F.desc("n_docs_s"), F.asc_nulls_last("source")
        )
        .limit(1)
        .select(
            F.col("source").alias("top_source"),
            F.col("n_docs_s").alias("__top_d"),
            F.col("n_tok_s").alias("__top_t"),
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        tot.crossJoin(F.broadcast(top))
        .select(
            "n_sources",
            "n_docs",
            "n_tokens",
            pround(
                dd("__d2") / (dd("n_docs") * dd("n_docs")), 6
            ).alias("doc_hhi"),
            F.when(
                F.col("n_tokens") > 0,
                pround(dd("__t2") / (dd("n_tokens") * dd("n_tokens")), 6),
            ).alias("token_hhi"),
            "top_source",
            pround(dd("__top_d") / dd("n_docs"), 6).alias("top_doc_share"),
            F.when(
                F.col("n_tokens") > 0,
                pround(dd("__top_t") / dd("n_tokens"), 6),
            ).alias("top_token_share"),
        )
    )


def boilerplate_ngrams_topk(
    docs: DataFrame,
    k: int = 20,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The k most WIDESPREAD word n-grams — ranked by how many distinct
    documents carry them — with their total occurrence counts: the
    card that says WHAT the boilerplate actually is (nav chrome,
    license banners, template headers), where `dup_ngram_coverage`
    says only how much of each source is span-duplicated and
    `ngram_freq_spectrum` only how fat the head is. The shortlist a
    cleaning pass hand-reviews before committing a removal rule.
    Grams are the shared multiset convention (`shingles`); ranking is
    docs desc, occurrences desc, gram ASC — a total order, so the
    top-k cut is deterministic on both engines.

    Scale shape: explode -> per-(doc, gram) pre-aggregate (skew-safe:
    a hot gram is one row per carrying doc, counts combined map-side)
    -> vocabulary-bounded per-gram rollup -> global TakeOrdered(k) ->
    rank window over the k-row frame only (the events_paths_topk
    post-limit pattern). The gram string is the shuffle key — the
    same width the decontamination join shuffles. No Python."""
    from .shingles import ngram_multiset_array, with_tokens

    per = (
        with_tokens(docs, text_col)
        .select("doc_id", F.explode(ngram_multiset_array(n)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    grams = per.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("occ").cast("bigint").alias("n_occurrences"),
    )
    cut = grams.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram")
    ).limit(k)
    w = Window.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram"))
    return cut.select(
        F.row_number().over(w).alias("rank"), "gram", "n_docs", "n_occurrences"
    )


def snapshot_drift_card(
    old: DataFrame,
    new: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-to-snapshot drift card: per source, how the NEW corpus
    drop differs from the OLD one on the health metrics that break
    silently — doc volume, NULL-text rate, mean doc length (tokens),
    mean quality — each as (old, new, delta). The "did the refreshed
    crawl change under us" read a pipeline runs BEFORE retraining on a
    new drop: a source whose NULL rate jumped means a broken extractor
    upstream, a length collapse means truncation snuck in, a quality
    shift moves every downstream gate. `token_drift_card` answers the
    vocabulary-level version of this question; this is the
    table-health level. Sources present in only one snapshot report
    NULL on the missing side (appearing/disappearing sources are
    themselves the headline finding).

    Numeric determinism: rates and means are exact-integer or
    exact-DECIMAL sums divided once in double and prounded to 6;
    deltas are one IEEE subtraction of two prounded doubles, prounded
    again (both engines see identical inputs, so identical deltas).

    Scale shape: ONE map-side-combinable (source) aggregate per
    snapshot + ONE full-outer join on the bounded source key. No
    window, no corpus-side join, no Python."""
    from ..numeric import pround

    def side(df: DataFrame, tag: str) -> DataFrame:
        q = quality_scores_or_none(df, text_col)
        return q.groupBy(F.col(source_col).alias("source")).agg(
            F.count(F.lit(1)).alias(f"{tag}_docs"),
            F.sum(
                F.when(F.col(text_col).isNull(), 1).otherwise(0)
            ).cast("bigint").alias(f"{tag}_nulls"),
            F.coalesce(
                F.sum(bpe_token_count(text_col)), F.lit(0)
            ).cast("bigint").alias(f"{tag}_tokens"),
            F.sum(F.col("quality").cast("decimal(18,6)")).alias(
                f"__{tag}_q"
            ),
            F.count("quality").alias(f"__{tag}_qn"),
        )

    # null-safe full outer: the NULL-source bucket must land on ONE row
    # with both sides' numbers, not split into two half-NULL rows
    o = side(old, "old").withColumnRenamed("source", "__so")
    n = side(new, "new").withColumnRenamed("source", "__sn")
    j = o.join(
        n, F.col("__so").eqNullSafe(F.col("__sn")), "full_outer"
    ).withColumn("source", F.coalesce("__so", "__sn"))

    def rate(tag: str):
        return F.when(
            F.col(f"{tag}_docs") > 0,
            pround(
                F.col(f"{tag}_nulls").cast("double")
                / F.col(f"{tag}_docs"),
                6,
            ),
        )

    def mean_len(tag: str):
        nn = F.col(f"{tag}_docs") - F.col(f"{tag}_nulls")
        return F.when(
            nn > 0,
            pround(F.col(f"{tag}_tokens").cast("double") / nn, 6),
        )

    def mean_q(tag: str):
        return F.when(
            F.col(f"__{tag}_qn") > 0,
            pround(
                F.col(f"__{tag}_q").cast("double") / F.col(f"__{tag}_qn"),
                6,
            ),
        )

    def delta(a, b):
        return pround(b - a, 6)

    return j.select(
        "source",
        "old_docs",
        "new_docs",
        rate("old").alias("old_null_rate"),
        rate("new").alias("new_null_rate"),
        delta(rate("old"), rate("new")).alias("null_rate_delta"),
        mean_len("old").alias("old_mean_tokens"),
        mean_len("new").alias("new_mean_tokens"),
        delta(mean_len("old"), mean_len("new")).alias("mean_tokens_delta"),
        mean_q("old").alias("old_mean_quality"),
        mean_q("new").alias("new_mean_quality"),
        delta(mean_q("old"), mean_q("new")).alias("mean_quality_delta"),
    )


def quality_scores_or_none(df: DataFrame, text_col: str = "text") -> DataFrame:
    """`textstats.quality_scores` joined back so every input row
    survives with a nullable quality — NULL-text docs carry NULL
    quality (the score operator drops them; this card must count
    them)."""
    from .textstats import quality_scores

    q = quality_scores(df.where(F.col(text_col).isNotNull()))
    return df.join(q.select("doc_id", "quality"), "doc_id", "left")


def quality_by_lang(
    docs: DataFrame, low_cut: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Quality-score distribution per PREDICTED language — the gate-
    fairness read taken before trusting one global quality cutoff: the
    score's stopword and token-length components are English-tuned, so
    a threshold placed on the global histogram can silently gut the
    other languages; this card says whether each language's mass sits
    below the candidate cutoff BEFORE the gate ships. Predictions are
    `textstats.lang_id` (the certified convention — zero-evidence and
    NULL-text docs land on the NULL-language row, where quality is
    NULL and only n_docs counts). Output: (pred_lang, n_docs,
    mean_quality, low_q_docs, low_q_rate); mean and rate NULL for a
    quality-free row.

    Numeric determinism: mean quality is the exact DECIMAL(18,6) sum
    of the prounded per-doc scores divided once in double; the low
    cut compares prounded scores against an exact literal (no
    recomputation drift). Scale shape: two row-local projections
    chained on doc_id (one doc-keyed join of one-row-per-doc frames)
    -> ONE map-side-combinable aggregate on the bounded
    #profiles+1 key."""
    return finish_quality_by_lang(quality_lang_counts(docs, low_cut, text_col))


def quality_lang_counts(
    docs: DataFrame, low_cut: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """The ADDITIVE half of `quality_by_lang` — per predicted language:
    doc count, the quality sum as EXACT micro-units (the per-doc score
    is prounded to 6 decimals, so floor(q*1e6 + 0.5) recovers its
    integer numerator exactly and the sum is a foldable BIGINT — the
    delta-log `_fold` sums bigints, where a DECIMAL column would be
    truncated), the quality-carrying doc count, and the below-cutoff
    count (the cut compares the prounded score inside the row-local
    delta, so folding never re-decides it)."""
    from .textstats import lang_id

    lang = lang_id(docs).select("doc_id", "pred_lang")
    q = quality_scores_or_none(docs, text_col).select("doc_id", "quality")
    j = lang.join(q, "doc_id")
    return j.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(
                F.floor(F.col("quality") * 1000000 + F.lit(0.5)).cast("bigint")
            ),
            F.lit(0),
        ).cast("bigint").alias("q_micro"),
        F.count("quality").alias("qn"),
        F.coalesce(
            F.sum(
                F.when(F.col("quality") < low_cut, 1).otherwise(
                    F.when(F.col("quality").isNotNull(), 0)
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("low_q_docs"),
    )


def finish_quality_by_lang(per: DataFrame) -> DataFrame:
    """The presentation half of `quality_by_lang` over a (pred_lang,
    n_docs, q_micro, qn, low_q_docs) frame — a batch aggregate or the
    card stream's merged delta-log state. Numeric parity with the
    original one-shot card: q_micro < 2^53 casts to double EXACTLY
    (scores are <= 1, so that bound is ~9e9 quality-carrying docs per
    language — past it the cast is 1-ulp-correct, far inside the
    pround-6 grain), and one IEEE division by 1e6 yields the
    correctly-rounded double of the rational sum — the same value the
    DECIMAL(18,6)-sum-then-cast path produced — so the final mean
    division is bit-identical on both construction paths (and to the
    DuckDB oracle, whose DECIMAL sum remains the unbounded-scale
    audit)."""
    return per.select(
        "pred_lang",
        "n_docs",
        F.when(
            F.col("qn") > 0,
            pround(
                (F.col("q_micro").cast("double") / F.lit(1000000.0))
                / F.col("qn"),
                6,
            ),
        ).alias("mean_quality"),
        F.col("low_q_docs"),
        F.when(
            F.col("qn") > 0,
            pround(F.col("low_q_docs").cast("double") / F.col("qn"), 6),
        ).alias("low_q_rate"),
    )
