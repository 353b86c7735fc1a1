"""Corpus-trained n-gram LM quality scoring (CCNet-style).

Production pipelines score every document with a language model
trained on a trusted corpus and filter/bucket on the score (CCNet's
KenLM perplexity; Gopher/Dolma keep it as a quality dimension). This
module implements the distributed form with an add-one-smoothed bigram
model trained on the corpus itself:

    p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)

with frequency-floor pruning (bigrams seen < ``min_count`` times are
dropped from the model and score as unseen — the standard KenLM
``--prune`` treatment that keeps the model Zipf-small at corpus scale).

The per-document score is the MEAN smoothed bigram probability rather
than log-perplexity: ``ln`` is evaluated by different libm
implementations across engines (Spark JVM vs DuckDB C++) and a 1-ulp
disagreement inside an exact-sum would break bit-for-bit oracle
parity. The mean-probability form ranks documents the same direction
(templated/repetitive text scores high, gibberish low) and stays inside
the proven deterministic envelope: one ``pround(·, 6)`` per token and
exact DECIMAL summation (`queries/registry.py` conventions).

Scale shape: the corpus is scanned once into a persisted (doc, tokens)
frame; unigram and bigram counts are map-side-combinable aggregates of
that frame (these are reusable model artifacts — at production scale
they are written once, bucketed by their key, and reused for every
scoring run); scoring joins the bigram occurrence stream against the
two count dims (vocabulary and pruned-bigram tables — both orders of
magnitude smaller than the corpus, shuffle-joined on their keys) and
reduces per doc_id. No windows, no Python, no all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..numeric import o_pround, pround
from ..tables import pin
from .shingles import TOKS, with_tokens

MIN_BIGRAM_COUNT = 2  # frequency-floor pruning of the bigram table


def _token_base(df: DataFrame) -> DataFrame:
    return with_tokens(df).select("doc_id", F.col(TOKS).alias("toks"))


_BIGRAM_EXPR = (
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks)-2), "
    "i -> struct(toks[i] AS w1, concat(toks[i], ' ', toks[i+1]) AS bg)) "
    "ELSE array() END"
)


def _unigram_counts(base: DataFrame) -> DataFrame:
    return (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
    )


def _bigram_occurrences(base: DataFrame) -> DataFrame:
    return base.select(
        "doc_id", F.explode(F.expr(_BIGRAM_EXPR)).alias("o")
    ).select("doc_id", "o.w1", "o.bg")


def _pruned_bigram_counts(occ: DataFrame, min_count: int) -> DataFrame:
    return (
        occ.groupBy("bg")
        .agg(F.count("*").alias("c12"))
        .where(F.col("c12") >= min_count)
    )


def lm_bigram_score(df: DataFrame, min_count: int = MIN_BIGRAM_COUNT) -> DataFrame:
    """Mean add-one-smoothed bigram probability per document under the
    corpus-trained pruned bigram model.

    Output: (doc_id, n_bigrams, avg_prob), one row per document with
    >= 2 tokens (a shorter doc has no bigram events to score).
    """
    base = _token_base(df).persist()
    uni = _unigram_counts(base)
    vocab = uni.agg(F.count("*").alias("v_size"))
    occ = _bigram_occurrences(base)
    bigc = _pruned_bigram_counts(occ, min_count)
    scored = (
        occ.join(uni, occ.w1 == uni.tok)
        .join(bigc, "bg", "left")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            pround(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
                / (F.col("c1") + F.col("v_size")).cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("p"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        pround(F.sum("p").cast("double") / F.count("*"), 6).alias("avg_prob"),
    )
    return pin(out, base)


def o_lm_bigram_score(min_count: int = MIN_BIGRAM_COUNT) -> str:
    """DuckDB oracle twin of :func:`lm_bigram_score` over ``documents``."""
    prob = o_pround(
        "(COALESCE(bigc.c12, 0) + 1) / CAST(uni.c1 + v.v_size AS DOUBLE)", 6
    )
    avg = o_pround("CAST(SUM(p) AS DOUBLE) / COUNT(*)", 6)
    return f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS ord,
                   unnest(toks) AS tok FROM t),
    uni AS (SELECT tok, COUNT(*) AS c1 FROM tok GROUP BY tok),
    v AS (SELECT COUNT(*) AS v_size FROM uni),
    lead_tok AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
      FROM tok
    ),
    occ AS (SELECT doc_id, w1, w1 || ' ' || w2 AS bg
            FROM lead_tok WHERE w2 IS NOT NULL),
    bigc AS (SELECT bg, COUNT(*) AS c12 FROM occ GROUP BY bg
             HAVING COUNT(*) >= {min_count}),
    scored AS (
      SELECT occ.doc_id, CAST({prob} AS DECIMAL(18,6)) AS p
      FROM occ
      JOIN uni ON uni.tok = occ.w1
      LEFT JOIN bigc ON bigc.bg = occ.bg
      CROSS JOIN v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams, {avg} AS avg_prob
    FROM scored GROUP BY doc_id
    """


def write_lm_model(
    corpus: DataFrame,
    table: str,
    min_count: int = MIN_BIGRAM_COUNT,
    n_buckets: int = 16,
) -> None:
    """Persist the corpus-trained LM as bucketed managed tables — the
    model-artifact half of running LM scoring as a service:

    - ``{table}_uni``: unigram counts, bucketed by token (the scoring
      join's key);
    - ``{table}_big``: PRUNED bigram counts, bucketed by bigram;
    - ``{table}_meta``: one row (v_size) — the smoothing denominator
      must come from the training corpus, not the scoring batch.

    Ingest batches/streams score against these with zero corpus
    rescan; a periodic maintenance job re-trains as the corpus grows
    (same lifecycle as the dedup signature index)."""
    from ..etl.bucketed import drop_managed_table, write_bucketed

    base = _token_base(corpus).persist()
    uni = _unigram_counts(base)
    write_bucketed(uni, f"{table}_uni", ["tok"], n_buckets)
    bigc = _pruned_bigram_counts(_bigram_occurrences(base), min_count)
    write_bucketed(bigc, f"{table}_big", ["bg"], n_buckets)
    spark = corpus.sparkSession
    uni_tbl = spark.table(f"{table}_uni")
    vocab = uni_tbl.agg(F.count("*").alias("v_size"))
    drop_managed_table(spark, f"{table}_meta")
    vocab.write.saveAsTable(f"{table}_meta")
    base.unpersist()


def score_with_model(batch: DataFrame, table: str) -> DataFrame:
    """Score ``batch`` documents under a PERSISTED LM
    (:func:`write_lm_model`) — the incremental form of
    :func:`lm_bigram_score`: the batch pays O(batch) joins against the
    bucketed count tables (exchange-free on the model side), the
    training corpus is never rescanned, and unseen tokens fall back to
    c1 = 0 (they were not in the training vocab).

    Output: (doc_id, n_bigrams, avg_prob) — same shape as the batch
    trainer-scorer, so downstream gates are interchangeable."""
    spark = batch.sparkSession
    uni = spark.table(f"{table}_uni")
    bigc = spark.table(f"{table}_big")
    vocab = spark.table(f"{table}_meta")
    occ = _token_base(batch).select(
        "doc_id", F.explode(F.expr(_BIGRAM_EXPR)).alias("o")
    ).select("doc_id", "o.w1", "o.bg")
    scored = (
        occ.join(uni, occ.w1 == uni.tok, "left")
        .join(bigc, "bg", "left")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            pround(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
                / (
                    F.coalesce(F.col("c1"), F.lit(0)) + F.col("v_size")
                ).cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        pround(F.sum("p").cast("double") / F.count("*"), 6).alias("avg_prob"),
    )
