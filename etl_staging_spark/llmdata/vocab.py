"""Tokenizer-training support: vocabulary induction over the corpus.

A tokenizer pipeline needs three corpus-wide statistics before any
merges happen: the token frequency table (vocab candidates), the
within-word adjacent symbol-pair counts (the quantity BPE maximizes at
every merge step — this operator is exactly one iteration of the BPE
trainer's inner loop, distributed), and the coverage a candidate vocab
achieves over token occurrences (the acceptance metric for a vocab
size). All three are single-scan map-side-combinable aggregates;
rankings use TakeOrderedAndProject heaps with deterministic tie-breaks
(count desc, symbol asc) — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..numeric import o_pround, pround
from ..tables import local_frame, pin
from .shingles import TOKS, with_tokens

TOP_K = 100


def vocab_topk(df: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-``k`` tokens by occurrence count (ties by token asc).
    Output: (token, cnt, rank 1-based)."""
    counts = (
        with_tokens(df)
        .select(F.explode(F.col(TOKS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    # rank over the bounded k-row result (never the full vocab)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.select(
        "token", "cnt", F.row_number().over(w).cast("int").alias("rank")
    )


def o_vocab_topk(k: int = TOP_K, source_sql: str = "documents") -> str:
    return f"""
    WITH vt AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM {source_sql}
    ),
    vc AS (SELECT token, COUNT(*) AS cnt FROM vt GROUP BY token)
    SELECT token, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
    FROM vc ORDER BY cnt DESC, token LIMIT {k}"""


def bpe_pair_counts(df: DataFrame, k: int = TOP_K) -> DataFrame:
    """One iteration of the BPE trainer's argmax, distributed: counts
    of ADJACENT CHARACTER PAIRS within words across all token
    occurrences, top-``k`` with the (count desc, pair asc) tie-break a
    deterministic trainer needs. Output: (pair, cnt, rank).

    The full trainer loops merge -> recount; each round is this same
    aggregate over the re-segmented corpus, so the distributed shape is
    established by one round (real trainers run the loop on a frequency
    -collapsed word table orders of magnitude smaller than the corpus
    — the word table here is the groupBy below)."""
    words = (
        with_tokens(df)
        .select(F.explode(F.col(TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) ELSE array() END"
            )
        ).alias("pair"),
        "n",
    )
    counts = pairs.groupBy("pair").agg(F.sum("n").cast("long").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.select(
        "pair", "cnt", F.row_number().over(w).cast("int").alias("rank")
    )


def o_bpe_pair_counts(k: int = TOP_K, source_sql: str = "documents") -> str:
    return f"""
    WITH bw AS (
      SELECT w, COUNT(*) AS n FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM {source_sql}) GROUP BY w
    ),
    bp AS (
      SELECT unnest([w[i:i+1] FOR i IN range(1, len(w))]) AS pair, n
      FROM bw WHERE len(w) >= 2
    ),
    bc AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM bp GROUP BY pair)
    SELECT pair, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
    FROM bc ORDER BY cnt DESC, pair LIMIT {k}"""


def vocab_coverage(df: DataFrame, k: int = TOP_K) -> DataFrame:
    """Occurrence coverage of the top-``k`` vocab: what fraction of all
    token occurrences a ``k``-entry vocabulary explains — the curve a
    tokenizer team reads to pick vocab size. One row:
    (k, covered, total, coverage)."""
    # persisted: both the top-k cut and the total read this vocab-sized
    # frame, so the corpus-scale explode+count runs once
    toks = (
        with_tokens(df)
        .select(F.explode(F.col(TOKS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    top = toks.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    covered = top.agg(F.sum("cnt").cast("long").alias("covered"))
    total = toks.agg(F.sum("cnt").cast("long").alias("total"))
    out = (
        covered.join(F.broadcast(total))
        .select(
            F.lit(k).cast("int").alias("k"),
            "covered",
            "total",
            pround(F.col("covered") / F.col("total"), 6).alias("coverage"),
        )
    )
    return pin(out, toks)


def o_vocab_coverage(k: int = TOP_K, source_sql: str = "documents") -> str:
    cov = o_pround("CAST(covered AS DOUBLE) / total", 6)
    return f"""
    WITH vt AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM {source_sql}
    ),
    vc AS (SELECT token, COUNT(*) AS cnt FROM vt GROUP BY token),
    topk AS (SELECT cnt FROM vc ORDER BY cnt DESC, token LIMIT {k})
    SELECT CAST({k} AS INT) AS k,
           CAST((SELECT SUM(cnt) FROM topk) AS BIGINT) AS covered,
           CAST((SELECT SUM(cnt) FROM vc) AS BIGINT) AS total,
           {cov} AS coverage
    FROM (SELECT CAST((SELECT SUM(cnt) FROM topk) AS BIGINT) AS covered,
                 CAST((SELECT SUM(cnt) FROM vc) AS BIGINT) AS total)"""


def bpe_train(df: DataFrame, n_merges: int = 10) -> DataFrame:
    """The full BPE trainer loop, distributed: learn ``n_merges`` merge
    rules from the corpus. Returns the merge table
    (merge_rank 1-based, left, right, merged, pair_count).

    Shape: ONE corpus-scale aggregate builds the frequency-collapsed
    word table (word -> count, the working set real BPE trainers loop
    on); every round then (1) counts adjacent symbol pairs over the
    word table's symbol arrays — map-combinable, (2) collects the
    argmax pair (ONE row to the driver, deterministic count-desc /
    pair-asc tie-break), (3) applies the merge JVM-side with an array
    fold. The loop's driver state is the merge list (n_merges rows);
    the word table stays distributed and is re-persisted per round with
    the previous round unpersisted (bounded lineage, cluster-CC style).

    Not expressible as one SQL query (each round's counts depend on the
    previous round's argmax), so correctness is pinned by the
    python-reference trainer in tests rather than a DuckDB oracle."""
    words = (
        with_tokens(df)
        .select(F.explode(F.col(TOKS)).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .alias("syms"),
            "n",
        )
        .persist()
    )
    merges = []
    cur = words
    spark = df.sparkSession
    for rank in range(1, n_merges + 1):
        pair_counts = (
            cur.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN transform("
                        "sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] AS l, syms[i+1] AS r)) "
                        "ELSE array() END"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        top = pair_counts.orderBy(
            F.desc("cnt"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((rank, l, r, l + r, cnt))
        # apply the merge: left-to-right fold collapsing (l, r) -> l||r,
        # matching the sequential semantics of the reference trainer.
        # Symbols bind as F.lit() Columns, not interpolated SQL string
        # literals — escaped literals only parse while
        # spark.sql.parser.escapedStringLiterals stays false
        lc, rc, mc = F.lit(l), F.lit(r), F.lit(l + r)
        merged_col = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lc)
                & (x == rc),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(mc)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = cur.select(merged_col.alias("syms"), "n").persist()
        nxt.count()  # materialize before dropping the parent
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return local_frame(
        spark,
        merges,
        "merge_rank int, left string, right string, merged string, pair_count long",
    )



def o_bpe_encode(
    merges: list[tuple[str, str]], source_sql: str = "documents"
) -> str:
    """DuckDB oracle for :func:`bpe_encode_report` under a FIXED merge
    list: each merge pass is a ``list_reduce`` fold over the symbol
    list with the accumulator encoded as a chr(31)-joined string —
    last-symbol == left AND next == right collapses, exactly the
    left-to-right semantics of the Spark array fold (plain string
    REPLACE chains cannot express this: with separators consumed the
    chain "l l l l" misses the second collapse, without boundaries a
    symbol's prefix/suffix false-matches). Oracle-side limitation: a
    token CONTAINING chr(31) would corrupt the joined accumulator —
    fine for the whitespace-tokenized test corpora; the Spark fold
    itself has no such constraint."""
    expr = "[w[i:i] FOR i IN range(1, len(w)+1)]"
    for left, right in merges:
        le = left.replace("'", "''")
        re_ = right.replace("'", "''")
        expr = f"""string_split(list_reduce({expr}, (acc, x) -> CASE
          WHEN regexp_extract(acc, '[^\\x1f]*$') = '{le}' AND x = '{re_}'
          THEN substr(acc, 1, len(acc) - len('{le}')) || '{le}{re_}'
          ELSE acc || chr(31) || x END), chr(31))"""
    comp = o_pround("CAST(n_chars AS DOUBLE) / n_bpe_tokens", 6)
    return f"""
    WITH bw AS (
      SELECT doc_id, w, COUNT(*) AS n_occ FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM {source_sql})
      WHERE len(w) >= 1 GROUP BY doc_id, w
    ),
    bvocab AS (SELECT DISTINCT w FROM bw),
    benc AS (SELECT w, len({expr}) AS n_sym FROM bvocab),
    btot AS (
      SELECT doc_id,
             CAST(SUM(len(w) * n_occ) AS BIGINT) AS n_chars,
             CAST(SUM(n_sym * n_occ) AS BIGINT) AS n_bpe_tokens
      FROM bw JOIN benc USING (w)
      GROUP BY doc_id
    )
    SELECT doc_id, n_chars, n_bpe_tokens, {comp} AS compression
    FROM btot"""


def bpe_encode_report(
    df: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Encode the corpus with a LEARNED merge list (e.g. collected from
    :func:`bpe_train`) and report per-doc compression: (doc_id,
    n_chars, n_bpe_tokens, compression = chars per BPE token). The
    consumer-side half of the tokenizer story — train once, encode the
    corpus, read the compression curve.

    Scale shape: the merge fold is EXPENSIVE (|merges| chained array
    folds), so it runs on the frequency-collapsed DISTINCT word table
    (|vocab| rows — orders of magnitude under the corpus), never on raw
    text; per-doc totals then come from one explode + an aggregate join
    of (doc word counts) x (encoded word lengths). Merges apply in rank
    order with the same left-to-right collapse as the trainer, symbols
    bound as lit() Columns (no SQL-literal interpolation).

    Like the trained-centroid ANN variant, the merge list is
    data-derived driver state, so parity is pinned by the
    python-reference encoder in tests rather than a one-SQL oracle."""
    words = (
        with_tokens(df)
        .select("doc_id", F.explode(F.col(TOKS)).alias("w"))
        .where(F.length("w") >= 1)
    )
    per_doc_word = words.groupBy("doc_id", "w").agg(
        F.count("*").alias("n_occ")
    )
    vocab_words = per_doc_word.select("w").distinct()
    syms = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    enc = vocab_words.select("w", syms.alias("syms"))
    for l, r in merges:
        lc, rc, mc = F.lit(l), F.lit(r), F.lit(l + r)
        enc = enc.select(
            "w",
            F.aggregate(
                F.col("syms"),
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == lc)
                    & (x == rc),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(mc)
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
        )
    enc_len = enc.select("w", F.size("syms").alias("n_sym"))
    return (
        per_doc_word.join(enc_len, "w")
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("w") * F.col("n_occ")).cast("long").alias("n_chars"),
            F.sum(F.col("n_sym") * F.col("n_occ")).cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_bpe_tokens",
            pround(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
                "compression"
            ),
        )
    )


def vocab_coverage_by_source(
    df: DataFrame, k: int = TOP_K, source_col: str = "source"
) -> DataFrame:
    """Per-source occurrence coverage of the GLOBAL top-``k`` vocab —
    the OOV-rate-by-source read behind `vocab_coverage`'s single
    corpus-wide number: a tokenizer whose vocabulary was induced on
    the whole mixture can cover 99% of one crawl and gut another, and
    this card is what surfaces it before training commits. Tokens are
    the whitespace-lowercase convention the vocab inducers use;
    NULL-text docs contribute nothing; a NULL source keeps its own
    audit row. Output: (source, total_tokens, covered_tokens,
    coverage, oov_rate), both rates prounded to 6 — the denominator
    can never be zero (a source row exists only with >= 1 token).

    Scale shape: ONE corpus-scale explode feeds a (source, token)
    count that is persisted and read twice (bounded: per-source
    vocabulary, the `vocab_topk` width) — once rolled up to the global
    vocab and its TakeOrdered top-k cut (count desc, token asc — the
    module's deterministic tie-break), once LEFT-joined against the
    BROADCAST k-row vocab (token keys, never NULL) and rolled up per
    source. No corpus re-scan, no window, no Python."""
    from .stats import ttr_token_counts

    return vocab_coverage_from_counts(
        ttr_token_counts(df, source_col=source_col), k=k
    )


def vocab_coverage_from_counts(per_tok: DataFrame, k: int = TOP_K) -> DataFrame:
    """The finish half of :func:`vocab_coverage_by_source`, over an
    already-aggregated (source, token, cnt) frame — THE SAME state
    `stats.ttr_token_counts` produces and the TTR card stream
    maintains, so one maintained token table serves both cards (the
    streaming test pins it). The input is read twice (vocab induction
    + the join back): an unpersisted input is persisted here and
    pinned to the output for the caller to release — passing a
    delta-log fold straight in does NOT re-run the fold twice per
    card."""
    sl = per_tok.storageLevel
    pinned = ()
    if not (sl.useMemory or sl.useDisk):
        per_tok = per_tok.persist()
        pinned = (per_tok,)
    top = (
        per_tok.groupBy("token")
        .agg(F.sum("cnt").alias("gcnt"))
        .orderBy(F.desc("gcnt"), F.asc("token"))
        .limit(k)
        .select("token", F.lit(1).alias("hit"))
    )
    out = (
        per_tok.join(F.broadcast(top), "token", "left")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            F.sum(
                F.when(F.col("hit").isNotNull(), F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("covered_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "covered_tokens",
            pround(F.col("covered_tokens") / F.col("total_tokens"), 6).alias(
                "coverage"
            ),
            pround(
                (F.col("total_tokens") - F.col("covered_tokens"))
                / F.col("total_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )
    return pin(out, *pinned)


def o_vocab_coverage_by_source(
    k: int = TOP_K, source_sql: str = "documents"
) -> str:
    """DuckDB oracle twin of :func:`vocab_coverage_by_source` (r14
    registration queue — exercised by the dedicated Spark-vs-DuckDB
    parity pytest at two SFs): the same deterministic (count desc,
    token asc) top-k cut, a LEFT join against the k-row vocab, and
    row-local CAST-to-DOUBLE divisions prounded to 6."""
    cov = o_pround("CAST(covered AS DOUBLE) / total", 6)
    oov = o_pround("CAST(total - covered AS DOUBLE) / total", 6)
    return f"""
    WITH vst AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM {source_sql} WHERE text IS NOT NULL
    ),
    vsc AS (SELECT source, token, COUNT(*) AS cnt FROM vst GROUP BY 1, 2),
    vsg AS (SELECT token, SUM(cnt) AS gcnt FROM vsc GROUP BY token),
    vstop AS (SELECT token FROM vsg ORDER BY gcnt DESC, token LIMIT {k}),
    vsp AS (
      SELECT s.source, SUM(s.cnt) AS total,
             SUM(CASE WHEN t.token IS NOT NULL THEN s.cnt ELSE 0 END) AS covered
      FROM vsc s LEFT JOIN vstop t ON t.token = s.token
      GROUP BY s.source
    )
    SELECT source, CAST(total AS BIGINT) AS total_tokens,
           CAST(covered AS BIGINT) AS covered_tokens,
           {cov} AS coverage,
           {oov} AS oov_rate
    FROM vsp"""
