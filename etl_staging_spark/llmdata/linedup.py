"""Segment-level corpus dedup with text reconstruction.

Document-granularity dedup (``llmdata.dedup``) drops whole documents;
production web pipelines ALSO dedup at sub-document granularity:
repeated lines/paragraphs (navigation chrome, license headers, quoted
templates) are removed from otherwise-unique documents and the cleaned
text is re-assembled (RefinedWeb's line-wise dedup, CCNet's paragraph
hashing). The reference engine has no analog — this is part of the
training-data surface built on top of its corpus model.

The segmentation unit here is a fixed-``k``-token window (the documents
fixture is single-spaced prose with no newline structure); on real
corpora the same operator runs with a newline/sentence splitter — only
``segment_table`` changes.

Scale shape: the corpus explodes ONCE into (doc, pos, segment-hash);
the per-hash occurrence count is a map-side-combinable aggregate; the
"too common" segment dim is tiny by construction (only hashes with
count > cutoff survive) so AQE broadcasts it back against the exploded
index; re-assembly is one shuffle on doc_id with the order restored
from the carried ``pos`` (``array_sort`` over collected structs — no
window). The exploded index is persisted so the corpus parquet is
scanned once, not twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import pin
from .hashing import o_hash56, portable_hash56
from .shingles import TOKS, with_tokens

SEG_TOKENS = 8     # tokens per segment
SEG_MAX_DF = 2     # a segment occurring in > SEG_MAX_DF places is boilerplate


def segment_table(df: DataFrame, k: int = SEG_TOKENS) -> DataFrame:
    """(doc_id, pos, seg): consecutive non-overlapping ``k``-token
    segments per document, in document order (last segment may be
    short). Pure array ops — no Python, no window."""
    d = with_tokens(df)
    segs = F.expr(
        f"CASE WHEN size({TOKS}) = 0 THEN array() ELSE "
        f"transform(sequence(0, CAST(ceil(size({TOKS})/{k}.0) AS INT) - 1), "
        f"i -> array_join(slice({TOKS}, i*{k}+1, {k}), ' ')) END"
    )
    return d.select("doc_id", F.posexplode(segs).alias("pos", "seg"))


def _reassemble(marked: DataFrame) -> DataFrame:
    """(doc_id, pos, seg, __hot) -> one row per doc with the hot
    segments dropped and the survivors re-joined in original order."""
    kept_struct = F.when(F.col("__hot").isNull(), F.struct("pos", "seg"))
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.when(F.col("__hot"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
    )


def segment_clean(df: DataFrame, hot: DataFrame, k: int = SEG_TOKENS) -> DataFrame:
    """Scrub ``df`` against an EXISTING hot-segment set (``hot`` must
    have a 56-bit ``h`` column, e.g. the persisted corpus index from
    :func:`write_hot_segment_index`) — the incremental/streaming form:
    new documents pay O(batch), the corpus is never rescanned."""
    segs = segment_table(df, k=k).withColumn("h", portable_hash56(F.col("seg")))
    marked = segs.join(
        hot.select("h", F.lit(True).alias("__hot")).distinct(), "h", "left"
    )
    return _reassemble(marked)


def segment_dedup(
    df: DataFrame, k: int = SEG_TOKENS, max_df: int = SEG_MAX_DF
) -> DataFrame:
    """Remove corpus-repeated segments from every document and
    re-assemble the surviving text in original order.

    Output: (doc_id, n_segs, n_removed, clean_text) — one row per
    input document; ``clean_text`` is '' when every segment was
    boilerplate (the caller's length filter then drops the doc).
    """
    segs = segment_table(df, k=k).withColumn("h", portable_hash56(F.col("seg")))
    segs = segs.persist()
    hot = (
        segs.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("h", F.lit(True).alias("__hot"))
    )
    return pin(_reassemble(segs.join(hot, "h", "left")), segs)


def write_hot_segment_index(
    corpus: DataFrame,
    table: str,
    k: int = SEG_TOKENS,
    max_df: int = SEG_MAX_DF,
    n_buckets: int = 16,
) -> None:
    """Persist the corpus's hot-segment set as a bucketed managed table
    (bucketed by ``h``) — the write-once-shuffle half of running
    segment dedup as a service: ingest batches/streams scrub against
    the table (:func:`segment_clean`) with no corpus rescan, and a
    periodic maintenance job refreshes it as the corpus grows."""
    from ..etl.bucketed import write_bucketed

    segs = segment_table(corpus, k=k).select(
        portable_hash56(F.col("seg")).alias("h")
    )
    hot = (
        segs.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("h")
    )
    write_bucketed(hot, table, ["h"], n_buckets)


def o_segment_dedup(k: int = SEG_TOKENS, max_df: int = SEG_MAX_DF) -> str:
    """DuckDB oracle twin of :func:`segment_dedup` over ``documents``."""
    return f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    segs AS (
      SELECT doc_id, generate_subscripts(sl, 1) - 1 AS pos, unnest(sl) AS seg
      FROM (SELECT doc_id,
                   [array_to_string(toks[(i*{k}+1):(i*{k}+{k})], ' ')
                    FOR i IN range(CAST(ceil(len(toks)/{k}.0) AS BIGINT))] AS sl
            FROM t)
    ),
    hs AS (SELECT doc_id, pos, seg, {o_hash56('seg')} AS h FROM segs),
    hot AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) > {max_df}),
    marked AS (
      SELECT hs.doc_id, hs.pos, hs.seg, hot.h IS NOT NULL AS is_hot
      FROM hs LEFT JOIN hot ON hs.h = hot.h
    )
    SELECT doc_id,
           COUNT(*) AS n_segs,
           CAST(SUM(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN NOT is_hot THEN seg END,
                               ' ' ORDER BY pos), '') AS clean_text
    FROM marked GROUP BY doc_id
    """


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_overlap(
    df: DataFrame, w: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping sliding-window chunking — the retrieval-ingestion
    (RAG) twin of the non-overlapping `segment_table`: windows of ``w``
    tokens every ``stride`` tokens (overlap = w - stride), last window
    ragged, a doc shorter than ``w`` yields exactly one chunk. Output:
    (doc_id, chunk_id 0-based, n_tokens, chunk_text).

    One projection + explode per doc — no shuffle at all; the chunk
    count formula (1 if n <= w else 1 + ceil((n-w)/stride)) guarantees
    full coverage with no all-overlap duplicate tail."""
    if stride <= 0 or w < stride:
        raise ValueError("need 0 < stride <= w")
    d = with_tokens(df)
    n = f"size({TOKS})"
    n_chunks = (
        f"CASE WHEN {n} <= {w} THEN 1 "
        f"ELSE 1 + CAST(ceil(CAST({n} - {w} AS DOUBLE) / {stride}) AS INT) END"
    )
    chunks = F.expr(
        f"transform(sequence(0, ({n_chunks}) - 1), "
        f"i -> array_join(slice({TOKS}, i * {stride} + 1, {w}), ' '))"
    )
    out = d.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
    return out.select(
        "doc_id",
        "chunk_id",
        F.size(F.split(F.col("chunk_text"), " ")).alias("n_tokens"),
        "chunk_text",
    )


def o_chunk_overlap(
    w: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE, source_sql: str = "documents"
) -> str:
    """DuckDB oracle twin of :func:`chunk_overlap`."""
    return f"""
    WITH ct AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM {source_sql}),
    cn AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= {w} THEN 1
                  ELSE 1 + CAST(ceil(CAST(len(toks) - {w} AS DOUBLE)
                                     / {stride}) AS INT) END AS nc
      FROM ct
    ),
    cl AS (
      SELECT doc_id,
             generate_subscripts(sl, 1) - 1 AS chunk_id,
             unnest(sl) AS chunk_text
      FROM (SELECT doc_id,
                   [array_to_string(toks[(i*{stride}+1):(i*{stride}+{w})], ' ')
                    FOR i IN range(nc)] AS sl
            FROM cn)
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_tokens,
           chunk_text
    FROM cl"""
