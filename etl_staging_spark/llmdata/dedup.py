"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of this module):

- ``exact_dup_groups`` — one hash-groupBy; map-side partial aggregation,
  one shuffle on the 256-bit content hash. The 100 TB workhorse.
- ``jaccard_pairs`` — exact near-dup via the shingle inverted index
  with stop-shingle removal: shingles whose document frequency exceeds
  ``max_df`` are dropped from the index globally (the IR stopword
  analog — they pair everything with everything, the df^2 blowup, and
  carry no signal), then docs pair only where they share a surviving
  shingle, so per-bucket pair fan-out is bounded by max_df^2 at ANY
  corpus size. Jaccard is exact over the filtered shingle space —
  the same determinism contract, cutoff mirrored in the oracle.
- ``minhash_lsh_pairs`` — the scale path: fixed-width signatures
  (16 mins, computed as 16 aggregate columns in ONE shuffle — no 16x
  row blowup), banded into 4 buckets; candidate pairs only within equal
  band signatures; candidates then verified with exact Jaccard over the
  (much smaller) candidate set. Cost O(N) + O(candidates).
- ``simhash_table`` — 56-bit SimHash per doc; near-dup = small Hamming
  distance; bucketing by bit-bands makes it joinable at scale.

All hash values derive from :mod:`.hashing` so the DuckDB oracle
reproduces every probabilistic decision bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..numeric import pround
from ..tables import pin

from .hashing import BAND_ROWS, MINHASH_SEEDS, N_BANDS, minhash_col, portable_hash56
from .shingles import shingle_index


def o_exact_group_key(text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`exact_dup_groups`'s NULL-safe group key —
    THE one definition every oracle site renders (the registered
    `dedup_exact` entry plus the three composed assembly funnels), so
    a sentinel change can never desynchronize Spark/oracle parity at
    a missed site."""
    return (
        f"COALESCE(sha256({text_expr}), "
        f"'null:' || CAST({id_expr} AS VARCHAR))"
    )


def exact_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    folded: bool = False,
    pre_cleaned: bool = False,
) -> DataFrame:
    """Exact dedup: group by sha256(text); canonical row = min id.
    (Reference analog: the dedup/purge maintenance jobs M3,
    `etl_stock/models/company.py:1186-1195` — keyed there on natural
    keys, here on content hash.) With ``folded`` the hash keys on
    `textclean.fold_key` — normalized, case- and Latin-1-accent-folded
    text — so visually-equal variants ("Café  X" / "cafe x") share one
    group; the stored text is untouched, only the KEY folds; ``pre_cleaned`` skips the
    fold's normalization pass when the text is already clean (the
    pipeline sets it after a `.clean()` stage — clean_text is
    idempotent, so the key is identical, only cheaper). Same one
    map-side-combinable hash shuffle either way.

    NULL text carries no identity (the `dup_rate_by_source`
    convention): its key falls back to the sentinel ``null:<id>`` —
    a per-doc SINGLETON group, never one sha2(NULL) bucket whose
    'duplicates' share no content — so every canonical-keeping
    consumer (the composed assembly entries, `CorpusPipeline`)
    passes NULL-text docs through in the same single pass. The
    sentinel cannot collide with a real key: sha256 hex is exactly
    64 chars of [0-9a-f]. Precondition: ``id_col`` is non-NULL (the
    corpus-wide key convention — a NULL id would NULL the sentinel
    too, and no id-set join downstream can keep a NULL-id row
    anyway)."""
    key = F.col(text_col)
    if folded:
        from .textclean import fold_key

        key = fold_key(key, pre_cleaned=pre_cleaned)
    group_key = F.coalesce(
        F.sha2(key, 256),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    return (
        df.groupBy(group_key.alias("text_sha256"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("canonical_doc_id"),
        )
    )


def hashed_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) distinct 56-bit shingle hashes."""
    return shingle_index(df, n=n).select(
        "doc_id", portable_hash56("shingle").alias("h")
    )


# Stop-shingle document-frequency cutoff: shingles seen in more docs
# than this are dropped from the jaccard index globally. Bounds the
# per-bucket pair fan-out at max_df^2 regardless of corpus size (a
# single stop-shingle would otherwise make one bucket quadratic/OOM at
# 100 TB). Mirrored verbatim in the DuckDB oracle so the hash check
# covers the cutoff itself.
MAX_SHINGLE_DF = 64


def _finish_jaccard(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(d1, d2, n_common) + per-doc sizes -> thresholded Jaccard rows.
    sizes is one row per doc — aggregated, but still O(corpus), so no
    broadcast hint: AQE broadcasts it when its runtime size allows and
    shuffles otherwise."""
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        inter.join(sa, "d1").join(sb, "d2")
        .where(jac >= threshold)
        .select("d1", "d2", "n_common", pround(jac, 6).alias("jaccard"))
    )


def _pair_jaccard(sh: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over the FULL index for the candidate ``pairs``
    (d1, d2), with no pair-x-shingle fan-out: the index is folded to
    one sorted hash array per doc (payload bounded by doc length), the
    candidate pairs join to the two doc arrays, and ``n_common`` is
    ``size(array_intersect(...))`` — JVM-side, inside the join row.
    No broadcast hint anywhere: the pairs frame is bucket-bounded but
    still O(corpus) in the worst case, so forcing it driver-side would
    OOM at 100 TB. AQE decides at runtime — it broadcasts the pairs
    when their actual size is under the threshold and shuffles
    otherwise, which is exactly the scale-adaptive behavior we want.
    The exploded pair-x-shingle rows that a join-then-count shape would
    shuffle are never materialized at all.

    Sizes are post-hash distinct counts (``size(hs)``): the SAME
    denominator definition as the discovery path and the oracle
    (pre-hash set sizes would diverge under an in-doc collision)."""
    arr = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    ).persist()
    out = _pair_jaccard_arrays(arr, arr, pairs, threshold)
    return pin(out, arr)


def _pair_jaccard_arrays(
    arr1: DataFrame, arr2: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Verify step over prebuilt (doc_id, hs sorted-array) frames — arr1
    serves d1, arr2 serves d2, so the two sides may come from different
    stores (e.g. an in-flight batch vs a persisted corpus index)."""
    a1 = arr1.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"))
    a2 = arr2.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"))
    joined = pairs.join(a1, "d1").join(a2, "d2")
    n1, n2 = F.size("hs1"), F.size("hs2")
    n_common = F.size(F.array_intersect("hs1", "hs2"))
    jac = n_common / (n1 + n2 - n_common)
    return (
        joined.where(jac >= threshold)
        .select(
            "d1",
            "d2",
            n_common.cast("bigint").alias("n_common"),
            pround(jac, 6).alias("jaccard"),
        )
    )


def jaccard_pairs(
    df: DataFrame, threshold: float = 0.8, n: int = 3, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs over the stop-shingle-
    filtered index, in ONE shuffle of the index: group by shingle hash,
    drop posting lists longer than max_df (stop-shingle removal), then
    both the per-doc sizes AND the pair intersections derive from the
    surviving posting lists — the shingle explosion is computed once,
    n_common falls out of the pair expansion (no verify re-join), and
    every bucket's fan-out is <= max_df^2."""
    buckets = (
        hashed_shingles(df, n=n)
        .groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") <= max_df)
        .persist()
    )
    sizes = (
        buckets.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pair_arr = F.expr(
        "flatten(transform(sequence(0, size(ds)-2), "
        "i -> transform(sequence(i+1, size(ds)-1), "
        "j -> struct(ds[i] AS d1, ds[j] AS d2))))"
    )
    inter = (
        buckets.where(F.size("ds") > 1)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_common"))
    )
    sizes = sizes.persist()
    return pin(_finish_jaccard(inter, sizes, threshold), buckets, sizes)


def _signatures_from(sh: DataFrame) -> DataFrame:
    aggs = [
        F.min(minhash_col(F.col("h"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): one row per band with the band's rows
    concatenated — the LSH bucket key. This IS the persistable
    signature index of a production dedup service (bucket it by
    (band, sig) and incremental batches join against it shuffle-free)."""
    band_cols = []
    for band in range(N_BANDS):
        cols = [f"mh{band * BAND_ROWS + r}" for r in range(BAND_ROWS)]
        band_cols.append(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]))
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(N_BANDS))
    return sigs.select(
        "doc_id", *[c.alias(f"sig{i}") for i, c in enumerate(band_cols)]
    ).select(
        "doc_id",
        F.expr(f"stack({N_BANDS}, {stack_args}) AS (band, sig)"),
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures and emit distinct candidate pairs (d1 < d2)
    sharing at least one band signature."""
    banded = banded_signatures(sigs)
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )


def incremental_lsh_matches(
    corpus: DataFrame, batch: DataFrame, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus: batch band
    signatures join the corpus's banded signature index — NO
    corpus×corpus work, no rescan of corpus text beyond its (cached /
    persisted) shingle index. This is the day-2 shape of a production
    dedup service: the corpus index is written once (ideally bucketed
    by (band, sig), `etl.bucketed`) and each incoming batch pays
    O(batch) + O(candidates). Output: (d1=batch doc, d2=corpus doc,
    n_common, jaccard) for verified matches ≥ threshold.

    Precondition: batch and corpus doc_id spaces must be disjoint — the
    verify step unions both shingle indexes by doc_id, so an id present
    on both sides would pool its shingle sets (wrong sizes/jaccard).
    Ids shared by both sides are dropped from candidates as a guard;
    callers re-ingesting a doc under the same id should namespace the
    batch ids instead."""
    sh_c = hashed_shingles(corpus, n=n).persist()
    sh_b = hashed_shingles(batch, n=n).persist()
    bc = banded_signatures(_signatures_from(sh_c)).alias("c")
    bb = banded_signatures(_signatures_from(sh_b)).alias("b")
    cands = (
        bb.join(
            bc,
            (F.col("b.band") == F.col("c.band")) & (F.col("b.sig") == F.col("c.sig")),
        )
        .where(F.col("b.doc_id") != F.col("c.doc_id"))
        .select(F.col("b.doc_id").alias("d1"), F.col("c.doc_id").alias("d2"))
        .distinct()
    )
    out = _pair_jaccard(sh_b.unionByName(sh_c), cands, threshold)
    return pin(out, sh_c, sh_b)


def write_signature_index(
    corpus: DataFrame, table: str, n_buckets: int = 16, n: int = 3
) -> None:
    """Persist the corpus's dedup index as bucketed managed tables — the
    write-once-shuffle half of the day-2 dedup service:

    - ``{table}_bands``: banded minhash signatures, bucketed by
      (band, sig) — a new batch's band join reads matching buckets with
      NO Exchange on the corpus side;
    - ``{table}_arrays``: per-doc sorted shingle-hash arrays, bucketed
      by doc_id — the verify join's corpus side, likewise
      exchange-free.

    Rewrites both tables; production would append partitions instead,
    which bucketBy supports unchanged."""
    from ..etl.bucketed import write_bucketed

    sh = hashed_shingles(corpus, n=n).persist()
    bands = banded_signatures(_signatures_from(sh))
    write_bucketed(bands, f"{table}_bands", ["band", "sig"], n_buckets)
    arrs = sh.groupBy("doc_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    write_bucketed(arrs, f"{table}_arrays", ["doc_id"], n_buckets)
    sh.unpersist()


def append_signature_index(
    batch: DataFrame, table: str, n_buckets: int = 16, n: int = 3
) -> None:
    """Append a new batch's signatures and shingle arrays to an
    EXISTING persisted index — the self-maintaining half of the day-2
    loop the stream handlers document: after matching, the non-dup
    survivors join the corpus by appending under the SAME bucket spec
    (`etl.bucketed.append_bucketed`), so every later batch still joins
    the corpus side exchange-free. Caller guarantees the appended
    doc_ids are new (the match step just established that)."""
    from ..etl.bucketed import append_bucketed

    sh = hashed_shingles(batch, n=n).persist()
    bands = banded_signatures(_signatures_from(sh))
    append_bucketed(bands, f"{table}_bands", ["band", "sig"], n_buckets)
    arrs = sh.groupBy("doc_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    append_bucketed(arrs, f"{table}_arrays", ["doc_id"], n_buckets)
    sh.unpersist()


def _indexed_candidates_from(spark, sh_b: DataFrame, table: str) -> DataFrame:
    bb = banded_signatures(_signatures_from(sh_b)).alias("b")
    bc = spark.table(f"{table}_bands").alias("c")
    return (
        bb.join(
            bc,
            (F.col("b.band") == F.col("c.band")) & (F.col("b.sig") == F.col("c.sig")),
        )
        .where(F.col("b.doc_id") != F.col("c.doc_id"))
        .select(F.col("b.doc_id").alias("d1"), F.col("c.doc_id").alias("d2"))
        .distinct()
    )


def indexed_candidates(spark, batch: DataFrame, table: str, n: int = 3) -> DataFrame:
    """Batch band signatures joined against the persisted corpus band
    index: the corpus side is bucketed by the join key, so only the
    (small) batch side shuffles — plan-audited in tests."""
    sh_b = hashed_shingles(batch, n=n).persist()
    return pin(_indexed_candidates_from(spark, sh_b, table), sh_b)


def incremental_lsh_matches_indexed(
    spark, batch: DataFrame, table: str, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """:func:`incremental_lsh_matches` against a PERSISTED corpus index
    (:func:`write_signature_index`) instead of an in-session corpus
    frame: candidate discovery and verification both join bucketed
    corpus tables, so the amortized cost per batch is O(batch) +
    O(candidates) with zero corpus-side shuffle. Same disjointness
    precondition on doc_id spaces."""
    sh_b = hashed_shingles(batch, n=n).persist()
    cands = _indexed_candidates_from(spark, sh_b, table)
    arr_b = sh_b.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    arr_c = spark.table(f"{table}_arrays")
    out = _pair_jaccard_arrays(arr_b, arr_c, cands, threshold)
    return pin(out, sh_b)


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.8, n: int = 3) -> DataFrame:
    """The scale-path near-dup: LSH candidates, then exact-Jaccard verify
    restricted to candidates. The hashed index feeds the signatures AND
    both verify sides — persist it so the tokenize/shingle/md5 pass runs
    once (it is the dominant cost; the index itself is a few bytes per
    shingle)."""
    sh = hashed_shingles(df, n=n).persist()
    cands = lsh_candidate_pairs(_signatures_from(sh))
    return pin(_pair_jaccard(sh, cands, threshold), sh)


def simhash_table(df: DataFrame, n: int = 3, bits: int = 56) -> DataFrame:
    """56-bit SimHash per doc: bit b of the fingerprint is 1 iff the
    count of shingles with bit b set exceeds half the shingle count.
    Pure integer arithmetic — exactly reproducible in the oracle."""
    sh = hashed_shingles(df, n=n)
    per_bit = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(bits)
    ]
    counted = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"), *per_bit)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"c{b}") * 2 > F.col("n_sh"), F.lit(1)).otherwise(F.lit(0))
        term = bit.cast("bigint") * F.lit(1 << b).cast("bigint")
        fp = term if fp is None else fp + term
    return counted.select("doc_id", F.col("n_sh").alias("n_shingles"), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, n: int = 3, bits: int = 56, bands: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``,
    discovered by band bucketing: the fingerprint splits into ``bands``
    equal bit-bands, candidates are pairs sharing any band's value — an
    equi-join on (band, band_key), never all-pairs. By pigeonhole a pair
    within max_hamming < bands differing bits has at least one INTACT
    band, so discovery is exact: zero recall loss, unlike MinHash
    banding. Verification is one xor+popcount per candidate."""
    if max_hamming >= bands:
        raise ValueError("exact discovery needs max_hamming < bands")
    tbl = simhash_table(df, n=n, bits=bits).persist()
    per_band = bits // bands
    mask = (1 << per_band) - 1
    keyed = tbl.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    x, y = keyed.alias("x"), keyed.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    f1 = tbl.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"))
    f2 = tbl.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"))
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    out = (
        cands
        .join(f1, "d1")
        .join(f2, "d2")
        .where(hamming <= max_hamming)
        .select("d1", "d2", hamming.cast("int").alias("hamming"))
    )
    return pin(out, tbl)
