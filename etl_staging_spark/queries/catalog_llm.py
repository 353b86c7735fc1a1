"""LLM-data-pipeline query entries: dedup, similarity search, text
analysis, multimodal plumbing — over the driver's documents/embeddings
tables, each with a DuckDB oracle (including the probabilistic ones:
MinHash bands, LSH buckets and SimHash are md5-derived via
``llmdata.hashing``, so the oracle reproduces them bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llmdata import cluster, decontam, dedup, lexsearch, multimodal, pii, simsearch, textstats
from ..llmdata.hashing import (
    BAND_ROWS,
    MERSENNE31,
    MINHASH_SEEDS,
    N_BANDS,
    TWO_56,
    hyperplanes,
    o_hash56,
)
from ..llmdata.shingles import O_TOKS, O_TRI
from ..numeric import o_pround, pround
from ..tables import load, pin, pins_of, respread_narrow
from .registry import query

# Shared oracle CTE: hashed distinct word-trigram shingles per doc.
O_TRIH = f"""{O_TOKS}, {O_TRI},
trih AS (SELECT doc_id, {o_hash56('shingle')} AS h FROM tri)"""

O_JACCARD_TAIL = """
sizes AS (SELECT doc_id, COUNT(*) AS n FROM trih GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM trih a JOIN trih b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

# Shared oracle CTE tail (needs WITH RECURSIVE + O_TRIH in scope):
# exact-Jaccard >= 0.8 near-dup pairs folded to connected-component
# labels (component-minimum doc_id). Transitive closure by label
# propagation — MIN over reachable ids is the component minimum; the
# recursive UNION deduplicates, so the fold terminates.
# THE exact-jaccard pair chain (stop-shingle filter -> per-doc sizes
# -> pair intersections), shared by every oracle that derives from
# exact n-gram Jaccard (CC labels, the certified pair entry, the
# split-leakage audit, the r15 similarity spectrum) so the cutoff /
# denominator definition can never drift between siblings. Expects a
# `trih(doc_id, h)` CTE in scope (O_TRIH). CTE names carry the jp
# prefix so the constant composes with O_JACCARD_TAIL (whose `sizes`/
# `inter` run over the UNFILTERED index) without a duplicate-CTE
# collision or a silent denominator swap.
O_JPAIR = f"""jpf AS (
  SELECT doc_id, h FROM trih
  WHERE h IN (SELECT h FROM trih GROUP BY h
              HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF})
),
jpsz AS (SELECT doc_id, COUNT(*) AS n FROM jpf GROUP BY doc_id),
jpi AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM jpf a JOIN jpf b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

# ... and its thresholded tail: the verified >= 0.8 near-dup pairs the
# CC fold and the split-leakage audit both consume
O_JPAIRS_08 = f"""{O_JPAIR},
jpairs AS (
  SELECT d1, d2 FROM jpi
  JOIN jpsz sa ON sa.doc_id = d1 JOIN jpsz sb ON sb.doc_id = d2
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
)"""

O_CC_LBL = f"""{O_JPAIRS_08},
nodes AS (SELECT d1 AS doc_id FROM jpairs UNION SELECT d2 FROM jpairs),
edges AS (SELECT d1 AS src, d2 AS dst FROM jpairs
          UNION SELECT d2, d1 FROM jpairs),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
),
lbl AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    -- NULL text carries no identity: sentinel key = its own
    -- singleton group (the operator's null:<id> convention)
    SELECT {dedup.o_exact_group_key()} AS text_sha256,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact content dedup: one shuffle on the 256-bit hash (M3 analog)."""
    return dedup.exact_dup_groups(load(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {O_TRIH},
    {O_JPAIR}
    SELECT d1, d2, n_common,
           FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM jpi JOIN jpsz sa ON sa.doc_id = d1 JOIN jpsz sb ON sb.doc_id = d2
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard >= 0.8 pairs over the stop-shingle-filtered
    inverted index (document frequency <= MAX_SHINGLE_DF — the IR
    stopword analog): pairs arise only from shared surviving shingles,
    per-bucket fan-out bounded by the cutoff at any corpus size."""
    return dedup.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8)


def _o_minhash_sigs(cand_name: str = "cand") -> str:
    mins = ",\n           ".join(
        f"MIN(({a} * (h % {MERSENNE31}) + {b}) % {MERSENNE31}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {band} AS band, {sig} AS sig FROM sigs".format(
            band=band,
            sig=" || ',' || ".join(
                f"CAST(mh{band * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
            ),
        )
        for band in range(N_BANDS)
    )
    return f"""
sigs AS (
    SELECT doc_id,
           {mins}
    FROM trih GROUP BY doc_id
),
bands AS (
    {bands}
),
{cand_name} AS (
    SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
)"""


def _o_lsh_verified_select(threshold: float, label_sql: str = "") -> str:
    """Verified LSH-pair SELECT over the (inter, cand, sizes) CTEs —
    shared by dedup_minhash_lsh and the contrastive-pairs positives so
    the jaccard rounding convention and threshold live in one place."""
    return f"""
    SELECT d1, d2,{label_sql} n_common,
           FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter
    JOIN cand USING (d1, d2)
    JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold!r}"""


def o_source_overlap_matrix(threshold: float = 0.8) -> str:
    """DuckDB oracle twin of `llmdata.stats.source_overlap_matrix`
    (r10 registration queue — exercised today by the dedicated
    Spark-vs-DuckDB pytest): the verified MinHash-LSH pair chain
    (`_o_minhash_sigs` + `_o_lsh_verified_select`, bit-identical to
    the Spark discovery) -> a<=b source normalization -> pair counts,
    per-side distinct implicated docs (diagonal counts each doc once),
    and pround'd per-side fractions. A NULL source is its own
    GENUINE-NULL row sorting after every real source (the Spark side's
    (is_null, value) struct key, mirrored here as a ROW comparison for
    the swap and IS NOT DISTINCT FROM at every source-keyed join)."""
    swp = ("ROW(s1.source IS NULL, COALESCE(s1.source, '')) > "
           "ROW(s2.source IS NULL, COALESCE(s2.source, ''))")
    return f"""
    WITH {O_TRIH}, {_o_minhash_sigs()}, {O_JACCARD_TAIL},
    vpairs AS ({_o_lsh_verified_select(threshold)}),
    srcs AS (SELECT doc_id, source FROM documents),
    totals AS (SELECT source, COUNT(*) AS n_total
               FROM documents GROUP BY 1),
    norm AS (
      SELECT CASE WHEN {swp} THEN s2.source ELSE s1.source END AS source_a,
             CASE WHEN {swp} THEN s1.source ELSE s2.source END AS source_b,
             CASE WHEN {swp} THEN p.d2 ELSE p.d1 END AS da,
             CASE WHEN {swp} THEN p.d1 ELSE p.d2 END AS db
      FROM vpairs p
      JOIN srcs s1 ON s1.doc_id = p.d1 JOIN srcs s2 ON s2.doc_id = p.d2
    ),
    pcounts AS (
      SELECT source_a, source_b, COUNT(*) AS n_pairs
      FROM norm GROUP BY 1, 2
    ),
    memb AS (
      SELECT source_a, source_b, da AS doc_id, 'a' AS side FROM norm
      UNION ALL
      SELECT source_a, source_b, db,
             CASE WHEN source_a IS NOT DISTINCT FROM source_b
                  THEN 'a' ELSE 'b' END FROM norm
    ),
    sides AS (
      SELECT source_a, source_b,
             COUNT(DISTINCT CASE WHEN side = 'a' THEN doc_id END) AS a_docs,
             COUNT(DISTINCT CASE WHEN side = 'b' THEN doc_id END) AS b_docs
      FROM memb GROUP BY 1, 2
    )
    SELECT c.source_a, c.source_b, c.n_pairs,
           CAST(s.a_docs AS BIGINT) AS docs_a,
           CAST(CASE WHEN c.source_a IS NOT DISTINCT FROM c.source_b
                     THEN s.a_docs ELSE s.b_docs END
                AS BIGINT) AS docs_b,
           {o_pround('CAST(s.a_docs AS DOUBLE) / ta.n_total', 6)} AS frac_a,
           {o_pround(
               'CAST(CASE WHEN c.source_a IS NOT DISTINCT FROM c.source_b '
               'THEN s.a_docs ELSE s.b_docs END AS DOUBLE) / tb.n_total',
               6)} AS frac_b
    FROM pcounts c
    JOIN sides s ON s.source_a IS NOT DISTINCT FROM c.source_a
                AND s.source_b IS NOT DISTINCT FROM c.source_b
    JOIN totals ta ON ta.source IS NOT DISTINCT FROM c.source_a
    JOIN totals tb ON tb.source IS NOT DISTINCT FROM c.source_b"""


def o_split_by_cluster(
    fractions: dict[str, float], salt: str = "split-v1"
) -> str:
    """DuckDB oracle twin of `llmdata.cluster.split_by_cluster` over
    the documents table with exact-Jaccard >= 0.8 pair discovery (r10
    registration queue — exercised today by the dedicated
    Spark-vs-DuckDB pytest): the shared CC-label fold (`O_CC_LBL`,
    bit-identical to `dedup_cluster_cc`'s certified oracle) left-joined
    onto the corpus, then the `o_hash_split` CASE over the
    cluster-or-doc key — the leakage-safe split assignment."""
    from ..llmdata import sampling as _sampling

    split = _sampling.o_hash_split(
        fractions,
        key_expr="COALESCE(l.cluster_id, d.doc_id)",
        salt=salt,
    )
    return f"""
    WITH RECURSIVE {O_TRIH},
    {O_CC_LBL}
    SELECT d.doc_id, l.cluster_id, {split} AS split
    FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {O_TRIH}, {_o_minhash_sigs()}, {O_JACCARD_TAIL}
    {_o_lsh_verified_select(0.8)}
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """The scale-path near-dup: 16-permutation MinHash signatures
    (ONE aggregation, 16 MIN columns — no row blowup), 4-band LSH
    bucketing, exact-Jaccard verification restricted to candidates.
    O(N) + O(candidate pairs); never all-pairs."""
    return dedup.minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=0.8)


def _o_simhash_ctes() -> str:
    """CTEs `counted` and `sim` (doc_id, n_shingles, simhash)."""
    bit_counts = ",\n           ".join(
        f"SUM((h // {1 << b}) % 2) AS c{b}" for b in range(56)
    )
    fp = " + ".join(
        f"(CASE WHEN c{b} * 2 > n_sh THEN {1 << b} ELSE 0 END)" for b in range(56)
    )
    return f"""
counted AS (
    SELECT doc_id, COUNT(*) AS n_sh,
           {bit_counts}
    FROM trih GROUP BY doc_id
),
sim AS (
    SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles, CAST({fp} AS BIGINT) AS simhash
    FROM counted
)"""


@query(
    "dedup_simhash",
    oracle=f"WITH {O_TRIH}, {_o_simhash_ctes()} SELECT * FROM sim",
)
def dedup_simhash(spark, sf_dir):
    """56-bit SimHash fingerprint per doc (majority vote per bit over
    shingle hashes). Near-dup pairs = small Hamming distance; see
    ``dedup_simhash_pairs`` for the banded at-scale pairing."""
    return dedup.simhash_table(load(spark, sf_dir, "documents"))


def _o_simhash_bands(bands: int = 4, per_band: int = 14) -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash // {1 << (b * per_band)}) "
        f"% {1 << per_band} AS key FROM sim"
        for b in range(bands)
    )
    return f"keyed AS (\n      {rows}\n    )"


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {O_TRIH}, {_o_simhash_ctes()}, {_o_simhash_bands()},
    cand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM keyed x JOIN keyed y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    )
    SELECT d1, d2, CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM cand JOIN sim a ON a.doc_id = d1 JOIN sim b ON b.doc_id = d2
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3) via 4-band bucketing: a
    pair within 3 differing bits shares >= 1 intact 14-bit band
    (pigeonhole), so the equi-join discovery is EXACT — no recall loss —
    and never all-pairs."""
    return dedup.simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {O_TRIH},
    {O_CC_LBL},
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl
           GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, s.cluster_size,
           l.doc_id = l.cluster_id AS is_canonical
    FROM lbl l JOIN sz s USING (cluster_id)
    """,
)
def dedup_cluster_cc(spark, sf_dir):
    """Near-dup CLUSTER assignment: connected components over the exact
    3-gram Jaccard >= 0.8 pairs, labels = component-minimum doc_id,
    plus cluster size and the keep/drop canonical flag. Distributed
    alternating large-star/small-star (O(log n) bounded-shuffle rounds,
    no neighborhood arrays — `llmdata/cluster.py`); the oracle folds
    the same components with a recursive label-propagation CTE."""
    pairs = dedup.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8)
    return pin(cluster.near_dup_clusters(pairs.select("d1", "d2")), *pins_of(pairs))


# 5-gram variant of the shingle CTEs for decontamination (short fixture
# docs; the published decontamination rule uses 13-grams on web text).
O_FIVE = """
five AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS shingle
  FROM (
    SELECT doc_id, tok,
           lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2,
           lead(tok, 3) OVER w AS l3, lead(tok, 4) OVER w AS l4
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
  ) WHERE l4 IS NOT NULL
)"""


@query(
    "decontaminate_ngram",
    oracle=f"""
    WITH {O_TOKS}, {O_FIVE},
    bench AS (SELECT DISTINCT shingle FROM five WHERE doc_id % 20 = 0),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_overlap
      FROM five JOIN bench USING (shingle)
      WHERE doc_id % 20 != 0 GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(n_overlap, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
    WHERE d.doc_id % 20 != 0
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: every 20th doc plays the eval set;
    corpus docs are flagged when any distinct 5-gram collides with it.
    The benchmark folds to its distinct hashed shingle set (tiny ->
    AQE-broadcast join against the one-shuffle corpus shingle index);
    zero-overlap docs are kept with n_overlap = 0 so the result is the
    complete keep/drop decision."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontam.ngram_overlap(corpus, bench, n=5, min_hits=1)


@query(
    "decontaminate_fuzzy",
    oracle=f"""
    WITH {O_TRIH}, {_o_minhash_sigs("cand0")},
    fcand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
      WHERE x.doc_id % 20 != 0 AND y.doc_id % 20 = 0
    ),
    fsizes AS (SELECT doc_id, COUNT(*) AS n FROM trih GROUP BY doc_id),
    finter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
      FROM trih a JOIN trih b ON a.h = b.h
      WHERE a.doc_id % 20 != 0 AND b.doc_id % 20 = 0
      GROUP BY 1, 2
    ),
    fver AS (
      SELECT d1,
             FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 1000000 + 0.5) / 1000000 AS jac
      FROM finter JOIN fcand USING (d1, d2)
      JOIN fsizes sa ON sa.doc_id = d1 JOIN fsizes sb ON sb.doc_id = d2
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    ),
    fagg AS (SELECT d1, COUNT(*) AS n_matches, MAX(jac) AS max_jaccard
             FROM fver GROUP BY d1)
    SELECT d.doc_id,
           CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
           max_jaccard,
           COALESCE(n_matches, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN fagg ON fagg.d1 = d.doc_id
    WHERE d.doc_id % 20 != 0
    """,
)
def decontaminate_fuzzy(spark, sf_dir):
    """FUZZY benchmark decontamination: corpus docs with a MinHash-LSH
    near-duplicate (exact 3-gram Jaccard >= 0.8 on verify) in the eval
    set — catches paraphrased eval leakage that the exact 5-gram
    collision rule (`decontaminate_ngram`) misses. Eval = every 20th
    doc, as in the exact variant. The eval side's banded signatures
    broadcast (an eval suite is bounded by definition); discovery is a
    map-side hash join against the corpus bands — no corpus x corpus
    work (`llmdata/decontam.py:fuzzy_contamination`)."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontam.fuzzy_contamination(corpus, bench, threshold=0.8, n=3)


_O_REP_CTES = f"""
    bigr AS (
      SELECT doc_id, tok || ' ' || l1 AS g FROM (
        SELECT doc_id, tok, lead(tok, 1) OVER w AS l1
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE l1 IS NOT NULL
    ),
    bigc AS (SELECT doc_id, g, COUNT(*) AS c FROM bigr GROUP BY 1, 2),
    biga AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bigrams
             FROM bigc GROUP BY 1),
    trig AS (
      SELECT doc_id, tok || ' ' || l1 || ' ' || l2 AS g FROM (
        SELECT doc_id, tok, lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE l2 IS NOT NULL
    ),
    tria AS (SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS n_dtri
             FROM trig GROUP BY 1),
    rep AS (
      SELECT d.doc_id,
             CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
             COALESCE(FLOOR((top_c / n_bigrams) * 1000000 + 0.5) / 1000000, 0.0) AS top_bigram_frac,
             COALESCE(FLOOR(((n_tri - n_dtri) / n_tri) * 1000000 + 0.5) / 1000000, 0.0) AS dup_trigram_frac,
             COALESCE(FLOOR((top_c / n_bigrams) * 1000000 + 0.5) / 1000000, 0.0) > {textstats.TOP_BIGRAM_MAX}
               OR COALESCE(FLOOR(((n_tri - n_dtri) / n_tri) * 1000000 + 0.5) / 1000000, 0.0) > {textstats.DUP_TRIGRAM_MAX}
               AS repetitive
      FROM documents d
      LEFT JOIN biga USING (doc_id) LEFT JOIN tria USING (doc_id)
    )"""


@query(
    "text_repetition_gopher",
    oracle=f"""
    WITH {O_TOKS}, {_O_REP_CTES}
    SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac, repetitive
    FROM rep
    """,
)
def text_repetition_gopher(spark, sf_dir):
    """Gopher/MassiveText-style repetition gates: modal-bigram fraction
    and duplicate-trigram fraction per doc with the published keep/drop
    thresholds. Two doc-keyed map-combinable aggregations over the
    n-gram multiset — no joins besides the final doc-keyed merge."""
    return textstats.repetition_stats(load(spark, sf_dir, "documents"))


_PII_ORACLE_MASK = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{pii.EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{pii.PHONE_RE}', '<PHONE>', 'g'), "
    f"'{pii.LONG_ID_RE}', '<ID>', 'g')"
)


@query(
    "pii_mask_regex",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' ref ' || CAST(doc_id + 900000000 AS VARCHAR) ELSE '' END
        AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{pii.EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{pii.PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{pii.LONG_ID_RE}')) AS BIGINT) AS n_ids,
           {_PII_ORACLE_MASK} AS masked
    FROM enriched
    """,
)
def pii_mask_regex(spark, sf_dir):
    """PII scrub: the fixture text carries no PII, so deterministic
    synthetic PII derives from doc_id (email on id%3, phone on id%4,
    long id on id%5 — both engines build the identical enrichment),
    then the shared regex masks + per-category counts apply JVM-side.
    The hash check therefore verifies the masking transform itself,
    byte-for-byte, across varied present/absent combinations."""
    d = F.col("doc_id")
    enriched = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(F.lit(" ref "), (d + 900000000).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii.with_pii_masked(enriched).select(
        "doc_id", "n_emails", "n_phones", "n_ids", "masked"
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

O_ELEMS = """
elems AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(e * e AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
)"""


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH {O_ELEMS},
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems a JOIN elems b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, cid, dot / (qn.nrm * cn.nrm) AS c
      FROM dots JOIN norms qn ON qn.vec_id = qid JOIN norms cn ON cn.vec_id = cid
    ),
    ranked AS (
      SELECT qid, cid, c,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, cid) AS rnk
      FROM scored
    )
    SELECT qid, cid, FLOOR((c) * 1000000 + 0.5) / 1000000 AS cosine, CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 5
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 10):
    broadcast the query set, JVM-side zip_with dot products, two-phase
    salted per-query top-k (no partition holds a full query's N
    candidates). Exact baseline for the ANN variants."""
    emb = load(spark, sf_dir, "embeddings")
    return simsearch.cosine_topk(emb, F.col("vec_id") < 10, k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


def _o_planes_values(dim: int) -> str:
    planes = hyperplanes(simsearch.N_PLANES, dim)
    rows = ", ".join(
        f"({p}, {i + 1}, {w})"
        for p, row in enumerate(planes)
        for i, w in enumerate(row)
    )
    return f"planes(p, i, w) AS (VALUES {rows})"


def _o_mt_cand(dim: int, pair_pred: str = "q.vec_id < 10") -> str:
    """Multi-table sign-LSH candidate CTEs (mtplanes / msigns /
    mtbuckets / mcand). The planes are generated IN SQL from the same
    md5 derivation as `hashing.hyperplanes` (verified bit-exact against
    the Python generator — no 4k-row VALUES blob); per-table bucket =
    that table's plane signs concatenated in plane order; candidates =
    DISTINCT query x corpus pairs sharing ANY table's bucket.
    ``pair_pred`` scopes the pair space over aliases ``q`` (query side)
    and ``c`` (corpus side) — the default is the ANN entries' vec_id
    query panel; the semantic-decontamination twin passes a modulus
    split instead."""
    nt, b = simsearch.N_TABLES, simsearch.BITS_PER_TABLE
    h = o_hash56("'plane:' || CAST(t.p AS VARCHAR) || ':' || CAST(u.d AS VARCHAR)")
    return f"""
    mtplanes AS (
      SELECT t.p, u.d + 1 AS i,
             CAST((({h}) % 2001) - 1000 AS DOUBLE) / 1000.0 AS w
      FROM range({nt * b}) t(p), range({dim}) u(d)
    ),
    msigns AS (
      SELECT e.vec_id, pl.p,
             CASE WHEN CAST(SUM(CAST(pl.w * e.e AS DECIMAL(30,15))) AS DOUBLE) >= 0
                  THEN '1' ELSE '0' END AS ch
      FROM elems e JOIN mtplanes pl ON pl.i = e.i
      GROUP BY e.vec_id, pl.p
    ),
    mtbuckets AS (
      SELECT vec_id, CAST(p // {b} AS INT) AS tbl,
             string_agg(ch, '' ORDER BY p) AS bkt
      FROM msigns GROUP BY vec_id, CAST(p // {b} AS INT)
    ),
    mcand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      FROM mtbuckets q JOIN mtbuckets c
        ON c.tbl = q.tbl AND c.bkt = q.bkt AND c.vec_id <> q.vec_id
      WHERE {pair_pred}
    )"""


def o_semantic_contamination(
    threshold: float = 0.35, eval_mod: int = 41
) -> str:
    """DuckDB oracle twin of `llmdata.decontam.semantic_contamination`
    over the embeddings table with eval = every ``eval_mod``-th vector
    (r10 registration queue — exercised by the dedicated Spark-vs-DuckDB
    pytest): the shared multi-table sign-LSH candidate CTEs
    (:func:`_o_mt_cand`, pair space scoped to eval x corpus by the
    modulus split) -> exact-decimal cosine on candidates -> per-corpus-
    vector match counts, left-joined back so zero-match vectors keep
    their row — the full keep/drop decision, `decontaminate_fuzzy`'s
    output contract in embedding space."""
    split = (f"q.vec_id % {eval_mod} = 0 AND c.vec_id % {eval_mod} <> 0")
    return f"""
    WITH {O_ELEMS}, {_o_mt_cand(64, pair_pred=split)},
    sdots AS (
      SELECT cid, qid,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM mcand JOIN elems a ON a.vec_id = cid
                 JOIN elems b ON b.vec_id = qid AND b.i = a.i
      GROUP BY 1, 2
    ),
    sscored AS (
      SELECT cid, dot / (cn.nrm * qn.nrm) AS c
      FROM sdots JOIN norms cn ON cn.vec_id = cid
                 JOIN norms qn ON qn.vec_id = qid
    ),
    shits AS (
      SELECT cid, COUNT(*) AS n_matches, MAX(c) AS mx
      FROM sscored WHERE c >= {threshold!r} GROUP BY cid
    )
    SELECT e.vec_id,
           CAST(COALESCE(h.n_matches, 0) AS BIGINT) AS n_matches,
           {o_pround('h.mx', 6)} AS max_cosine,
           COALESCE(h.n_matches, 0) >= 1 AS contaminated
    FROM embeddings e LEFT JOIN shits h ON h.cid = e.vec_id
    WHERE e.vec_id % {eval_mod} <> 0"""


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH {O_ELEMS}, {_o_mt_cand(64)},
    dots AS (
      SELECT qid, cid,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM mcand JOIN elems a ON a.vec_id = qid
                 JOIN elems b ON b.vec_id = cid AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, cid, dot / (qn.nrm * cn.nrm) AS c
      FROM dots JOIN norms qn ON qn.vec_id = qid JOIN norms cn ON cn.vec_id = cid
    ),
    ranked AS (
      SELECT qid, cid, c,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, cid) AS rnk
      FROM scored
    )
    SELECT qid, cid, FLOOR((c) * 1000000 + 0.5) / 1000000 AS cosine, CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 5
    """,
)
def sim_ann_lsh(spark, sf_dir):
    """ANN variant: MULTI-TABLE sign-LSH — 16 independent 4-bit hash
    tables (64 deterministic hyperplanes); a corpus vector is scored
    for a query iff they share any table's bucket. The table count is
    the recall lever the r7 recall card showed the single-bucket
    variant lacked (recall ~0.1 there vs 0.86-0.94 here, at/above the
    IVF baseline on the same data). Candidate discovery is equi-joins
    on skinny (id, bucket) rows; exact-decimal cosine only on the
    union of candidates."""
    emb = load(spark, sf_dir, "embeddings")
    top = simsearch.lsh_multitable_topk(emb, F.col("vec_id") < 10, dim=64, k=5)
    return pin(top.withColumn("rank", F.col("rank").cast("int")), *pins_of(top))


@query(
    "sim_ann_ivf",
    oracle=f"""
    WITH {O_ELEMS},
    cdots AS (
      SELECT v.vec_id, c.vec_id AS ccid,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < 8
      GROUP BY 1, 2
    ),
    ccos AS (
      SELECT cdots.vec_id, ccid, dot / (nv.nrm * nc.nrm) AS c
      FROM cdots JOIN norms nv ON nv.vec_id = cdots.vec_id
                 JOIN norms nc ON nc.vec_id = ccid
    ),
    ranked_cells AS (
      SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY c DESC, ccid) AS rn
      FROM ccos
    ),
    assign AS (SELECT vec_id, ccid AS cell FROM ranked_cells WHERE rn = 1),
    probes AS (SELECT vec_id, ccid AS cell FROM ranked_cells
               WHERE rn <= 2 AND vec_id < 10),
    cand AS (
      SELECT p.vec_id AS qid, a.vec_id AS cid
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
    ),
    dots AS (
      SELECT qid, cid, CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM cand JOIN elems a ON a.vec_id = qid
                JOIN elems b ON b.vec_id = cid AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, cid, dot / (qn.nrm * cn.nrm) AS c
      FROM dots JOIN norms qn ON qn.vec_id = qid JOIN norms cn ON cn.vec_id = cid
    ),
    ranked AS (
      SELECT qid, cid, c,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, cid) AS rnk
      FROM scored
    )
    SELECT qid, cid, FLOOR((c) * 1000000 + 0.5) / 1000000 AS cosine, CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 5
    """,
)
def sim_ann_ivf(spark, sf_dir):
    """IVF ANN: deterministic coarse centroids (first 8 vectors)
    partition the corpus into inverted lists; each query scores only
    its 2 closest lists (~1/4 of the data). Assignment is one scan with
    broadcast centroid literals — no join, no all-pairs."""
    emb = load(spark, sf_dir, "embeddings")
    top = simsearch.ivf_topk(emb, F.col("vec_id") < 10, dim=64, k=5)
    return pin(top.withColumn("rank", F.col("rank").cast("int")), *pins_of(top))


@query(
    "sim_ann_recall",
    oracle=f"""
    WITH {O_ELEMS},
    xcand AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid
      FROM norms q JOIN norms c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    xdots AS (
      SELECT qid, cid, CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM xcand JOIN elems a ON a.vec_id = qid
                 JOIN elems b ON b.vec_id = cid AND b.i = a.i
      GROUP BY 1, 2
    ),
    xranked AS (
      SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot / (qn.nrm * cn.nrm) DESC, cid) AS rnk
      FROM xdots JOIN norms qn ON qn.vec_id = qid JOIN norms cn ON cn.vec_id = cid
    ),
    xtop AS (SELECT qid, cid FROM xranked WHERE rnk <= 5),
    {_o_mt_cand(64)},
    ldots AS (
      SELECT qid, cid, CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM mcand JOIN elems a ON a.vec_id = qid
                 JOIN elems b ON b.vec_id = cid AND b.i = a.i
      GROUP BY 1, 2
    ),
    lranked AS (
      SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot / (qn.nrm * cn.nrm) DESC, cid) AS rnk
      FROM ldots JOIN norms qn ON qn.vec_id = qid JOIN norms cn ON cn.vec_id = cid
    ),
    ltop AS (SELECT qid, cid FROM lranked WHERE rnk <= 5),
    cdots AS (
      SELECT v.vec_id, c.vec_id AS ccid,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < 8
      GROUP BY 1, 2
    ),
    ccos AS (
      SELECT cdots.vec_id, ccid, dot / (nv.nrm * nc.nrm) AS c
      FROM cdots JOIN norms nv ON nv.vec_id = cdots.vec_id
                 JOIN norms nc ON nc.vec_id = ccid
    ),
    ranked_cells AS (
      SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY c DESC, ccid) AS rn
      FROM ccos
    ),
    assign AS (SELECT vec_id, ccid AS cell FROM ranked_cells WHERE rn = 1),
    probes AS (SELECT vec_id, ccid AS cell FROM ranked_cells
               WHERE rn <= 2 AND vec_id < 10),
    icand AS (
      SELECT p.vec_id AS qid, a.vec_id AS cid
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
    ),
    idots AS (
      SELECT qid, cid, CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM icand JOIN elems a ON a.vec_id = qid
                 JOIN elems b ON b.vec_id = cid AND b.i = a.i
      GROUP BY 1, 2
    ),
    iranked AS (
      SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot / (qn.nrm * cn.nrm) DESC, cid) AS rnk
      FROM idots JOIN norms qn ON qn.vec_id = qid JOIN norms cn ON cn.vec_id = cid
    ),
    itop AS (SELECT qid, cid FROM iranked WHERE rnk <= 5),
    anns AS (
      SELECT 'lsh' AS method, qid, cid FROM ltop
      UNION ALL
      SELECT 'ivf' AS method, qid, cid FROM itop
    ),
    astats AS (
      SELECT a.method, a.qid, COUNT(*) AS n_ann,
             SUM(CASE WHEN x.cid IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM anns a LEFT JOIN xtop x ON x.qid = a.qid AND x.cid = a.cid
      GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT qid FROM xtop),
    methods AS (SELECT 'lsh' AS method UNION ALL SELECT 'ivf' AS method)
    SELECT g.qid, m.method,
           CAST(COALESCE(n_ann, 0) AS BIGINT) AS n_ann,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           FLOOR((CAST(COALESCE(n_hit, 0) AS DOUBLE) / 5) * 1000000 + 0.5) / 1000000 AS recall_at_k
    FROM grid g CROSS JOIN methods m
    LEFT JOIN astats s ON s.qid = g.qid AND s.method = m.method
    """,
)
def sim_ann_recall(spark, sf_dir):
    """ANN quality report card: per-query recall@5 of the two ANN paths
    (multi-table sign-LSH, IVF inverted lists) against the exact
    `sim_cosine_topk` baseline — the report that turns 'the ANN runs'
    into 'the ANN is known-good'. Both sides are deterministic, so the
    overlap is oracle-expressible; queries whose buckets/cells return
    fewer than k candidates surface with n_ann < 5 rather than
    vanishing. Run shape: this is a QA job over the (bounded) probe
    query set — and the O(|Q| * N) exact scoring pass runs ONCE: the
    persisted `cosine_scored` frame feeds the baseline top-k AND both
    ANN legs (each leg = candidate-pair semi-join + top-k), so the ANN
    paths contribute only their candidate discovery, not a re-score."""
    emb = load(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    k = 5
    # ONE fused corpus pass for the exact baseline AND both ANN legs
    # (r17, guide §2.4): norms, the 16-table LSH keys and the IVF probe
    # cells are computed in a single persisted projection — the r16
    # shape ran three separate cached corpus passes (cosine_scored's
    # with_norm, the LSH key pass, the IVF assignment scan). The
    # NULL-vector filter is a no-op on real data (the Arrow kernels
    # already require non-null vectors corpus-wide) and a NULL cosine
    # could never enter a top-k with >= k real candidates.
    emb_nn = emb.where(F.col("embedding").isNotNull())
    cent_arrs, cent_norms = simsearch._resolve_centroids(
        emb_nn, None, 8, "vec_id", "embedding"
    )
    cells_k = simsearch._ivf_cells_udf(cent_arrs, cent_norms, 2)
    keys_k = simsearch._mt_keys_udf(64)
    base = (
        simsearch.with_norm(
            simsearch._respread_narrow(emb_nn.select("vec_id", "embedding")),
            "embedding",
        )
        .withColumn("__is_q", pred)
        .withColumn("__keys", keys_k(F.col("embedding")))
        .withColumn("__cells", cells_k(F.col("embedding")))
        .persist()
    )
    scored = simsearch.cosine_scored(emb, pred, normed=base).persist()
    exact = (
        simsearch.topk_from_scored(scored, k)
        .select("qid", "cid")
        .withColumn("hit", F.lit(1))
        .persist()
    )
    lsh_cand = simsearch.lsh_multitable_candidates(
        emb, pred, dim=64,
        keyed=base.select("vec_id", "__is_q", F.explode("__keys").alias("bkt")),
    )
    ivf_cand = simsearch.ivf_candidates(emb, pred, assigned=base)
    # both legs in ONE pipeline: tag candidate pairs with their method,
    # attach the shared exact score by a single (qid, cid) join, cut
    # per-(method, qid) top-k once, and one overlap aggregate — halves
    # the stage count vs per-leg pipelines
    cand = lsh_cand.select(
        F.lit("lsh").alias("method"), "qid", "cid"
    ).unionByName(ivf_cand.select(F.lit("ivf").alias("method"), "qid", "cid"))
    ann = simsearch.topk_from_scored(
        scored.join(cand, ["qid", "cid"]), k, by=("method", "qid")
    )
    stats = (
        ann.select("method", "qid", "cid")
        .join(exact, ["qid", "cid"], "left")
        .groupBy("method", "qid")
        .agg(
            F.count("*").alias("n_ann"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
    )
    grid = exact.select("qid").distinct().select(
        "qid",
        F.explode(F.array(F.lit("lsh"), F.lit("ivf"))).alias("method"),
    )
    out = grid.join(stats, ["method", "qid"], "left").select(
        "qid",
        "method",
        F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        pround(F.coalesce("n_hit", F.lit(0)) / F.lit(k), 6).alias("recall_at_k"),
    )
    return pin(out, scored, exact, base, *pins_of(lsh_cand), *pins_of(ivf_cand))


@query(
    "dedup_embed_cosine",
    oracle=f"""
    WITH {_o_planes_values(64)}, {O_ELEMS},
    signs AS (
      SELECT e.vec_id, pl.p,
             CASE WHEN CAST(SUM(CAST(pl.w * e.e AS DECIMAL(30,15))) AS DOUBLE) >= 0
                  THEN '1' ELSE '0' END AS ch
      FROM elems e JOIN planes pl ON pl.i = e.i
      GROUP BY e.vec_id, pl.p
    ),
    bands AS (
      SELECT vec_id, '0|' || string_agg(ch, '' ORDER BY p) AS bkt
      FROM signs WHERE p < 4 GROUP BY vec_id
      UNION ALL
      SELECT vec_id, '1|' || string_agg(ch, '' ORDER BY p) AS bkt
      FROM signs WHERE p >= 4 GROUP BY vec_id
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
      FROM bands x JOIN bands y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
    ),
    dots AS (
      SELECT d1, d2, CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM cand JOIN elems a ON a.vec_id = d1
                JOIN elems b ON b.vec_id = d2 AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d1, d2, dot / (na.nrm * nb.nrm) AS c
      FROM dots JOIN norms na ON na.vec_id = d1 JOIN norms nb ON nb.vec_id = d2
    )
    SELECT d1, d2, FLOOR((c) * 1000000 + 0.5) / 1000000 AS cosine FROM scored WHERE c >= 0.45
    """,
)
def dedup_embed_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: banded sign-LSH discovery (2
    bands of 4 planes — a pair is a candidate iff it shares either
    half-bucket, recall scaling like MinHash banding) + exact-decimal
    cosine verify. Threshold 0.45 sits where the synthetic embeddings
    actually have neighbours (max pairwise cosine ~0.51); the operator
    is threshold-parametric. RECALL POSTURE: 2 bands is the CHEAP
    config — `dedup_semantic_recall` measures it at ~0.2-0.3 on these
    near-orthogonal synthetic vectors (true near-dups at production
    thresholds ~0.95 collide far more readily); when recall dominates
    cost, `simsearch.mt_dup_pairs` (16x4-bit tables, measured 0.9+ on
    the same card) is the drop-in high-recall configuration."""
    emb = load(spark, sf_dir, "embeddings")
    return simsearch.cosine_dup_pairs(emb, threshold=0.45, dim=64, bands=2)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.STOPWORDS)


_O_QUAL_CTES = f"""
    qt AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), qm AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS tot_len,
             len(list_filter(toks, x -> list_contains([{_STOP_SQL}], x))) AS stop_cnt
      FROM qt
    ), qr AS (
      SELECT doc_id, n_tokens, n_distinct,
             FLOOR((CAST(tot_len AS DOUBLE) / n_tokens) * 1000000 + 0.5) / 1000000 AS avg_tok_len,
             FLOOR((CAST(n_distinct AS DOUBLE) / n_tokens) * 1000000 + 0.5) / 1000000 AS distinct_ratio,
             FLOOR((CAST(stop_cnt AS DOUBLE) / n_tokens) * 1000000 + 0.5) / 1000000 AS stop_ratio
      FROM qm
    ),
    qual AS (
      SELECT doc_id, n_tokens, n_distinct, avg_tok_len, distinct_ratio, stop_ratio,
             FLOOR((0.3 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
                   + 0.4 * distinct_ratio
                   + 0.15 * (1.0 - stop_ratio)
                   + 0.15 * LEAST(1.0, avg_tok_len / 6.0)) * 1000000 + 0.5) / 1000000 AS quality
      FROM qr
    )"""


def o_domain_token_budget(budget: int = 800) -> str:
    """DuckDB oracle twin of `llmdata.sampling.domain_token_budget`
    over the documents table (r10 registration queue — exercised by
    the dedicated Spark-vs-DuckDB pytest): the shared quality CTEs ->
    per-domain running token total of strictly better-ranked docs
    (quality DESC, doc_id ASC) -> admit while the budget is unfilled —
    the SQL replay of the greedy token-budget rule, crossing doc kept."""
    return f"""
    WITH {_O_QUAL_CTES},
    tb AS (
      SELECT q.doc_id, d.source AS domain, q.quality, q.n_tokens,
             COALESCE(SUM(q.n_tokens) OVER (
               PARTITION BY d.source
               ORDER BY q.quality DESC, q.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS tok_before
      FROM qual q JOIN documents d ON d.doc_id = q.doc_id
      WHERE q.quality IS NOT NULL AND d.source IS NOT NULL
    )
    SELECT doc_id, domain, quality,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(tok_before AS BIGINT) AS tok_before
    FROM tb WHERE tok_before < {budget}"""


def o_quality_calibration_by_domain(
    keep_rate: float = 0.7, decimals: int = 3
) -> str:
    """DuckDB oracle twin of `llmdata.stats.quality_calibration_by_domain`
    over the documents table (r10/r11 registration queue — exercised by
    the dedicated Spark-vs-DuckDB pytest): the shared quality CTEs ->
    per-domain quantized histogram -> top-down cumulative counts
    PARTITIONed BY domain -> per-domain MAX(qv) whose cumulative
    reaches the need, lowered to the bucket edge — the per-source
    replay of the global calibration card's CDF walk. NULL domains
    excluded on both engines. The rate is CAST to DOUBLE before the
    need product — DuckDB otherwise parses the literal as an exact
    DECIMAL whose knife-edge comparisons (0.07 * 100 = 7.00 exactly)
    diverge from the Spark driver's IEEE need, the same trap the
    per-rate card's rates CTE casts away."""
    from ..llmdata.stats import _validate_rates

    _validate_rates((keep_rate,))
    edge = o_pround(f"t.threshold - {0.5 * 10 ** -decimals!r}", decimals + 1)
    return f"""
    WITH {_O_QUAL_CTES},
    dhb AS (
      SELECT d.source AS domain, {o_pround('q.quality', decimals)} AS qv,
             COUNT(*) AS c
      FROM qual q JOIN documents d ON d.doc_id = q.doc_id
      WHERE q.quality IS NOT NULL AND d.source IS NOT NULL
      GROUP BY 1, 2
    ),
    dtot AS (SELECT domain, SUM(c) AS n FROM dhb GROUP BY 1),
    dcum AS (
      SELECT domain, qv, SUM(c) OVER (PARTITION BY domain ORDER BY qv DESC
                                      ROWS UNBOUNDED PRECEDING) AS ckeep
      FROM dhb
    ),
    dth AS (
      SELECT c.domain, MAX(c.qv) AS threshold
      FROM dcum c JOIN dtot t ON t.domain = c.domain
      WHERE c.ckeep >= CAST({keep_rate!r} AS DOUBLE) * t.n
      GROUP BY 1
    )
    SELECT t.domain, {edge} AS threshold,
           CAST(n.n AS BIGINT) AS n_scored,
           CAST(c.ckeep AS BIGINT) AS n_kept,
           {o_pround('CAST(c.ckeep AS DOUBLE) / n.n', 6)} AS actual_rate
    FROM dth t JOIN dcum c ON c.domain = t.domain AND c.qv = t.threshold
               JOIN dtot n ON n.domain = t.domain"""


@query(
    "text_quality_score",
    oracle=f"""
    WITH {_O_QUAL_CTES}
    SELECT * FROM qual
    """,
)
def text_quality_score(spark, sf_dir):
    """Per-doc quality: length, lexical diversity, stopword density,
    token shape — all native F.* array ops, one projection, no shuffle
    (the respread guard only widens a 1-split local scan; a real corpus
    scan is already wide and passes through untouched)."""
    return textstats.quality_scores(
        respread_narrow(load(spark, sf_dir, "documents"))
    )


def o_quality_calibration_card(
    rates: tuple[float, ...] | None = None, decimals: int = 3
) -> str:
    """DuckDB oracle twin of `llmdata.stats.quality_calibration_card`
    (r10 registration queue — exercised by the dedicated Spark-vs-DuckDB
    pytest): the shared quality CTEs -> quantized score histogram ->
    top-down cumulative counts -> per-rate MAX(qv) whose cumulative
    reaches the need, lowered to the bucket edge — the SQL replay of
    the driver-side CDF walk including the half-quantum edge
    convention. Rates and the quantization scale interpolate from the
    SAME defaults the Spark side uses — and pass the SAME up-front
    validation (non-empty, unique, in (0, 1]) — so editing
    CALIBRATION_RATES or decimals cannot silently diverge the twins,
    and an invalid rate tuple is rejected identically on either
    engine."""
    from ..llmdata.stats import CALIBRATION_RATES, _validate_rates

    if rates is None:
        rates = CALIBRATION_RATES
    _validate_rates(rates)
    values = ", ".join(f"({r!r})" for r in rates)
    return f"""
    WITH {_O_QUAL_CTES},
    hb AS (
      SELECT {o_pround('quality', decimals)} AS qv, COUNT(*) AS c
      FROM qual WHERE quality IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT SUM(c) AS n FROM hb),
    cum AS (
      SELECT qv, SUM(c) OVER (ORDER BY qv DESC
                              ROWS UNBOUNDED PRECEDING) AS ckeep
      FROM hb
    ),
    rates AS (SELECT CAST(r AS DOUBLE) AS keep_rate
              FROM (VALUES {values}) v(r)),
    th AS (
      SELECT r.keep_rate, MAX(cum.qv) AS threshold
      FROM rates r CROSS JOIN tot
      JOIN cum ON cum.ckeep >= r.keep_rate * tot.n
      GROUP BY r.keep_rate
    )
    SELECT t.keep_rate,
           {o_pround(f't.threshold - {0.5 * 10 ** -decimals!r}',
                     decimals + 1)} AS threshold,
           CAST(tot.n AS BIGINT) AS n_scored,
           CAST(cum.ckeep AS BIGINT) AS n_kept,
           {o_pround('CAST(cum.ckeep AS DOUBLE) / tot.n', 6)} AS actual_rate
    FROM th t JOIN cum ON cum.qv = t.threshold CROSS JOIN tot"""


@query("quality_calibration_card", oracle=o_quality_calibration_card())
def quality_calibration_card(spark, sf_dir):
    """Quality-gate calibration report card (registered r10 from the
    r9 queue): for each default target keep rate, the resolved
    raw-score threshold (bucket LOWER edge — directly usable as
    `quality_gate`'s floor) and what it actually keeps. ONE bounded
    quantized-score histogram collect serves every rate; the CDF walk
    is driver-side over <= 10^decimals + 1 buckets."""
    return stats.quality_calibration_card(load(spark, sf_dir, "documents"))


@query(
    "quality_histogram",
    oracle=f"""
    WITH {_O_QUAL_CTES}
    SELECT CAST(FLOOR(quality * 20) AS INT) AS bin,
           COUNT(*) AS n_docs,
           {o_pround('CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)', 6)} AS avg_quality,
           {o_pround('CAST(SUM(CAST(distinct_ratio AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)', 6)} AS avg_distinct_ratio,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM qual GROUP BY 1
    """,
)
def quality_histogram(spark, sf_dir):
    """Quality-score distribution in FIXED 0.05-wide bins: doc count,
    exact-decimal mean quality and lexical diversity, and the token
    mass per bin — the curve a pipeline owner reads to place a quality
    gate (how many tokens does each candidate threshold cost?). Fixed
    bins, not ntile: a global decile window is a sort of the corpus,
    while this is one map-combinable aggregate on a bounded key (the
    same bounded-domain trick as `corpus_stats_exact`)."""
    q = textstats.quality_scores(load(spark, sf_dir, "documents"))
    return q.groupBy(
        F.floor(F.col("quality") * 20).cast("int").alias("bin")
    ).agg(
        F.count("*").alias("n_docs"),
        pround(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_quality"),
        pround(
            F.sum(F.col("distinct_ratio").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_distinct_ratio"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )


_MH_N = len(MINHASH_SEEDS)
_O_MH_MATCHES = " + ".join(
    f"CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END" for i in range(_MH_N)
)


@query(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH {O_TRIH}, {_o_minhash_sigs()}, {O_JACCARD_TAIL},
    mhev AS (
      {_o_lsh_verified_select(0.8)}
    )
    SELECT v.d1, v.d2, v.jaccard,
           ({_O_MH_MATCHES}) / {_MH_N}.0 AS jaccard_est,
           FLOOR(ABS(({_O_MH_MATCHES}) / {_MH_N}.0 - v.jaccard) * 1000000 + 0.5) / 1000000 AS abs_err
    FROM mhev v JOIN sigs s1 ON s1.doc_id = v.d1
                JOIN sigs s2 ON s2.doc_id = v.d2
    """,
)
def dedup_minhash_estimate(spark, sf_dir):
    """MinHash calibration report: for every verified near-dup pair,
    the signature-ESTIMATED Jaccard (matching minhash fraction over
    {_MH_N} permutations — the quantity LSH banding actually thresholds
    on) next to the exact Jaccard and the absolute error. The
    methodological twin of `sim_ann_recall`: it measures how faithful
    the sketch is on the pairs that matter, which is what validates the
    banding threshold choice. One shingle pass feeds discovery,
    verification AND the signatures."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.hashed_shingles(docs).persist()
    sigs = dedup._signatures_from(sh)
    cands = dedup.lsh_candidate_pairs(sigs)
    verified = dedup._pair_jaccard(sh, cands, 0.8)
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_MH_N)
    )
    s1 = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_MH_N)],
    )
    s2 = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_MH_N)],
    )
    est = matches / F.lit(_MH_N)
    out = (
        verified.select("d1", "d2", "jaccard")
        .join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "jaccard",
            est.alias("jaccard_est"),
            pround(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )
    return pin(out, sh, *pins_of(verified))


def _o_lang_scores() -> tuple[str, str, str]:
    scores = ",\n             ".join(
        "len(list_intersect(bg, [{}])) AS s_{}".format(
            ", ".join(f"'{b}'" for b in prof), lang
        )
        for lang, prof in textstats.LANG_PROFILES.items()
    )
    best = "GREATEST({})".format(
        ", ".join(f"s_{lang}" for lang in textstats.LANG_PROFILES)
    )
    pred = "CASE WHEN best > 0 THEN CASE {} END END".format(
        " ".join(
            f"WHEN s_{lang} = best THEN '{lang}'"
            for lang in sorted(textstats.LANG_PROFILES)
        )
    )  # zero evidence -> NULL: the Spark twin's guard, replayed
    return scores, best, pred


_LSC, _LBEST, _LPRED = _o_lang_scores()


@query(
    "lang_id_ngram",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, length(lower(text)) - 1),
                           i -> substr(lower(text), CAST(i AS INT), 2))) AS bg
      FROM documents
    ), s AS (
      SELECT doc_id,
             {_LSC}
      FROM b
    ), sb AS (
      SELECT doc_id, *, {_LBEST} AS best FROM s
    )
    SELECT doc_id, {_LPRED} AS pred_lang, CAST(best AS INT) AS best_score FROM sb
    """,
)
def lang_id_ngram(spark, sf_dir):
    """Char-bigram-profile language ID (n-gram heuristic), deterministic
    alphabetical tie-break."""
    return textstats.lang_id(load(spark, sf_dir, "documents")).withColumn(
        "best_score", F.col("best_score").cast("int")
    )


@query(
    "token_count_regex",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}')) AS INT)
               AS n_bpe_tokens,
           FLOOR((CAST(length(lower(text)) AS DOUBLE)
                 / len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}')))
                 * 1000000 + 0.5) / 1000000
               AS chars_per_token
    FROM documents
    """,
)
def token_count_regex(spark, sf_dir):
    """Whitespace vs BPE-ish regex token counting."""
    return textstats.token_counts(load(spark, sf_dir, "documents"))


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH {O_TRIH},
    agg AS (
      SELECT doc_id, list_sort(list(DISTINCT h)) AS hs FROM trih GROUP BY doc_id
    )
    SELECT doc_id, CAST(len(hs) AS INT) AS n_shingles,
           array_to_string(hs[1:4], ',') AS fingerprint
    FROM agg
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Bottom-4 sketch of the shingle hash set as a compact doc key."""
    return textstats.fingerprints(load(spark, sf_dir, "documents")).withColumn(
        "n_shingles", F.col("n_shingles").cast("int")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


O_MM_DECODE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'img'
                WHEN octet_length(encode(text)) % 3 = 1 THEN 'audio'
                ELSE 'video' END AS fmt,
           CAST(64 + md5_number_lower(text) % 1920 AS INT) AS width,
           CAST(64 + (md5_number_lower(text) // 1920) % 1080 AS INT) AS height,
           CAST(1 + md5_number_lower(text) % 24 AS INT) AS n_frames
    FROM documents
"""


@query("mm_decode_meta", oracle=O_MM_DECODE)
def mm_decode_meta(spark, sf_dir):
    """Arrow-batched mapInPandas decode of opaque binary payloads into
    typed metadata. The decoder is a deterministic md5 stub (real codecs
    aren't in this container) — the plumbing (binary column, schema,
    batching, no shuffle) is the real deliverable and is fully checked
    against the oracle."""
    return multimodal.decode_table(load(spark, sf_dir, "documents"))


@query(
    "mm_header_decode",
    oracle="""
    SELECT doc_id,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(16 + (doc_id // 7) % 32 AS INT) AS height,
           CAST(1 AS INT) AS n_frames
    FROM documents""",
)
def mm_header_decode(spark, sf_dir):
    """REAL-bytes decode certification (new r16, r15 verdict item 2's
    driver-row completion): genuine PNG payloads are BUILT per doc
    (stdlib zlib/crc32, dims a pure function of the id) inside the
    same Arrow mapInPandas seam a real encoder occupies, scanned back
    through `decode_table`'s pass-through branch, and the pure-Python
    container-header parse recovers the true dimensions — the oracle
    states the planted dims, so the hash certifies
    encode -> Arrow -> header-parse end to end on real byte formats,
    not the md5 stub (`llmdata/multimodal.py:png_payload_table,
    parse_media_header`)."""
    payloads = multimodal.png_payload_table(
        load(spark, sf_dir, "documents").select("doc_id")
    )
    return multimodal.decode_table(payloads).select(
        "doc_id", "width", "height", "n_frames"
    )


@query(
    "mm_wav_header_decode",
    oracle="""
    SELECT doc_id,
           CAST(8000 + (doc_id % 8) * 1000 AS INT) AS width,
           CAST(1 + doc_id % 2 AS INT) AS height,
           CAST(50 + doc_id % 100 AS INT) AS n_frames
    FROM documents""",
)
def mm_wav_header_decode(spark, sf_dir):
    """The audio twin of `mm_header_decode` (new r16): genuine
    canonical PCM WAV payloads built per doc (stdlib struct, header
    fields a pure function of the id), scanned back through
    `decode_table`, dimensions recovered by the WAV branch of the
    pure-Python container-header parse (width=sample rate,
    height=channels, n_frames=sample frames — the documented audio
    mapping). Certifies the second real byte format end to end with a
    driver hash row (`llmdata/multimodal.py:wav_payload_table`)."""
    payloads = multimodal.wav_payload_table(
        load(spark, sf_dir, "documents").select("doc_id")
    )
    return multimodal.decode_table(payloads).select(
        "doc_id", "width", "height", "n_frames"
    )


@query(
    "mm_resize_plan",
    oracle=f"""
    WITH dec AS ({O_MM_DECODE})
    SELECT dec.*,
           CAST(FLOOR(width * LEAST(512.0 / GREATEST(width, height), 1.0) + 0.5)
                AS INT) AS out_width,
           CAST(FLOOR(height * LEAST(512.0 / GREATEST(width, height), 1.0) + 0.5)
                AS INT) AS out_height
    FROM dec
    """,
)
def mm_resize_plan(spark, sf_dir):
    """Aspect-preserving resize metadata over the decoded table: longest
    side capped at 512, never upscaled — a second Arrow-batched
    mapInPandas stage chained after decode, still shuffle-free."""
    return multimodal.resize_table(load(spark, sf_dir, "documents"), target=512)


@query(
    "mm_frame_sample",
    oracle=f"""
    WITH dec AS ({O_MM_DECODE}),
    vids AS (SELECT doc_id, n_frames FROM dec WHERE fmt = 'video'),
    idx AS (
      SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS f FROM vids
    )
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(f * 1000 AS BIGINT) AS frame_ts_ms,
           CAST(doc_id * 1024 + f AS BIGINT) AS frame_key
    FROM idx
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Frame-sampling fan-out for video payloads: one row per sampled
    frame via a JVM-side sequence explode (the fan-out never crosses
    into Python; a real extractor would mapInPandas over these rows)."""
    return multimodal.sample_frames(load(spark, sf_dir, "documents"), fps_ms=1000)


def _feature_ctes(dim: int) -> str:
    """The shared CTE ladder of the two feature-table oracles: per-doc
    byte extraction (hex + 2-char '0x' cast — DuckDB has no direct blob
    indexing), the dense doc x bin grid, and the L1-normalized per-bin
    value `v(gid, bin, val)`. `o_feature_table` re-aggregates `v` into
    the doc-keyed array the library emits; `o_feature_hist_rows` —
    the driver-certified shape — stops at `v` (the driver's pandas
    canonicalizer cannot sort list cells, CORRECTNESS_r12's one red
    row)."""
    return f"""
    WITH fb AS (
      SELECT doc_id,
             CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'img'
                  WHEN octet_length(encode(text)) % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS fmt,
             hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    e AS (
      SELECT doc_id AS eid, n,
             CAST('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2) AS INT)
               % {dim} AS bin
      FROM fb, unnest(range(1, n + 1)) AS t(i)
      WHERE n > 0
    ),
    h AS (SELECT eid, bin, COUNT(*) AS c FROM e GROUP BY 1, 2),
    grid AS (
      SELECT doc_id AS gid, n, unnest(range(0, {dim})) AS bin
      FROM fb WHERE n IS NOT NULL
    ),
    v AS (
      SELECT g.gid, g.bin,
             CASE WHEN g.n = 0 THEN 0.0
                  ELSE CAST(COALESCE(h.c, 0) AS DOUBLE) / g.n END AS val
      FROM grid g LEFT JOIN h ON h.eid = g.gid AND h.bin = g.bin
    )"""


def o_feature_table(dim: int = 16) -> str:
    """DuckDB oracle twin of `llmdata.multimodal.feature_table` — the
    byte-histogram feature extractor (exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): per payload, the
    L1-normalized histogram of bytes folded to ``dim`` bins, emitted in
    the library's doc-keyed ``array<double>`` convention. NULL text
    keeps a NULL embedding (left join from the full table) and an
    empty payload the zero vector (the CASE n = 0 guard in the shared
    `v` CTE). The normalization divides CAST(count AS DOUBLE) / n —
    the same single IEEE division numpy's counts/len performs, so
    vectors hash-match bit for bit."""
    return _feature_ctes(dim) + """,
    vec AS (
      SELECT gid, list(val ORDER BY bin) AS embedding FROM v GROUP BY gid
    )
    SELECT fb.doc_id, fb.fmt, vec.embedding
    FROM fb LEFT JOIN vec ON vec.gid = fb.doc_id"""


def o_feature_hist_rows(dim: int = 16) -> str:
    """DuckDB oracle of the CERTIFIED `mm_feature_hist` shape (r13
    reshape, VERDICT r12 item 1): the exploded (doc_id, fmt, bin, val)
    rows — the same `v` CTE as `o_feature_table`, without the
    list(...) re-aggregation the driver's pandas canonicalizer cannot
    sort. NULL text keeps exactly one (bin NULL, val NULL) row via the
    outer join (mirroring Spark's posexplode_outer on a NULL array);
    an empty payload keeps its ``dim`` zero-valued rows."""
    return _feature_ctes(dim) + """
    SELECT fb.doc_id, fb.fmt, v.bin, v.val
    FROM fb LEFT JOIN v ON v.gid = fb.doc_id"""


# ---------------------------------------------------------------------------
# Training-data assembly: deterministic split, mixture sampling,
# sequence packing. All pure projections/window ops over one scan —
# no RNG state, no global sort, no driver-side row loops.
# ---------------------------------------------------------------------------

from ..llmdata import packing, sampling, stats  # noqa: E402

_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
_MIX_WEIGHTS = {f"src{i}": (3.0 if i < 5 else 1.0) for i in range(20)}
_MIX_TARGET = 300


@query(
    "split_hash_deterministic",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, {sampling.o_hash_split(_SPLITS)} AS split FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs
    FROM assigned GROUP BY split, lang
    """,
)
def split_hash_deterministic(spark, sf_dir):
    """Salted-hash train/val/test assignment, summarized per (split,
    lang). The assignment itself is a projection — deterministic under
    any partitioning, stable under corpus growth."""
    docs = load(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, _SPLITS)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "mixture_weighted_sample",
    oracle=f"""
    WITH w(domain, wgt) AS (VALUES {", ".join(
        f"('src{i}', {3.0 if i < 5 else 1.0})" for i in range(20))}),
    counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    thr AS (
      SELECT source,
             CAST(FLOOR(LEAST(1.0, ({_MIX_TARGET} * wgt / (SELECT SUM(wgt) FROM w))
                             / n) * {sampling.BUCKETS}) AS BIGINT) AS t
      FROM counts JOIN w ON w.domain = counts.source
    ),
    kept AS (
      SELECT d.source FROM documents d
      JOIN thr ON thr.source = d.source
      WHERE {sampling.o_bucket('d.doc_id', 'mix-v1')} < thr.t
    )
    SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source
    """,
)
def mixture_weighted_sample(spark, sf_dir):
    """Domain-weighted downsampling to a ~300-doc corpus: heads (src0-4)
    weighted 3x over the tail. Phase 1 = one bounded count aggregate;
    phase 2 = a hash-threshold filter as a literal CASE (single scan,
    no join)."""
    docs = load(spark, sf_dir, "documents")
    return (
        sampling.mixture_sample(docs, _MIX_WEIGHTS, _MIX_TARGET)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )


@query("seq_pack_chunks", oracle=packing.o_pack_sequences(512))
def seq_pack_chunks(spark, sf_dir):
    """Concat-then-chunk packing assignment at seq_len=512: per-doc
    (shard, seq_index, token_offset, n_chunks) via ONE per-shard window
    cumsum — shards are the parallelism unit, no global sort."""
    return packing.pack_sequences(load(spark, sf_dir, "documents"), seq_len=512)


@query(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH {O_TRIH}, {_o_minhash_sigs("cand0")},
    cand AS (
      SELECT DISTINCT CASE WHEN d1 % 5 = 0 THEN d1 ELSE d2 END AS d1,
                      CASE WHEN d1 % 5 = 0 THEN d2 ELSE d1 END AS d2
      FROM cand0
      WHERE (d1 % 5 = 0) != (d2 % 5 = 0)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM trih GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, COUNT(*) AS n_common
      FROM cand c
      JOIN trih a ON a.doc_id = c.d1
      JOIN trih b ON b.doc_id = c.d2 AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT d1, d2, n_common,
           FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def dedup_incremental_lsh(spark, sf_dir):
    """Day-2 dedup: an incoming batch (doc_id % 5 == 0) matches against
    the existing corpus's banded signature index — O(batch) +
    O(candidates), never corpus x corpus, no corpus rescan beyond its
    persisted shingle index."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    return dedup.incremental_lsh_matches(corpus, batch, threshold=0.8)


# ---------------------------------------------------------------------------
# Flagship composition: end-to-end training-corpus assembly. Every stage
# is an individually-certified operator; this entry verifies the whole
# pipeline AS a pipeline — canonical exact-dedup, benchmark
# decontamination, quality + repetition gates, deterministic hash split
# — against one composed oracle.
# ---------------------------------------------------------------------------

QUALITY_MIN = 0.68  # keeps ~60% of the synthetic corpus at any sf


@query(
    "corpus_assembly",
    oracle=f"""
    WITH {O_TOKS}, {O_FIVE}, {_O_QUAL_CTES}, {_O_REP_CTES},
    corpus AS (SELECT * FROM documents WHERE doc_id % 20 != 0),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus
       GROUP BY {dedup.o_exact_group_key()}
    ),
    bench5 AS (SELECT DISTINCT shingle FROM five WHERE doc_id % 20 = 0),
    contaminated AS (
      SELECT DISTINCT f.doc_id FROM five f JOIN bench5 USING (shingle)
      WHERE f.doc_id % 20 != 0
    ),
    kept AS (
      SELECT c.doc_id, c.source FROM corpus c
      JOIN canon USING (doc_id)
      JOIN qual q ON q.doc_id = c.doc_id
      JOIN rep r ON r.doc_id = c.doc_id
      WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND q.quality >= {QUALITY_MIN}
        AND NOT r.repetitive
    )
    SELECT {sampling.o_hash_split(_SPLITS)} AS split, source,
           COUNT(*) AS n_docs
    FROM kept GROUP BY 1, 2
    """,
)
def corpus_assembly(spark, sf_dir):
    """The whole llmdata front-end as one verified pipeline: keep each
    exact-dup group's canonical doc, drop docs sharing any 5-gram with
    the benchmark split, gate on quality >= QUALITY_MIN and the Gopher
    repetition flags, then assign deterministic train/val/test splits —
    reporting (split, source) counts.

    Plan shape: the gates are doc-keyed joins of aggregated/projected
    frames over ONE corpus grain — no all-pairs anywhere, the benchmark
    shingle dim broadcasts, and the split assignment is a pure
    projection, so the composition inherits every stage's scale
    properties."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    # the corpus fans out into five per-row-heavy branches (tokenize,
    # n-gram, shingle); a single-file table would otherwise run them all
    # on ONE scan partition — respread when (and only when) the scan is
    # narrower than the cluster (see the corpus_assembly_full note).
    corpus = respread_narrow(
        docs.where(F.col("doc_id") % 20 != 0)
    ).persist()  # five branches read it; one scan, not five
    canon = dedup.exact_dup_groups(corpus).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    contam = decontam.ngram_overlap(corpus, bench, n=5, min_hits=1).where(
        ~F.col("contaminated")
    ).select("doc_id")
    qual = textstats.quality_scores(corpus).where(
        F.col("quality") >= QUALITY_MIN
    ).select("doc_id")
    # materialize the repetition flags BEFORE filtering: a collapsed
    # filter would inline the higher-order-function metrics into the
    # pushed-down predicate, and HOFs are CodegenFallback — interpreted
    # re-evaluation per row measured ~100x the projection itself. The
    # persisted frame is the production shape anyway (flags written
    # once, gates read them).
    rep_flags = textstats.repetition_stats(corpus).persist()
    rep = rep_flags.where(~F.col("repetitive")).select("doc_id")
    kept = (
        corpus.join(canon, "doc_id", "left_semi")
        .join(contam, "doc_id", "left_semi")
        .join(qual, "doc_id", "left_semi")
        .join(rep, "doc_id", "left_semi")
    )
    out = (
        sampling.hash_split(kept, _SPLITS)
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"))
    )
    return pin(out, corpus, rep_flags)


# ---------------------------------------------------------------------------
# Lexical retrieval + domain balancing + boilerplate (round 6 additions)
# ---------------------------------------------------------------------------

# Query terms drawn from the fixture vocabulary so scores are non-vacuous.
_BM25_TERMS = ["spark", "hash", "window"]
_BM25_K = 50


@query(
    "search_bm25_topk",
    oracle=f"WITH {lexsearch.o_bm25_topk(_BM25_TERMS, k=_BM25_K)}",
)
def search_bm25_topk(spark, sf_dir):
    """BM25 lexical top-k — the sparse twin of the `sim_*` dense
    retrieval family. Term frequencies come from array HOFs in one
    projection (no inverted-index materialization for a bounded query);
    corpus stats (N, avgdl, per-term df) fold to ONE row that
    broadcast-joins back; ranking is TakeOrderedAndProject (per-
    partition heaps, never a single-partition sort). Rational-idf BM25
    variant for cross-engine bit-determinism — see
    `llmdata/lexsearch.py`."""
    return lexsearch.bm25_topk(
        load(spark, sf_dir, "documents"), _BM25_TERMS, k=_BM25_K
    )


_DOMAIN_CAP = 120


@query(
    "domain_quality_cap",
    oracle=f"""
    WITH {_O_QUAL_CTES},
    ranked AS (
      SELECT q.doc_id, d.source AS domain, q.quality,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY q.quality DESC, q.doc_id) AS rk
      FROM qual q JOIN documents d USING (doc_id)
    )
    SELECT doc_id, domain, quality, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= {_DOMAIN_CAP}
    """,
)
def domain_quality_cap(spark, sf_dir):
    """Domain balancing by absolute budget: keep the 120 highest-
    quality docs per source (quality ties break on doc_id — total
    order, cluster-size independent). Mixture sampling hits target
    PROPORTIONS with a hash filter; this hits a per-domain BUDGET with
    a quality ordering — the "cap the dominant crawl" step. Quality is
    one projection (source passes through the scorer, no re-join); the
    rank is a window partitioned by domain, never a global sort."""
    return sampling.domain_quality_cap(
        load(spark, sf_dir, "documents"), cap=_DOMAIN_CAP
    )


_BP_SRC_FRAC = 0.15  # shingle boilerplate when in >15% of its source's docs
_BP_DOC_FRAC = 0.2   # doc flagged when >20% of its bigrams are boilerplate


@query(
    "boilerplate_flag",
    oracle=f"""
    WITH {O_TOKS},
    bigr AS (
      SELECT DISTINCT doc_id, tok || ' ' || l1 AS shingle FROM (
        SELECT doc_id, tok, lead(tok, 1) OVER w AS l1
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE l1 IS NOT NULL
    ),
    idx AS (
      SELECT b.doc_id, d.source, b.shingle
      FROM bigr b JOIN documents d USING (doc_id)
    ),
    srcc AS (SELECT source, COUNT(*) AS src_docs FROM documents GROUP BY source),
    gdf AS (SELECT source, shingle, COUNT(*) AS df FROM idx GROUP BY 1, 2),
    boiler AS (
      SELECT g.source, g.shingle FROM gdf g JOIN srcc USING (source)
      WHERE df > {_BP_SRC_FRAC} * src_docs
    ),
    perdoc AS (
      SELECT i.doc_id, COUNT(*) AS bp FROM idx i
      JOIN boiler b ON b.source = i.source AND b.shingle = i.shingle
      GROUP BY 1
    ),
    totals AS (SELECT doc_id, source, COUNT(*) AS n_shingles FROM idx GROUP BY 1, 2)
    SELECT t.doc_id, t.source, t.n_shingles,
           COALESCE(bp, 0) AS bp_shingles,
           {o_pround('CAST(COALESCE(bp, 0) AS DOUBLE) / t.n_shingles', 6)} AS bp_frac,
           {o_pround('CAST(COALESCE(bp, 0) AS DOUBLE) / t.n_shingles', 6)} > {_BP_DOC_FRAC} AS boilerplate
    FROM totals t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
    """,
)
def boilerplate_flag(spark, sf_dir):
    """Intra-corpus boilerplate removal (the "too common to be content"
    rule, per source): a word bigram occurring in >15% of its
    source's docs is template text; docs mostly made of such bigrams
    are flagged. One corpus explosion shared with the dedup family, one
    map-side-combinable df aggregate, per-source doc counts a bounded
    broadcast dim — no all-pairs, no window. Complements
    `decontaminate_ngram` (cross-corpus) with the within-corpus
    template signal."""
    return decontam.boilerplate_flags(
        load(spark, sf_dir, "documents"),
        n=2,
        shingle_src_frac=_BP_SRC_FRAC,
        doc_frac=_BP_DOC_FRAC,
    )


_SEM_THRESHOLD = 0.45


@query(
    "dedup_semantic_ivf",
    oracle=f"""
    WITH {O_ELEMS},
    cdots AS (
      SELECT v.vec_id, c.vec_id AS ccid,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < 8
      GROUP BY 1, 2
    ),
    ccos AS (
      SELECT cdots.vec_id, ccid, dot / (nv.nrm * nc.nrm) AS c
      FROM cdots JOIN norms nv ON nv.vec_id = cdots.vec_id
                 JOIN norms nc ON nc.vec_id = ccid
    ),
    ranked_cells AS (
      SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY c DESC, ccid) AS rn
      FROM ccos
    ),
    assign AS (SELECT vec_id, ccid AS cell FROM ranked_cells WHERE rn = 1),
    cand AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2, a.cell
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT d1, d2, ANY_VALUE(cell) AS cell,
             CAST(SUM(CAST(x.e * y.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM cand JOIN elems x ON x.vec_id = d1
                JOIN elems y ON y.vec_id = d2 AND y.i = x.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d1, d2, cell, dot / (na.nrm * nb.nrm) AS c
      FROM dots JOIN norms na ON na.vec_id = d1 JOIN norms nb ON nb.vec_id = d2
    )
    SELECT d1, d2, CAST(cell AS BIGINT) AS cell,
           FLOOR((c) * 1000000 + 0.5) / 1000000 AS cosine
    FROM scored WHERE c >= {_SEM_THRESHOLD}
    """,
)
def dedup_semantic_ivf(spark, sf_dir):
    """SemDeDup-style semantic dedup: IVF coarse-quantize (deterministic
    first-8 centroids, ties to lower id), exact-decimal cosine verify
    WITHIN each cell only — Σ|cell|² candidate work instead of N², an
    ordinary equi-join on the cell key. Complements the sign-LSH banded
    discovery (`dedup_embed_cosine`) with the cluster-then-dedup shape;
    threshold 0.45 where the synthetic embeddings have neighbours."""
    emb = load(spark, sf_dir, "embeddings")
    return simsearch.semantic_dup_pairs(emb, threshold=_SEM_THRESHOLD, dim=64)


# recall-card threshold: where the synthetic embeddings have a
# meaningful exact-pair population (~271 pairs at sf0.01 vs 14 at the
# dedup threshold 0.45), so the recall ratio is statistically readable
_SEMR_T = 0.35


@query(
    "dedup_semantic_recall",
    oracle=f"""
    WITH {_o_planes_values(64)}, {O_ELEMS}, {_o_mt_cand(64)},
    xd AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             CAST(SUM(CAST(x.e * y.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM norms a JOIN norms b ON b.vec_id > a.vec_id
      JOIN elems x ON x.vec_id = a.vec_id
      JOIN elems y ON y.vec_id = b.vec_id AND y.i = x.i
      WHERE a.vec_id % 20 = 0
      GROUP BY 1, 2
    ),
    xe AS (
      SELECT d1, d2 FROM xd
      JOIN norms na ON na.vec_id = xd.d1 JOIN norms nb ON nb.vec_id = xd.d2
      WHERE xd.dot / (na.nrm * nb.nrm) >= {_SEMR_T}
    ),
    cdots AS (
      SELECT v.vec_id, c.vec_id AS ccid,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < 8
      GROUP BY 1, 2
    ),
    ccos AS (
      SELECT cdots.vec_id, ccid, dot / (nv.nrm * nc.nrm) AS c
      FROM cdots JOIN norms nv ON nv.vec_id = cdots.vec_id
                 JOIN norms nc ON nc.vec_id = ccid
    ),
    ranked_cells AS (
      SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY c DESC, ccid) AS rn
      FROM ccos
    ),
    assign AS (SELECT vec_id, ccid AS cell FROM ranked_cells WHERE rn = 1),
    probes AS (SELECT vec_id, ccid AS cell FROM ranked_cells WHERE rn <= 3),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE a.vec_id % 20 = 0
    ),
    fpairs AS (
      SELECT c.d1, c.d2, (sa.cell = sb.cell) AS same_cell
      FROM cand c JOIN xe USING (d1, d2)
      JOIN assign sa ON sa.vec_id = c.d1
      JOIN assign sb ON sb.vec_id = c.d2
    ),
    b2signs AS (
      SELECT e.vec_id, pl.p,
             CASE WHEN CAST(SUM(CAST(pl.w * e.e AS DECIMAL(30,15))) AS DOUBLE) >= 0
                  THEN '1' ELSE '0' END AS ch
      FROM elems e JOIN planes pl ON pl.i = e.i
      GROUP BY e.vec_id, pl.p
    ),
    b2bands AS (
      SELECT vec_id, '0|' || string_agg(ch, '' ORDER BY p) AS bkt
      FROM b2signs WHERE p < 4 GROUP BY vec_id
      UNION ALL
      SELECT vec_id, '1|' || string_agg(ch, '' ORDER BY p) AS bkt
      FROM b2signs WHERE p >= 4 GROUP BY vec_id
    ),
    b2pairs AS (
      SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
      FROM b2bands x JOIN b2bands y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
      WHERE x.vec_id % 20 = 0
    ),
    mtpairs AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM mtbuckets a JOIN mtbuckets b
        ON b.tbl = a.tbl AND b.bkt = a.bkt AND a.vec_id < b.vec_id
      WHERE a.vec_id % 20 = 0
    ),
    fstats AS (
      SELECT method, COUNT(*) AS nf FROM (
        SELECT d1, d2, 'probe3' AS method FROM fpairs
        UNION ALL
        SELECT d1, d2, 'cell1' FROM fpairs WHERE same_cell
        UNION ALL
        SELECT d1, d2, 'band2' FROM b2pairs JOIN xe USING (d1, d2)
        UNION ALL
        SELECT d1, d2, 'mtlsh' FROM mtpairs JOIN xe USING (d1, d2)
      ) GROUP BY 1
    ),
    xc AS (SELECT COUNT(*) AS n_exact FROM xe),
    methods AS (SELECT 'cell1' AS method UNION ALL SELECT 'probe3'
                UNION ALL SELECT 'band2' UNION ALL SELECT 'mtlsh')
    SELECT m.method,
           CAST(xc.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(f.nf, 0) AS BIGINT) AS n_found,
           CAST(COALESCE(f.nf, 0) AS BIGINT) AS n_hit,
           {o_pround('CAST(COALESCE(f.nf, 0) AS DOUBLE) / xc.n_exact', 6)} AS recall
    FROM methods m CROSS JOIN xc LEFT JOIN fstats f ON f.method = m.method
    """,
)
def dedup_semantic_recall(spark, sf_dir):
    """Semantic-dedup quality report card — the measured answer to 'how
    many true near-dup pairs does the IVF cluster-then-dedup path
    actually find?', closing the calibration-card family (MinHash has
    `dedup_minhash_estimate`, the ANN paths have `sim_ann_recall`).

    Ground truth: exact-decimal pairs >= {_SEMR_T} whose smaller id
    sits in a deterministic 1-in-20 probe panel — O(|panel| * N) work
    (`exact_dup_pairs`), never corpus x corpus, so the card itself
    stays runnable at scale as a sampled QA job. FOUR discovery
    configs are measured: the IVF pair comes from ONE probe-3 pass
    (`tag_same_cell=True` — the shared-primary-cell subset IS the
    certified `dedup_semantic_ivf` config 'cell1', the full pass is
    the multi-probe mitigation 'probe3'); 'band2' is the 2-band
    8-plane discovery `dedup_embed_cosine` ships with, and 'mtlsh' is
    the 16-table high-recall config (`mt_dup_pairs`) — so every
    embedding dup-discovery path in the engine carries a measured
    recall, with band2/cell1 low (~0.2-0.3, the documented cheap
    configs) and probe3/mtlsh high (~0.9+). Each method contributes
    only its skinny candidate pairs; recall = |candidates ∩ exact| /
    |exact| (a candidate >= T IS a found pair — the verify stage is
    the same exact-decimal cosine the exact leg already ran, so
    re-verifying per method would be pure waste). n_found == n_hit ==
    that intersection on both sides."""
    emb = load(spark, sf_dir, "embeddings")
    panel_vec = F.pmod(F.col("vec_id"), F.lit(20)) == 0
    # ONE fused corpus pass for ALL FOUR legs (r17, guide §2.4): the
    # exact-decimal norm (exact leg), the probe-3 cell assignment (IVF
    # legs) and the 16-table LSH keys (mtlsh/band2 legs) are computed
    # in a single persisted projection — the r16 shape ran three
    # separate cached corpus passes (with_norm, the assignment scan,
    # the key pass). NULL-vector rows are dropped up front: the Arrow
    # kernels require it and a NULL cosine can never reach the exact
    # threshold, so every leg's output is unchanged.
    emb_nn = emb.where(F.col("embedding").isNotNull())
    cent_arrs, cent_norms = simsearch._resolve_centroids(
        emb_nn, None, 8, "vec_id", "embedding"
    )
    cells_k = simsearch._ivf_cells_udf(cent_arrs, cent_norms, 3)
    keys_k = simsearch._mt_keys_udf(64)
    base = (
        simsearch.with_norm(
            simsearch._respread_narrow(emb_nn.select("vec_id", "embedding")),
            "embedding",
        )
        .withColumn("cells", cells_k(F.col("embedding")))
        .withColumn("cell", F.col("cells")[0])
        .withColumn("__keys", keys_k(F.col("embedding")))
        .persist()
    )
    exact_raw = simsearch.exact_dup_pairs(
        emb, panel_vec, _SEMR_T, normed=base
    )
    exact = exact_raw.select("d1", "d2").withColumn("hit", F.lit(1)).persist()
    # DISCOVERY candidates only, per method — the exact panel frame
    # already scores every panel pair >= T, so a method's found-pairs
    # are exactly its candidates ∩ exact: one shared exact leg, zero
    # per-method re-verifies (the sim_ann_recall shared-leg trick,
    # applied to dup discovery)
    pairs = simsearch.semantic_dup_pairs(
        emb, threshold=_SEMR_T, dim=64, n_probe=3, tag_same_cell=True,
        d1_pred=panel_vec, candidates_only=True, assigned=base,
    )
    # both LSH legs from ONE Arrow key pass: hyperplanes(n) is a PREFIX
    # of hyperplanes(m>n) (per-index md5 derivation), so tables 0-1 of
    # the 16x4-bit keying carry exactly the 2-band buckets of the
    # 8-plane split `cosine_dup_pairs` ships with — same "band|bits"
    # strings, same decimal sign rule (equivalence pytest-pinned)
    keyed = base.select("vec_id", F.explode("__keys").alias("bkt"))
    ka = keyed.where(panel_vec).select(F.col("vec_id").alias("d1"), "bkt")
    kb = keyed.select(F.col("vec_id").alias("d2"), "bkt")
    # ONE bucket self-join serves both LSH legs: each candidate pair
    # carries whether any shared bucket came from tables 0-1 (== the
    # 2-band split), so 'mtlsh' is every distinct pair and 'band2' its
    # flagged subset — the mt/b2 frames previously re-ran this join
    # once each
    kboth = (
        ka.join(kb, "bkt")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.max(
                F.substring_index("bkt", "|", 1).isin("0", "1")
            ).alias("__b2")
        )
    )
    found = pairs.select(
        F.explode(
            F.when(
                F.col("same_cell"), F.array(F.lit("cell1"), F.lit("probe3"))
            ).otherwise(F.array(F.lit("probe3")))
        ).alias("method"),
        "d1",
        "d2",
    ).unionByName(
        kboth.select(
            F.explode(
                F.when(
                    F.col("__b2"), F.array(F.lit("band2"), F.lit("mtlsh"))
                ).otherwise(F.array(F.lit("mtlsh")))
            ).alias("method"),
            "d1",
            "d2",
        )
    )
    stats = (
        found.join(F.broadcast(exact), ["d1", "d2"])
        .groupBy("method")
        .agg(
            F.count("*").alias("n_found"),
            F.sum("hit").alias("n_hit"),
        )
    )
    grid = exact.agg(F.count("*").alias("n_exact")).select(
        F.explode(
            F.array(F.lit("cell1"), F.lit("probe3"),
                    F.lit("band2"), F.lit("mtlsh"))
        ).alias("method"),
        "n_exact",
    )
    out = grid.join(stats, "method", "left").select(
        "method",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce("n_found", F.lit(0)).cast("bigint").alias("n_found"),
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        pround(
            F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
        ).alias("recall"),
    )
    return pin(out, exact, base, *pins_of(exact_raw), *pins_of(pairs))


_EPOCHS = {"src0": 3, "src7": 2}


@query(
    "mixture_epoch_upsample",
    oracle=sampling.o_epoch_upsample(_EPOCHS),
)
def mixture_epoch_upsample(spark, sf_dir):
    """Mixture upsampling by repetition: 3 epochs of src0, 2 of src7,
    1 of everything else, each copy tagged with its epoch index — the
    "repeat the trusted domain" weighting. Pure projection + JVM row
    generator (explode(sequence)); the repeat factor is a literal CASE
    over the bounded domain dict — no join, no shuffle, no Python."""
    return sampling.epoch_upsample(load(spark, sf_dir, "documents"), _EPOCHS)


_N_SHARDS = 64


@query(
    "shard_training_order",
    oracle=sampling.o_shard_training_order(_N_SHARDS),
)
def shard_training_order(spark, sf_dir):
    """The dataloader endgame of corpus assembly: deterministic shard
    assignment (salted hash mod 64) + within-shard training order (rank
    of the hash, ties by id) — a reproducible global shuffle with no
    RNG state and no global sort. Shard id is a projection; position is
    a window partitioned by shard (hash-balanced by construction), the
    exact layout a partitioned parquet writer wants."""
    return sampling.shard_training_order(
        load(spark, sf_dir, "documents"), n_shards=_N_SHARDS
    )


@query(
    "training_order_curriculum",
    oracle=f"WITH {_O_QUAL_CTES}\n"
    + sampling.o_curriculum_order(_N_SHARDS),
)
def training_order_curriculum(spark, sf_dir):
    """Quality-curriculum dataloader order (new r16): the certified
    shard assignment with the within-shard order keyed FIRST by a
    coarse quality stage (cleanest data first — the curriculum-
    learning schedule), then the reproducible hash; unscored docs
    (NULL text) take stage -1 and sort last deterministically. Stage
    and shard are projections over the certified quality score;
    position is the same shard-partitioned window as
    `shard_training_order` — nothing global
    (`llmdata/sampling.py:curriculum_order`)."""
    docs = load(spark, sf_dir, "documents")
    scored = textstats.quality_scores(respread_narrow(docs)).select(
        "doc_id", "quality"
    )
    return sampling.curriculum_order(scored, n_shards=_N_SHARDS)


_FULL_CAP = 8
_FULL_SHARDS = 16


@query(
    "corpus_assembly_full",
    oracle=f"""
    WITH {O_TOKS}, {O_FIVE}, {_O_QUAL_CTES}, {_O_REP_CTES},
    corpus AS (SELECT * FROM documents WHERE doc_id % 20 != 0),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus
       GROUP BY {dedup.o_exact_group_key()}
    ),
    bench5 AS (SELECT DISTINCT shingle FROM five WHERE doc_id % 20 = 0),
    contaminated AS (
      SELECT DISTINCT f.doc_id FROM five f JOIN bench5 USING (shingle)
      WHERE f.doc_id % 20 != 0
    ),
    bpidx AS (
      SELECT DISTINCT b.doc_id, c.source, b.g AS shingle
      FROM bigr b JOIN corpus c USING (doc_id)
    ),
    bpsrc AS (SELECT source, COUNT(*) AS src_docs FROM corpus GROUP BY source),
    bpdf AS (SELECT source, shingle, COUNT(*) AS df FROM bpidx GROUP BY 1, 2),
    bpboiler AS (
      SELECT g.source, g.shingle FROM bpdf g JOIN bpsrc USING (source)
      WHERE df > {_BP_SRC_FRAC} * src_docs
    ),
    bpper AS (
      SELECT i.doc_id, COUNT(*) AS bp FROM bpidx i
      JOIN bpboiler b ON b.source = i.source AND b.shingle = i.shingle
      GROUP BY 1
    ),
    bptot AS (SELECT doc_id, COUNT(*) AS ns FROM bpidx GROUP BY 1),
    bpflag AS (
      SELECT t.doc_id,
             {o_pround('CAST(COALESCE(bp, 0) AS DOUBLE) / t.ns', 6)} > {_BP_DOC_FRAC}
               AS boilerplate
      FROM bptot t LEFT JOIN bpper p ON p.doc_id = t.doc_id
    ),
    kept0 AS (
      SELECT c.doc_id, c.source, q.quality FROM corpus c
      JOIN canon USING (doc_id)
      JOIN qual q ON q.doc_id = c.doc_id
      JOIN rep r ON r.doc_id = c.doc_id
      JOIN bpflag bf ON bf.doc_id = c.doc_id
      WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND q.quality >= {QUALITY_MIN}
        AND NOT r.repetitive
        AND NOT bf.boilerplate
    ),
    capped AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rk
        FROM kept0
      ) WHERE rk <= {_FULL_CAP}
    ),
    sharded AS ({sampling.o_shard_training_order(_FULL_SHARDS, source_sql="capped")})
    SELECT {sampling.o_hash_split(_SPLITS, key_expr="s.doc_id")} AS split,
           s.shard, COUNT(*) AS n_docs,
           CAST(SUM(s.position) AS BIGINT) AS pos_sum
    FROM sharded s GROUP BY 1, 2
    """,
)
def corpus_assembly_full(spark, sf_dir):
    """The COMPLETE llmdata front-end, every round-6 stage included, as
    one verified pipeline: canonical exact-dedup -> benchmark 5-gram
    decontamination -> quality gate -> Gopher repetition gate ->
    per-source boilerplate gate -> per-domain quality budget (top-8 per
    source) -> deterministic train/val/test split -> shard + training-
    order assignment, reporting (split, shard) doc counts and position
    checksums.

    Composition shape: every gate is a doc-keyed join of an aggregated
    frame over ONE persisted corpus grain (the five-way fan-out reads
    one cached scan); the only windows are partitioned by source (cap)
    and by shard (order) — bounded-key, never global; the split and
    shard assignments are pure hash projections. Each stage's 100 TB
    properties are audited individually (`tests/test_plans.py`); the
    composition inherits them."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    # respread_narrow, not an unconditional keyed repartition (r16):
    # at test SF both spread the 1-2 file splits across the cluster
    # (interleaved A/B on the full-gate pipeline: 4.85 vs 4.94 s
    # best-of-5, identical output), but at corpus scale the scan
    # already has >= parallelism splits and the old repartition was a
    # full shuffle of the TEXT corpus bought for nothing — the doc_id
    # hash partitioning it created was never reused (every gate's
    # doc-keyed attach broadcasts the bounded aggregate side instead).
    corpus = respread_narrow(docs.where(F.col("doc_id") % 20 != 0)).persist()
    canon = dedup.exact_dup_groups(corpus).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    contam = decontam.ngram_overlap(corpus, bench, n=5, min_hits=1).where(
        ~F.col("contaminated")
    ).select("doc_id")
    qual = textstats.quality_scores(corpus).select("doc_id", "quality")
    rep_flags = textstats.repetition_stats(corpus).persist()
    rep = rep_flags.where(~F.col("repetitive")).select("doc_id")
    bp = decontam.boilerplate_flags(
        corpus, n=2, shingle_src_frac=_BP_SRC_FRAC, doc_frac=_BP_DOC_FRAC
    ).where(~F.col("boilerplate")).select("doc_id")
    kept0 = (
        corpus.select("doc_id", "source")
        .join(canon, "doc_id", "left_semi")
        .join(contam, "doc_id", "left_semi")
        .join(rep, "doc_id", "left_semi")
        .join(bp, "doc_id", "left_semi")
        .join(qual, "doc_id")
        .where(F.col("quality") >= QUALITY_MIN)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    capped = (
        kept0.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _FULL_CAP)
        .select("doc_id")
    )
    sharded = sampling.shard_training_order(capped, n_shards=_FULL_SHARDS)
    # the split is a pure hash projection — stamp it straight onto the
    # sharded frame (a join back to `capped` would fork the lineage and
    # recompute the whole gate pipeline a second time)
    out = (
        sampling.hash_split(sharded, _SPLITS)
        .groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("position").cast("bigint").alias("pos_sum"),
        )
    )
    return pin(out, corpus, rep_flags)


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH {O_TRIH},
    {O_JPAIRS_08}
    SELECT d1, d2,
           {sampling.o_hash_split(_SPLITS, key_expr="d1")} AS split_1,
           {sampling.o_hash_split(_SPLITS, key_expr="d2")} AS split_2,
           {sampling.o_hash_split(_SPLITS, key_expr="d1")}
             <> {sampling.o_hash_split(_SPLITS, key_expr="d2")} AS leaky
    FROM jpairs
    """,
)
def split_leakage_audit(spark, sf_dir):
    """Eval-hygiene audit closing the loop between dedup and splits:
    every near-dup pair (exact 3-gram Jaccard >= 0.8) stamped with both
    members' deterministic split assignments and a ``leaky`` flag when
    they differ — a leaky pair means a test document has a near-copy in
    train, the contamination mode that inflates benchmark scores even
    after document-level splitting. The pair discovery is the audited
    one-shuffle banded shape; the split stamp is a pure hash projection
    on the pair ids (no join back to the corpus at all)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    s1 = sampling.hash_split(
        pairs.select("d1", "d2").withColumn("doc_id", F.col("d1")), _SPLITS
    ).withColumnRenamed("split", "split_1").drop("doc_id")
    out = sampling.hash_split(
        s1.withColumn("doc_id", F.col("d2")), _SPLITS
    ).withColumnRenamed("split", "split_2").drop("doc_id")
    leaky = (F.col("split_1") != F.col("split_2")).alias("leaky")
    return pin(
        out.select("d1", "d2", "split_1", "split_2", leaky), *pins_of(pairs)
    )


@query("split_by_cluster", oracle=o_split_by_cluster(_SPLITS))
def split_by_cluster_q(spark, sf_dir):
    """The FIX operator paired with `split_leakage_audit` (driver row
    registered r16; the op itself is r10): every near-dup cluster
    draws its train/val/test split from ONE key — the component-
    minimum label — so the audit's ``leaky`` count is zero by
    construction, while unclustered docs keep their per-doc assignment
    under the same salt/thresholds. CC labels from the audited
    O(log n) star fold over the PAIRS only; the label attach is one
    doc-keyed left join; the split stamp a pure hash projection
    (`llmdata/cluster.py:split_by_cluster`)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    out = cluster.split_by_cluster(
        docs.select("doc_id"), pairs.select("d1", "d2"), _SPLITS
    )
    return pin(out, *pins_of(pairs))


@query(
    "dedup_canonicals_by_score",
    oracle=f"""
    WITH RECURSIVE {O_TRIH},
    {O_CC_LBL},
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl
           GROUP BY cluster_id),
    {_O_QUAL_CTES},
    cbs AS (
      SELECT l.doc_id, l.cluster_id, s.cluster_size, q.quality
      FROM lbl l JOIN sz s USING (cluster_id)
      LEFT JOIN qual q ON q.doc_id = l.doc_id
    ),
    cbw AS (
      SELECT doc_id, cluster_id,
             ROW_NUMBER() OVER (
               PARTITION BY cluster_id
               ORDER BY COALESCE(quality, CAST('-infinity' AS DOUBLE)) DESC,
                        doc_id ASC) AS rn
      FROM cbs
    )
    SELECT m.doc_id, m.cluster_id, m.cluster_size,
           m.doc_id = w.doc_id AS is_canonical
    FROM cbs m JOIN cbw w ON w.cluster_id = m.cluster_id AND w.rn = 1
    """,
)
def dedup_canonicals_by_score(spark, sf_dir):
    """Quality-elected canonicals (driver row registered r16; the op is
    r10): re-elect each near-dup cluster's survivor as its HIGHEST-
    quality member (ties to the smallest doc_id; unscored members lose
    to any scored one) — "among near-dups, keep the best copy", the
    production replacement for the structural component-minimum
    default. One left join to attach scores, a map-side-combinable
    struct-max election per cluster (the comparator IS the rule — no
    window, no per-cluster sort), and a skinny join back
    (`llmdata/cluster.py:canonicals_by_score`)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    clusters = cluster.near_dup_clusters(pairs.select("d1", "d2"))
    scores = textstats.quality_scores(respread_narrow(docs)).select(
        "doc_id", "quality"
    )
    return pin(cluster.canonicals_by_score(clusters, scores), *pins_of(pairs))


@query(
    "corpus_stats_exact",
    oracle=f"WITH {stats.o_exact_corpus_stats()}",
)
def corpus_stats_exact(spark, sf_dir):
    """The exact twin of the sketch-based corpus planning stats: doc
    count, distinct-text count, and DISCRETE token-count quantiles
    (rank element, integer logic — engines cannot disagree) computed
    from a value HISTOGRAM, not a sort: per-doc token counts live in a
    bounded domain, so the cumulative scan is a window over
    #distinct-lengths rows, never the corpus. The HLL/GK sketches
    (`llmdata/stats.py`) remain the one-pass path when even one exact
    shuffle is too expensive; this entry proves the same numbers
    exactly where scale allows."""
    return stats.exact_corpus_stats(load(spark, sf_dir, "documents"))


@query(
    "seq_pack_greedy",
    oracle=f"WITH RECURSIVE {packing.o_pack_greedy_docs(256)}",
)
def seq_pack_greedy(spark, sf_dir):
    """Boundary-preserving greedy packing (docs never split across
    chunks — the instruction-tuning / document-attention mode,
    complementing `seq_pack_chunks`' split-anywhere GPT mode). The
    overflow-reset fold runs as a per-shard JVM array aggregate (one
    pass, shards are the parallelism unit); the oracle replays it as a
    recursive CTE stepping one ordered doc per shard per iteration."""
    return packing.pack_greedy_docs(
        load(spark, sf_dir, "documents"), seq_len=256
    )


_PE_AGG = (
    "SELECT shard, CAST(chunk AS INT) AS chunk_id,"
    " COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS tokens, "
    + o_pround("LEAST(CAST(SUM(n) AS DOUBLE) / 256, 1.0)", 6)
    + " AS utilization"
)
def _pe_oracle() -> str:
    base = packing.o_pack_greedy_docs(256).replace(
        "SELECT doc_id, shard, n AS n_tokens, CAST(chunk AS INT) AS chunk_id",
        _PE_AGG,
    )
    # only the FINAL "FROM pg_fold" takes the GROUP BY — the recursive
    # step also reads pg_fold (aliased f) and a plain .replace would
    # corrupt it
    head, _, tail = base.rpartition("FROM pg_fold")
    assert head and tail is not None
    return "WITH RECURSIVE " + head + "FROM pg_fold GROUP BY shard, chunk" + tail


_PE_ORACLE = _pe_oracle()


@query(
    "pack_efficiency",
    oracle=_PE_ORACLE,
)
def pack_efficiency(spark, sf_dir):
    """Packing-efficiency report over the greedy boundary-preserving
    assignment: per (shard, chunk) doc count, token total, and
    utilization (tokens/seq_len capped at 1 — an over-long single-doc
    chunk is full, not >100%). The number every packing pipeline
    watches: low utilization means the seq_len is mis-chosen for the
    corpus length distribution. One aggregate over the assignment."""
    from ..numeric import pround as _pr

    a = packing.pack_greedy_docs(load(spark, sf_dir, "documents"), seq_len=256)
    return (
        a.groupBy("shard", "chunk_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
        )
        .withColumn(
            "utilization",
            _pr(F.least(F.col("tokens").cast("double") / 256, F.lit(1.0)), 6),
        )
    )


# ---------------------------------------------------------------------------
# Sub-document dedup + LM quality scoring (r6 additions)
# ---------------------------------------------------------------------------

from ..llmdata import linedup, lm, trainset  # noqa: E402


@query("dedup_segments", oracle=linedup.o_segment_dedup())
def dedup_segments(spark, sf_dir):
    """Segment-level corpus dedup with reconstruction (RefinedWeb
    line-dedup analog over the newline-free fixture): fixed-8-token
    segments, a segment occurring > 2 times corpus-wide is boilerplate
    and removed from every document; surviving text re-assembled in
    original order. One exploded index (persisted, corpus scanned
    once), map-combinable occurrence counts, a tiny hot-segment dim
    broadcast back, one shuffle on doc_id to re-assemble."""
    return linedup.segment_dedup(load(spark, sf_dir, "documents"))


@query("text_lm_bigram", oracle=lm.o_lm_bigram_score())
def text_lm_bigram(spark, sf_dir):
    """Corpus-trained pruned add-one bigram LM quality score (CCNet's
    KenLM-perplexity stage, in the deterministic mean-probability form
    — see `llmdata/lm.py` for why not log-space): count tables as
    map-combinable model artifacts, scoring stream joined against the
    vocab and pruned-bigram dims, exact DECIMAL mean per doc."""
    return lm.lm_bigram_score(load(spark, sf_dir, "documents"))


from ..llmdata import fusion  # noqa: E402

_RRF_SEM_QID = 0
_RRF_SEM_K = 50

_RRF_LEX_CTE = (
    "lex AS (WITH " + lexsearch.o_bm25_topk(_BM25_TERMS, k=_BM25_K) + ")"
)
_RRF_SEM_CTE = f"""sem AS (
      WITH {O_ELEMS},
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CAST(SUM(CAST(a.e * b.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM elems a JOIN elems b ON a.i = b.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id = {_RRF_SEM_QID}
        GROUP BY 1, 2
      ),
      cscored AS (
        SELECT qid, cid, dot / (qn.nrm * cn.nrm) AS c
        FROM dots JOIN norms qn ON qn.vec_id = qid
                  JOIN norms cn ON cn.vec_id = cid
      )
      SELECT cid,
             ROW_NUMBER() OVER (ORDER BY c DESC, cid) AS rank
      FROM cscored QUALIFY rank <= {_RRF_SEM_K}
    )"""


@query(
    "search_hybrid_rrf",
    oracle=fusion.o_rrf_fuse(_RRF_LEX_CTE, _RRF_SEM_CTE),
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-50 fused with the dense
    cosine top-50 of query vector 0 by reciprocal rank fusion
    (`llmdata/fusion.py`). The corpus-scale work happens inside the two
    rankers (each with its own bounded-plan story); fusion joins two
    ≤k-row frames and ranks ≤2k rows — driver-trivial at any corpus
    size, no score calibration across rankers."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = lexsearch.bm25_topk(docs, _BM25_TERMS, k=_BM25_K).select(
        "doc_id", "score"
    )
    sem = simsearch.cosine_topk(
        emb, F.col("vec_id") == _RRF_SEM_QID, k=_RRF_SEM_K
    ).select("cid", "rank")
    return fusion.rrf_fuse(lex, sem)


_MANIFEST_SHARDS = 16


@query(
    "shard_manifest",
    oracle=sampling.o_shard_manifest(_MANIFEST_SHARDS),
)
def shard_manifest(spark, sf_dir):
    """Per-shard reproducibility manifest (doc count, token total,
    order-free XOR checksum of content hashes) — the integrity record a
    production pipeline writes next to its training shards so any two
    assembly runs can be compared in O(n_shards). One scan, one
    map-combinable aggregate (`llmdata/sampling.py`)."""
    return sampling.shard_manifest(
        load(spark, sf_dir, "documents"), n_shards=_MANIFEST_SHARDS
    )


@query(
    "training_set_pack",
    oracle=f"WITH RECURSIVE {trainset.o_training_set_rows(4, 256)}",
)
def training_set_pack(spark, sf_dir):
    """The training-set back end's COMPUTE leg, composed: shard
    assignment (salted hash) -> within-shard training order (hash
    order, content-independent pseudo-shuffle) -> boundary-preserving
    greedy packing over that order (chunk = training sequence). One row
    per doc: (doc_id, shard, position, n_tokens, chunk_id). The
    file-writing leg (`trainset.write_training_set`) adds the shard=K
    parquet layout + XOR-manifest verification, pytest-verified since
    file sinks aren't oracle-expressible (`llmdata/trainset.py`)."""
    return trainset.training_set_rows(
        load(spark, sf_dir, "documents"), n_shards=4, seq_len=256
    ).drop("text")


@query(
    "training_set_curriculum",
    oracle=f"WITH RECURSIVE {_O_QUAL_CTES},\n"
    + trainset.o_curriculum_training_set_rows(4, 256),
)
def training_set_curriculum(spark, sf_dir):
    """The packed training set under the CURRICULUM schedule (new r16):
    shard assignment unchanged, but within every shard the greedy
    boundary-preserving pack consumes docs in quality-stage order
    (cleanest first, unscored last) — early chunk ids are the warm-up
    sequences a curriculum dataloader reads first. Composition of
    three certified pieces: the quality score, `curriculum_order`'s
    stage/position, and the per-shard greedy fold
    (`llmdata/trainset.py:curriculum_training_set_rows`)."""
    docs = load(spark, sf_dir, "documents")
    scores = textstats.quality_scores(respread_narrow(docs)).select(
        "doc_id", "quality"
    )
    return trainset.curriculum_training_set_rows(
        docs, scores, n_shards=4, seq_len=256
    ).drop("text")


_STRAT_N = 25


@query(
    "stratified_sample_n",
    oracle=sampling.o_stratified_sample_n(_STRAT_N),
)
def stratified_sample_n(spark, sf_dir):
    """Deterministic fixed-n-per-stratum panel (eval/calibration set
    builder): salted-hash rank within each source, keep the first 25.
    Hash is a projection, rank is a stratum-partitioned window — no
    global sort, no RNG state, reproducible at any cluster size
    (`llmdata/sampling.py`)."""
    return sampling.stratified_sample_n(
        load(spark, sf_dir, "documents"), n_per_stratum=_STRAT_N
    )


from ..llmdata import vocab  # noqa: E402


@query("vocab_topk", oracle=vocab.o_vocab_topk())
def vocab_topk(spark, sf_dir):
    """Token frequency table top-100 with deterministic (count desc,
    token asc) tie-break — vocab candidate induction; ranking via
    TakeOrdered heaps over the map-combined counts, the window only on
    the bounded k-row result (`llmdata/vocab.py`)."""
    return vocab.vocab_topk(load(spark, sf_dir, "documents"))


@query("bpe_pair_counts", oracle=vocab.o_bpe_pair_counts())
def bpe_pair_counts(spark, sf_dir):
    """One distributed BPE-trainer iteration: adjacent char-pair counts
    over the frequency-collapsed word table (the real trainers' working
    set), top-100 with the deterministic argmax tie-break."""
    return vocab.bpe_pair_counts(load(spark, sf_dir, "documents"))


@query("vocab_coverage", oracle=vocab.o_vocab_coverage())
def vocab_coverage(spark, sf_dir):
    """Occurrence coverage of the top-100 vocab (the vocab-size
    acceptance curve, one point): two bounded aggregates of one counts
    frame, 1-row output."""
    return vocab.vocab_coverage(load(spark, sf_dir, "documents"))


# A PINNED 10-merge BPE tokenizer: the merge table bpe_train learns on
# the sf0.01 documents corpus, inlined as constants so the encode fold
# is oracle-expressible (the live-trained variant stays pytest-vs-
# python-reference because its merges are data-derived driver state).
_BPE_FIXED_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
]


@query(
    "bpe_encode_compression",
    oracle=vocab.o_bpe_encode(_BPE_FIXED_MERGES),
)
def bpe_encode_compression(spark, sf_dir):
    """Per-doc BPE compression under the pinned 10-merge tokenizer:
    (doc_id, n_chars, n_bpe_tokens, chars-per-token). The encode fold
    runs on the frequency-collapsed DISTINCT word table (|vocab| rows,
    orders of magnitude under the corpus), entirely JVM-side — ten
    chained array folds, no Python; per-doc totals come from one
    (doc, word) count join (`llmdata/vocab.py`). The DuckDB oracle
    replays the same left-to-right collapse with list_reduce."""
    return vocab.bpe_encode_report(
        load(spark, sf_dir, "documents"), _BPE_FIXED_MERGES
    )


@query("chunk_overlap", oracle=linedup.o_chunk_overlap())
def chunk_overlap(spark, sf_dir):
    """RAG-ingestion chunking: 64-token windows every 48 tokens
    (16-token overlap), ragged tail, short docs yield one chunk — pure
    projection + explode, zero shuffle (`llmdata/linedup.py`)."""
    return linedup.chunk_overlap(load(spark, sf_dir, "documents"))


from ..llmdata import pairs  # noqa: E402


@query(
    "contrastive_pairs",
    oracle=f"""
    WITH {O_TRIH}, {_o_minhash_sigs()}, {O_JACCARD_TAIL},
    posp AS (
      SELECT d1, d2, label, jaccard FROM (
        {_o_lsh_verified_select(0.8, label_sql=" 1 AS label,")}
      )
    ),
    {pairs.o_negative_pairs()}
    SELECT d1, d2, label, jaccard FROM posp
    UNION ALL
    SELECT n.d1, n.d2, 0 AS label, CAST(NULL AS DOUBLE) AS jaccard
    FROM negp n
    WHERE NOT EXISTS (SELECT 1 FROM posp p WHERE p.d1 = n.d1 AND p.d2 = n.d2)
    """,
)
def contrastive_pairs(spark, sf_dir):
    """Contrastive pair mining for embedder training: near-dup
    positives (the banded MinHash-LSH machinery — a near-dup IS a
    paraphrase pair) + deterministic hash-co-bucket negatives with
    positives anti-joined away (`llmdata/pairs.py`). No RNG state, no
    global rank; negatives cost one bucket shuffle. The bucket width is
    pinned to the oracle's static SQL; library callers omit it and get
    a corpus-count-derived width instead."""
    return pairs.contrastive_pairs(
        load(spark, sf_dir, "documents"), n_buckets=pairs.NEG_BUCKETS
    )


_MIXT_ALPHA = 0.5
_MIXT_TARGET = 300


@query(
    "mixture_temperature",
    oracle=sampling.o_mixture_sample_temperature(_MIXT_ALPHA, _MIXT_TARGET),
)
def mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture sampling (w_d ∝ share^alpha, the
    multilingual alpha-sampling rule): bounded per-domain counts ->
    integer-quantized alpha weights (exact order-free sum) -> hash
    thresholds -> single pushdown-friendly scan filter, no join on the
    Spark side (`llmdata/sampling.py`)."""
    return sampling.mixture_sample_temperature(
        load(spark, sf_dir, "documents"), alpha=_MIXT_ALPHA,
        target_total=_MIXT_TARGET,
    )


@query(
    "corpus_source_profile",
    oracle=f"""
    WITH {O_TOKS}, {_O_QUAL_CTES}, {_O_REP_CTES},
    cspb AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, length(lower(text)) - 1),
                           i -> substr(lower(text), CAST(i AS INT), 2))) AS bg
      FROM documents
    ),
    csps AS (SELECT doc_id, {_LSC} FROM cspb),
    cspsb AS (SELECT doc_id, *, {_LBEST} AS best FROM csps),
    cspl AS (SELECT doc_id, {_LPRED} AS pred_lang FROM cspsb),
    cspj AS (
      SELECT d.source, q.quality, r.repetitive, l.pred_lang
      FROM documents d
      JOIN qual q USING (doc_id) JOIN rep r USING (doc_id)
      JOIN cspl l USING (doc_id)
    ),
    cspa AS (
      SELECT source, COUNT(*) AS n_docs,
             {o_pround('CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)', 6)} AS avg_quality,
             {o_pround('SUM(CASE WHEN repetitive THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)', 6)} AS pct_repetitive
      FROM cspj GROUP BY source
    ),
    csplc AS (SELECT source, pred_lang, COUNT(*) AS c FROM cspj GROUP BY 1, 2),
    csptop AS (
      SELECT source, pred_lang AS top_lang FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY c DESC, pred_lang NULLS LAST) AS rk
        FROM csplc) WHERE rk = 1
    )
    SELECT a.source, a.n_docs, a.avg_quality, a.pct_repetitive, t.top_lang
    FROM cspa a JOIN csptop t USING (source)
    """,
)
def corpus_source_profile(spark, sf_dir):
    """The corpus report card, per source: doc count, mean quality
    (exact-decimal sum of the pre-rounded per-doc scores), repetitive
    fraction, and modal predicted language (count-desc/lang-asc
    tie-break). The three per-doc families CHAIN through one
    projection pipeline (each `keep=` carries the upstream outputs +
    text forward, r13) — one scan, zero joins, identical per-doc
    values to the joined shape the oracle replays; then bounded
    per-source aggregates — the summary every pipeline run prints
    before anyone trusts its corpus."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # the oracle's three JOIN ... USING (doc_id) drop a NULL doc_id
    # (null-unsafe equi-join), as did the pre-fusion joined shape —
    # mirror that explicitly; doc_id is the table's PK by contract
    # everywhere else (dup ids would have FANNED OUT in both old
    # shapes, a pathology neither engine is asked to define)
    q = textstats.quality_scores(
        docs.where(F.col("doc_id").isNotNull()).select(
            "doc_id", "source", "text"
        ),
        keep=("source", "text"),
    ).select("doc_id", "source", "text", "quality")
    r = textstats.repetition_stats(q, keep=("source", "text", "quality"))
    j = (
        textstats.lang_id(r, keep=("source", "quality", "repetitive"))
        .select("doc_id", "source", "quality", "repetitive", "pred_lang")
        .persist()
    )
    agg = j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        pround(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_quality"),
        pround(
            F.sum(F.when(F.col("repetitive"), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("pct_repetitive"),
    )
    langc = j.groupBy("source", "pred_lang").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(
        F.desc("c"), F.asc_nulls_last("pred_lang")
    )  # NULLS LAST: an unidentified-language bucket must lose the
    # modal election to any real language, and DuckDB ASC defaults
    # to NULLS LAST, so the twins agree once NULL pred_lang exists
    top = (
        langc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("source", F.col("pred_lang").alias("top_lang"))
    )
    return pin(agg.join(top, "source"), j)


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {O_TRIH},
    {O_CC_LBL},
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY 1)
    SELECT CAST(cluster_size AS INT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_redundant
    FROM sz GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark, sf_dir):
    """The dedup report: near-dup cluster-size histogram — how many
    clusters of each multiplicity, how many docs they hold, and how
    many are redundant (droppable beyond each cluster's canonical).
    One bounded aggregate over the CC assignment; the assignment itself
    is the audited large-star/small-star pipeline."""
    pairs = dedup.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8)
    cc = cluster.near_dup_clusters(pairs.select("d1", "d2"))
    out = (
        cc.groupBy(F.col("cluster_size").cast("int").alias("cluster_size"))
        .agg(F.countDistinct("cluster_id").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_redundant"),
        )
    )
    return pin(out, *pins_of(pairs))


_V2_SEG_FRAC = 0.25
_V2_ALPHA = 0.5
_V2_TARGET = 200
_V2_SALT = "mixT-v1"


@query(
    "corpus_assembly_v2",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 != 0),
    v2toks AS (
      SELECT doc_id, generate_subscripts(string_split(lower(text), ' '), 1) AS ord,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM corpus
    ),
    v2five AS (
      SELECT DISTINCT doc_id,
             tok || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS shingle
      FROM (
        SELECT doc_id, tok,
               lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2,
               lead(tok, 3) OVER w AS l3, lead(tok, 4) OVER w AS l4
        FROM v2toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE l4 IS NOT NULL
    ),
    benchtoks AS (
      SELECT doc_id, generate_subscripts(string_split(lower(text), ' '), 1) AS ord,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents WHERE doc_id % 20 = 0
    ),
    bench5 AS (
      SELECT DISTINCT tok || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS shingle
      FROM (
        SELECT doc_id, tok,
               lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2,
               lead(tok, 3) OVER w AS l3, lead(tok, 4) OVER w AS l4
        FROM benchtoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE l4 IS NOT NULL
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM corpus
       GROUP BY {dedup.o_exact_group_key()}),
    contaminated AS (
      SELECT DISTINCT doc_id FROM v2five WHERE shingle IN (SELECT shingle FROM bench5)
    ),
    segt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
    segx AS (
      SELECT doc_id, unnest(
        [array_to_string(toks[(i*8+1):(i*8+8)], ' ')
         FOR i IN range(CAST(ceil(len(toks)/8.0) AS BIGINT))]) AS seg
      FROM segt
    ),
    seghot AS (SELECT seg FROM segx GROUP BY seg HAVING COUNT(*) > 2),
    segst AS (
      SELECT doc_id, COUNT(*) AS n,
             SUM(CASE WHEN seg IN (SELECT seg FROM seghot) THEN 1 ELSE 0 END) AS r
      FROM segx GROUP BY doc_id
    ),
    segkeep AS (
      SELECT doc_id FROM segst
      WHERE n > 0 AND CAST(r AS DOUBLE) / n <= {_V2_SEG_FRAC!r}
    ),
    flags AS (
      SELECT c.doc_id, c.source,
             {o_hash56('c.text')} AS th,
             c.doc_id IN (SELECT doc_id FROM canon) AS g1,
             c.doc_id NOT IN (SELECT doc_id FROM contaminated) AS g2,
             c.doc_id IN (SELECT doc_id FROM segkeep) AS g3,
             ({o_hash56(f"'{_V2_SALT}:' || CAST(c.doc_id AS VARCHAR)")}) % 10000 AS bkt
      FROM corpus c
    ),
    surv AS (SELECT * FROM flags WHERE g1 AND g2 AND g3),
    v2counts AS (SELECT source, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS tot
                 FROM surv GROUP BY source),
    v2w AS (
      SELECT source, n,
             CAST(FLOOR(pow(CAST(n AS DOUBLE) / tot, {_V2_ALPHA!r})
                        * 1000000000 + 0.5) AS BIGINT) AS w9,
             SUM(CAST(FLOOR(pow(CAST(n AS DOUBLE) / tot, {_V2_ALPHA!r})
                            * 1000000000 + 0.5) AS BIGINT)) OVER () AS wsum
      FROM v2counts
    ),
    v2thr AS (
      SELECT source,
             CAST(FLOOR(LEAST(1.0, ({_V2_TARGET} * w9 / wsum) / n)
                        * 10000) AS BIGINT) AS t
      FROM v2w
    )
    SELECT f.source,
           COUNT(*) AS n_raw,
           CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canon,
           CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
           CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_seg,
           CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND f.bkt < COALESCE(t.t, 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
           COALESCE(bit_xor(CASE WHEN g1 AND g2 AND g3 AND f.bkt < COALESCE(t.t, 0)
                            THEN th END), 0) AS content_xor
    FROM flags f LEFT JOIN v2thr t USING (source)
    GROUP BY f.source
    """,
)
def corpus_assembly_v2(spark, sf_dir):
    """The assembly FUNNEL report with the round's new stages composed:
    exact-dedup canon -> benchmark decontamination -> segment-
    boilerplate gate (docs whose hot-segment fraction exceeds 25% drop)
    -> temperature-scaled mixture (alpha=0.5, survivor-count weights).
    One row per source with the count surviving each gate prefix and
    an order-free XOR checksum of the final selection — the lineage
    summary a production assembly run records.

    Shape: every signal is a doc-keyed id-set (each with its own
    audited scale story); the funnel is ONE conditional aggregate over
    the flag-joined corpus; mixture thresholds derive driver-side from
    the bounded survivor counts."""
    from ..llmdata import linedup as _ld
    from ..llmdata import sampling as _sp

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    # respread, not keyed repartition — see corpus_assembly_full's note
    corpus = respread_narrow(docs.where(F.col("doc_id") % 20 != 0)).persist()
    canon = dedup.exact_dup_groups(corpus).select(
        F.col("canonical_doc_id").alias("doc_id"), F.lit(True).alias("g1")
    )
    clean = (
        decontam.ngram_overlap(corpus, bench, n=5, min_hits=1)
        .where(~F.col("contaminated"))
        .select("doc_id", F.lit(True).alias("g2"))
    )
    seg = _ld.segment_dedup(corpus)
    segkeep = seg.where(
        (F.col("n_segs") > 0)
        & (F.col("n_removed").cast("double") / F.col("n_segs") <= _V2_SEG_FRAC)
    ).select("doc_id", F.lit(True).alias("g3"))
    from ..llmdata.hashing import portable_hash56 as _h56

    flags = (
        corpus.select(
            "doc_id",
            "source",
            _h56(F.col("text")).alias("th"),
            (_sp.bucket_col("doc_id", _V2_SALT)).alias("bkt"),
        )
        .join(canon, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .join(segkeep, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "th",
            "bkt",
            F.coalesce("g1", F.lit(False)).alias("g1"),
            F.coalesce("g2", F.lit(False)).alias("g2"),
            F.coalesce("g3", F.lit(False)).alias("g3"),
        )
        .persist()
    )
    surv_counts = {
        r[0]: r[1]
        for r in flags.where("g1 AND g2 AND g3").groupBy("source").count().collect()
    }
    thr = _sp.temperature_thresholds(surv_counts, _V2_ALPHA, _V2_TARGET)
    thr_expr = F.lit(0)
    for d, t in sorted(thr.items()):
        thr_expr = F.when(F.col("source") == d, F.lit(t)).otherwise(thr_expr)
    final = F.col("g1") & F.col("g2") & F.col("g3") & (F.col("bkt") < thr_expr)
    marked = flags.withColumn("__final", final)
    out = marked.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("long").alias("n_canon"),
        F.sum(F.when(F.col("g1") & F.col("g2"), 1).otherwise(0))
        .cast("long")
        .alias("n_decontam"),
        F.sum(F.when(F.col("g1") & F.col("g2") & F.col("g3"), 1).otherwise(0))
        .cast("long")
        .alias("n_seg"),
        F.sum(F.when(F.col("__final"), 1).otherwise(0)).cast("long").alias("n_final"),
        F.coalesce(
            F.expr("bit_xor(CASE WHEN __final THEN th END)"), F.lit(0)
        ).alias("content_xor"),
    )
    return pin(out, corpus, flags, *pins_of(seg))


def o_ngram_freq_spectrum(n: int = 2) -> str:
    """DuckDB oracle twin of `llmdata.stats.ngram_freq_spectrum` over
    the documents table (r10/r11 registration queue — exercised by the
    dedicated Spark-vs-DuckDB pytest): whitespace-split lowercased
    tokens -> ALL adjacent n-gram occurrences (total counts, not the
    dedup path's per-doc-distinct shingles) -> per-gram corpus
    frequency -> frequency-of-frequency rollup. Docs with fewer than
    n tokens (or NULL text) contribute nothing; DuckDB's 1-based
    inclusive list slice mirrors Spark's transform over
    sequence(0, size-n)."""
    return f"""
    WITH t AS (
      SELECT string_split(lower(text), ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT unnest(list_transform(range(1, len(toks) - {n} + 2),
             i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram
      FROM t WHERE len(toks) >= {n}
    ), f AS (
      SELECT gram, COUNT(*) AS freq FROM g GROUP BY gram
    )
    SELECT freq, COUNT(*) AS n_grams FROM f GROUP BY freq"""


def o_dup_rate_by_source() -> str:
    """DuckDB oracle twin of `llmdata.stats.dup_rate_by_source` over
    the documents table (r10/r11 registration queue — exercised by the
    dedicated Spark-vs-DuckDB pytest). The oracle keys the distinct
    count on the text itself where the Spark side keys on sha2(text)
    to keep the shuffle digest-wide — identical answers absent a
    SHA-256 collision. COUNT(text)/COUNT(DISTINCT text) both ignore
    NULL text on both engines; the numerator CASTs to DOUBLE before
    the pround product (the DECIMAL knife-edge trap)."""
    rate = ("FLOOR(CAST(COUNT(text) - COUNT(DISTINCT text) AS DOUBLE)"
            " / COUNT(text) * 1000000 + 0.5) / 1000000")
    return f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(text) AS n_with_text,
           COUNT(DISTINCT text) AS n_texts,
           COUNT(text) - COUNT(DISTINCT text) AS dup_docs,
           CASE WHEN COUNT(text) > 0 THEN {rate} END AS dup_rate
    FROM documents GROUP BY source"""


@query("ngram_freq_spectrum", oracle=o_ngram_freq_spectrum(2))
def ngram_freq_spectrum(spark, sf_dir):
    """Word-bigram frequency-of-frequency spectrum — the Zipf card
    (registered r11 from the r9 queue): for every corpus frequency,
    how many distinct bigrams occur exactly that often — the
    vocab-sizing / dedup-threshold / decontamination-cost planning
    read-out. TWO map-side-combinable aggregates (per-gram count, then
    count-keyed rollup); the gram count is the only real shuffle, the
    same gram-string width the decontamination joins already move."""
    return stats.ngram_freq_spectrum(load(spark, sf_dir, "documents"), n=2)


@query("dup_rate_by_source", oracle=o_dup_rate_by_source())
def dup_rate_by_source(spark, sf_dir):
    """Per-source EXACT duplication rate (registered r11 from the r9
    queue): docs, text-bearing docs, distinct texts, excess copies and
    the pround'd dup_rate per source — `source_overlap_matrix`'s
    exact-identity sibling, with NULL source as its own genuine-NULL
    audit row. ONE two-phase count-distinct aggregate; the shuffle
    carries sha2 digests, never document bodies."""
    return stats.dup_rate_by_source(load(spark, sf_dir, "documents"))


@query(
    "decontaminate_semantic",
    oracle=o_semantic_contamination(threshold=0.35, eval_mod=41),
)
def decontaminate_semantic(spark, sf_dir):
    """Third rung of the decontamination ladder (registered r11 from
    the r9 queue): corpus vectors with an exact-decimal cosine >= 0.35
    neighbor in the benchmark embedding panel (every 41st vector), one
    row per corpus vector with (n_matches, max_cosine, contaminated) —
    the full keep/drop decision, `decontaminate_fuzzy`'s contract in
    embedding space for reworded/translated leaks that share no
    shingles. Multi-table sign-LSH discovery with the bounded eval
    side's bucket keys broadcast; exact-decimal cosine only on
    candidates — no corpus x corpus, no corpus x eval all-pairs."""
    emb = load(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 41 == 0)
    corpus = emb.where(F.col("vec_id") % 41 != 0)
    return decontam.semantic_contamination(corpus, bench, threshold=0.35)


def o_token_drift_card(
    source_a: str, source_b: str, top_n: int = 50
) -> str:
    """DuckDB oracle twin of `llmdata.stats.token_drift_card` over the
    documents table (r10/r11 registration queue — exercised by the
    dedicated Spark-vs-DuckDB pytest): filtered two-source token
    explode -> per-token conditional counts -> grand totals -> ROW-
    LOCAL rates/delta (CAST to DOUBLE so the division chain is the
    same IEEE sequence Spark runs — no DECIMAL knife edges, no
    float-sum ordering anywhere) -> |delta| DESC, token ASC top-n,
    the same total order Spark's TakeOrdered cut uses. Source names
    are quote-escaped (free-form strings also reach SQL via
    `sampling.o_hash_split`'s split names/salt, escaped at that
    source)."""
    source_a = source_a.replace("'", "''")
    source_b = source_b.replace("'", "''")
    return f"""
    WITH t AS (
      SELECT CASE WHEN source = '{source_a}' THEN 'a' ELSE 'b' END AS side,
             unnest(string_split(lower(text), ' ')) AS token
      FROM documents
      WHERE source IN ('{source_a}', '{source_b}') AND text IS NOT NULL
    ), c AS (
      SELECT token,
             COUNT(*) FILTER (side = 'a') AS count_a,
             COUNT(*) FILTER (side = 'b') AS count_b
      FROM t GROUP BY token
    ), tot AS (
      SELECT SUM(count_a) AS ta, SUM(count_b) AS tb FROM c
    )
    SELECT token, count_a, count_b,
           CASE WHEN ta > 0 THEN
             FLOOR(CAST(count_a AS DOUBLE) / ta * 1000000 + 0.5) / 1000000
           END AS rate_a,
           CASE WHEN tb > 0 THEN
             FLOOR(CAST(count_b AS DOUBLE) / tb * 1000000 + 0.5) / 1000000
           END AS rate_b,
           CASE WHEN ta > 0 AND tb > 0 THEN
             FLOOR((CAST(count_a AS DOUBLE) / ta
                    - CAST(count_b AS DOUBLE) / tb) * 1000000 + 0.5) / 1000000
           END AS delta
    FROM c, tot
    ORDER BY ABS(delta) DESC NULLS LAST, token
    LIMIT {top_n}"""


def o_embedding_stats_card(group_col: str = "label") -> str:
    """DuckDB oracle twin of `llmdata.stats.embedding_stats_card` over
    the embeddings table (r10/r11 registration queue — exercised by
    the dedicated Spark-vs-DuckDB pytest). Per-row norm replays the
    exact-decimal convention (`O_ELEMS`-style DECIMAL(30,15) element
    squares -> exact SUM -> sqrt -> pround-9); a NULL vector unnests
    to no element rows, so the LEFT JOIN back to the base table keeps
    it with NULL stats; the empty-array row (also no element rows)
    is pinned to norm 0.0 by the len() CASE; and a vector CONTAINING
    a NULL element is forced to a NULL norm by the list_filter CASE —
    DuckDB's SUM would otherwise skip the NULL product and report a
    partial norm where Spark's decimal fold propagates NULL (the
    n_nullelem column counts these). The mean sums the
    rounded norms as exact DECIMAL(38,9) before ONE IEEE division,
    matching Spark's partition-order-independent chain. Assumes
    vec_id uniquely keys the table (true for the driver testdata)."""
    return f"""
    WITH elems AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e
      FROM embeddings
    ), nr AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(e * e AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
      FROM elems GROUP BY vec_id
    ), r AS (
      SELECT b.{group_col} AS grp, b.embedding,
             CASE WHEN b.embedding IS NULL THEN NULL
                  WHEN len(list_filter(b.embedding, x -> x IS NULL)) > 0
                    THEN NULL
                  WHEN len(b.embedding) = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE FLOOR(nr.nrm * 1000000000 + 0.5) / 1000000000
             END AS n9,
             -- lateral alias: bad derives from the single n9 CASE, so
             -- the corruption predicate lives in exactly one place
             b.embedding IS NOT NULL AND n9 IS NULL AS bad
      FROM embeddings b LEFT JOIN nr USING (vec_id)
    )
    SELECT grp AS {group_col},
           COUNT(*) AS n_vectors,
           COUNT(*) FILTER (embedding IS NULL) AS n_null,
           COUNT(*) FILTER (bad) AS n_nullelem,
           COUNT(*) FILTER (n9 = 0) AS n_zero,
           MIN(len(embedding)) AS dim_min,
           MAX(len(embedding)) AS dim_max,
           FLOOR(MIN(n9) * 1000000 + 0.5) / 1000000 AS norm_min,
           FLOOR(MAX(n9) * 1000000 + 0.5) / 1000000 AS norm_max,
           CASE WHEN COUNT(n9) > 0 THEN
             FLOOR(CAST(SUM(CAST(n9 AS DECIMAL(38,9))) AS DOUBLE)
                   / COUNT(n9) * 1000000 + 0.5) / 1000000
           END AS norm_mean
    FROM r GROUP BY grp ORDER BY {group_col} NULLS LAST"""


@query("source_overlap_matrix", oracle=o_source_overlap_matrix())
def source_overlap_matrix(spark, sf_dir):
    """Cross-source near-dup overlap matrix (registered r10 from the
    r9 queue): per unordered source pair, verified MinHash-LSH
    near-dup pair counts and the fraction of each side's corpus
    implicated — the "how much of snapshot A is already in B" merge
    planning card. A NULL source is its own genuine-NULL audit row
    (the sibling cards' convention — r11 ADVICE fix).
    Discovery is the certified banded-LSH + exact-Jaccard
    verify (never all-pairs); everything downstream is skinny keyed
    joins plus a #sources^2-bounded aggregate."""
    return stats.source_overlap_matrix(load(spark, sf_dir, "documents"))


@query("embedding_stats_card", oracle=o_embedding_stats_card())
def embedding_stats_card(spark, sf_dir):
    """Embedding-table QA card (registered r10 from the r9 queue):
    per label, vector counts, NULL / NULL-element / zero-vector
    counts, dimension range, and exact-decimal L2-norm min/max/mean —
    the "trust the embedding column before ANN or semantic dedup runs
    on it" read-out. ONE map-side-combinable aggregate over a single
    scan; the shuffle carries #groups x 9 scalars."""
    return stats.embedding_stats_card(load(spark, sf_dir, "embeddings"))


def o_source_novelty_card(n: int = 3) -> str:
    """DuckDB oracle twin of `llmdata.stats.source_novelty_card` over
    the documents table (r10/r11 registration queue — exercised by the
    dedicated Spark-vs-DuckDB pytest): per-doc DISTINCT word n-grams
    (the shingle convention, mirrored with DuckDB's 1-based inclusive
    list slice) -> DISTINCT (source, gram) membership (NULL source
    kept as its own audit row) -> per-gram source count -> per-source
    novelty rollup. The rate division CASTs to DOUBLE before the
    pround-6 floor so both engines run the same IEEE chain."""
    return f"""
    WITH t AS (
      SELECT source, string_split(lower(text), ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(toks) - {n} + 2),
                    i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram
      FROM t WHERE len(toks) >= {n}
    ), c AS (
      SELECT gram, COUNT(*) AS nsrc FROM g GROUP BY gram
    )
    SELECT g.source, COUNT(*) AS n_grams,
           COUNT(*) FILTER (c.nsrc = 1) AS n_unique,
           FLOOR(CAST(COUNT(*) FILTER (c.nsrc = 1) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS novelty_rate
    FROM g JOIN c USING (gram)
    GROUP BY g.source ORDER BY g.source NULLS LAST"""


@query("token_drift_card", oracle=o_token_drift_card("src0", "src1", 20))
def token_drift_card_q(spark, sf_dir):
    """Two-source token-drift card (registered r12 from the r9 queue):
    the 20 unigrams whose corpus rate moved most between src0 and
    src1, with counts, rates and delta — the "what changed between
    these crawls" QA read before trusting a refreshed snapshot in an
    established mixture. ONE token-keyed conditional-count aggregate
    (map-side combinable); grand totals attach via the sanctioned
    1-row broadcast; the top-n cut is a TakeOrdered heap over a total
    order (|delta| DESC, token ASC) — no global sort, no window, no
    Python. top_n=20 so the cut binds even at sf0.001 (31 drift
    tokens there)."""
    return stats.token_drift_card(
        load(spark, sf_dir, "documents"), "src0", "src1", top_n=20
    )


@query("source_novelty_card", oracle=o_source_novelty_card(3))
def source_novelty_card_q(spark, sf_dir):
    """Per-source gram-novelty card (registered r12 from the r9
    queue): distinct word trigrams per source and the fraction
    appearing in NO other source — the "is this crawl adding anything"
    dataset-card row, gram-level complement of `source_overlap_matrix`
    (doc identity) and content dual of `token_drift_card` (individual
    movers). ONE gram-keyed set aggregate whose per-gram source set is
    bounded by #sources (map-side partials dedup early); NULL source
    struct-wrapped so it keeps its audit row; no window, no join, no
    Python."""
    return stats.source_novelty_card(load(spark, sf_dir, "documents"), n=3)


@query("domain_token_budget", oracle=o_domain_token_budget(800))
def domain_token_budget_q(spark, sf_dir):
    """Per-domain TOKEN budget (registered r12 from the r9 queue):
    keep each domain's highest-quality docs until the cumulative token
    count fills the 800-token budget (crossing doc kept, ≤1-doc
    overshoot — the deterministic greedy rule) — mixture planning in
    the unit that costs training compute, where `domain_quality_cap`
    budgets doc counts. One quality-scan projection plus a
    domain-PARTITIONED running-total window (parallelism = #domains,
    never a global sort); budget=800 actually cuts at the parity
    scales."""
    return sampling.domain_token_budget(
        load(spark, sf_dir, "documents"), budget=800
    )


@query("mm_feature_hist", oracle=o_feature_hist_rows(16))
def mm_feature_hist(spark, sf_dir):
    """Byte-histogram feature extraction over the multimodal payload
    table (registered r12; CERTIFIED SHAPE reshaped r13): per payload,
    the L1-normalized histogram of bytes folded to 16 bins. The
    library operator (`multimodal.feature_table`, unchanged — its
    doc-keyed array<double> feeds the embedding dedup/ANN/QA chain)
    is exploded here to list-free (doc_id, fmt, bin, val) rows because
    the driver's pandas canonicalizer cannot sort list cells
    (CORRECTNESS_r12's one red row). posexplode_outer keeps the NULL
    vector of a NULL text as one (bin NULL, val NULL) row and an empty
    payload as 16 zero rows — mirrored by the oracle's outer join. bin
    is cast to long to match DuckDB's BIGINT range() unnest. Arrow-
    batched mapInPandas (single-pass row-offset bincount kernel),
    partition-preserving; the explode is a JVM-side generator — still
    no shuffle."""
    feats = multimodal.feature_table(load(spark, sf_dir, "documents"), dim=16)
    return feats.select(
        "doc_id",
        "fmt",
        F.posexplode_outer("embedding").alias("bin", "val"),
    ).withColumn("bin", F.col("bin").cast("long"))


def o_length_bucket_ladder() -> tuple[str, str]:
    """The (lo-from-n, hi-from-lo) CASE ladders of
    `o_length_histogram_card`, factored so the open top bucket —
    unreachable from any realistic test corpus — is unit-testable on
    literal counts against `stats.length_bucket_lo/hi` (both sides
    generate from `stats.LENGTH_BUCKET_MAX_POW`)."""
    from ..llmdata.stats import LENGTH_BUCKET_MAX_POW as MP

    lo = "CASE WHEN n IS NULL THEN NULL WHEN n = 0 THEN 0 " + " ".join(
        f"WHEN n < {2 ** (k + 1)} THEN {2**k}" for k in range(MP)
    ) + f" ELSE {2**MP} END"
    hi = (f"CASE WHEN lo = 0 THEN 0 WHEN lo = {2**MP} THEN NULL"
          " ELSE lo * 2 - 1 END")
    return lo, hi


def o_length_histogram_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.length_histogram_card`
    (r13/r14 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the power-of-two bucket
    CASE ladder is GENERATED from the same
    `stats.LENGTH_BUCKET_MAX_POW` constant the Spark side uses (exact
    integer comparisons — no log2, whose Java and C++ implementations
    disagree by an ulp at power-of-two boundaries), the share is one
    row-local CAST-to-DOUBLE division prounded to 6, and the share
    window runs over the bounded histogram frame."""
    ladder, hi = o_length_bucket_ladder()
    return f"""
    WITH lhn AS (
      SELECT source,
             len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}')) AS n
      FROM documents WHERE text IS NOT NULL
    ), lhb AS (
      SELECT source, {ladder} AS lo FROM lhn
    ), lh AS (
      SELECT source, lo, COUNT(*) AS n_docs FROM lhb GROUP BY 1, 2
    )
    SELECT source, CAST(lo AS INT) AS lo_tokens,
           CAST({hi} AS INT) AS hi_tokens,
           n_docs,
           {o_pround("CAST(n_docs AS DOUBLE)"
                     " / SUM(n_docs) OVER (PARTITION BY source)", 6)} AS share
    FROM lh"""


def o_ttr_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.ttr_card` (r13/r14
    registration queue — exercised by the dedicated Spark-vs-DuckDB
    parity pytest at two SFs): whitespace-lowercase token explode ->
    per-(source, token) counts -> per-source rollup; both rates are
    single CAST-to-DOUBLE divisions prounded to 6 (denominators never
    zero — a source row exists only with >= 1 token)."""
    return f"""
    WITH ttrt AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE text IS NOT NULL
    ), ttrc AS (
      SELECT source, token, COUNT(*) AS cnt FROM ttrt GROUP BY 1, 2
    )
    SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           COUNT(*) FILTER (cnt = 1) AS n_hapax,
           {o_pround("CAST(COUNT(*) AS DOUBLE) / SUM(cnt)", 6)} AS ttr,
           {o_pround("CAST(COUNT(*) FILTER (cnt = 1) AS DOUBLE)"
                     " / COUNT(*)", 6)} AS hapax_rate
    FROM ttrc GROUP BY source"""


def _o_lang_matrix(group_col: str, out_name: str) -> str:
    """Shared SQL builder behind `o_lang_source_matrix` and
    `o_lang_confusion_card` — the same generated _LSC/_LBEST/_LPRED
    prediction fragments the certified `lang_id_ngram` entry
    hash-matches with, grouped by an arbitrary carried column."""
    return f"""
    WITH lsb AS (
      SELECT doc_id, {group_col} AS {out_name},
             list_distinct(list_transform(generate_series(1, length(lower(text)) - 1),
                           i -> substr(lower(text), CAST(i AS INT), 2))) AS bg
      FROM documents
    ), lss AS (
      SELECT doc_id, {out_name},
             {_LSC}
      FROM lsb
    ), lssb AS (
      SELECT *, {_LBEST} AS best FROM lss
    ), lsp AS (
      SELECT {out_name}, {_LPRED} AS pred_lang FROM lssb
    ), lsm AS (
      SELECT {out_name}, pred_lang, COUNT(*) AS n_docs FROM lsp GROUP BY 1, 2
    )
    SELECT {out_name}, pred_lang, n_docs,
           {o_pround("CAST(n_docs AS DOUBLE)"
                     f" / SUM(n_docs) OVER (PARTITION BY {out_name})", 6)} AS share
    FROM lsm"""


def o_lang_confusion_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.lang_confusion_card`
    (r14 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs)."""
    return _o_lang_matrix("lang", "label_lang")


def o_lang_source_matrix() -> str:
    """DuckDB oracle twin of `llmdata.stats.lang_source_matrix`
    (r13/r14 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): replays the
    `lang_id_ngram` bigram-profile prediction (the same generated
    _LSC/_LBEST/_LPRED fragments that entry hash-matches with) with
    source carried through, then ONE (source, lang) count and a
    bounded-frame share window; zero-evidence and NULL-text docs land
    in the NULL-language row."""
    return _o_lang_matrix("source", "source")


# ---------------------------------------------------------------------------
# r13 registrations: the queued dataset-card surface (all
# library-complete since r11/r12 with two-SF parity pytests; the r14
# trio pulled forward per VERDICT r12 item 6 — the certification
# window has 20 front slots free after the 13 r9-stale entries).
# ---------------------------------------------------------------------------


@query(
    "quality_calibration_by_domain",
    oracle=o_quality_calibration_by_domain(0.7),
)
def quality_calibration_by_domain_q(spark, sf_dir):
    """Per-domain calibrated quality cuts (registered r13 from the r10
    queue): each source's own keep-the-best-70% threshold and what it
    actually keeps — the per-source replay of
    `quality_calibration_card`'s global CDF walk, because "keep the
    best 70% of each source" at a global threshold over-keeps clean
    domains and guts noisy ones. Quantized per-domain histogram ->
    cumulative window PARTITIONed BY domain (bounded: #domains x
    #buckets, never the corpus) -> bucket-lower-edge threshold (the
    raw-score gate-floor convention)."""
    return stats.quality_calibration_by_domain(
        load(spark, sf_dir, "documents"), 0.7
    )


@query("length_histogram_card", oracle=o_length_histogram_card())
def length_histogram_card_q(spark, sf_dir):
    """Per-source token-length histogram on power-of-two buckets
    (registered r13 from the r12 queue): the exact, certifiable
    companion of the quantile sketch — picks sequence length /
    truncation / packing mode per source. CASE ladder generated from
    the shared LENGTH_BUCKET_MAX_POW constant (exact integer
    comparisons, no log2 ulp hazard); ONE map-side-combinable
    (source, bucket) aggregate; share window over the bounded
    histogram frame."""
    return stats.length_histogram_card(load(spark, sf_dir, "documents"))


@query("ttr_card", oracle=o_ttr_card())
def ttr_card_q(spark, sf_dir):
    """Per-source lexical diversity card (registered r13 from the r12
    queue): tokens, types, hapax legomena, TTR and hapax rate — the
    read that separates template-stamped sources from natural text
    BEFORE n-gram dedup spends a shuffle proving it. Explode -> ONE
    (source, token)-keyed count (map-side combinable) -> per-source
    rollup bounded by vocabulary size."""
    return stats.ttr_card(load(spark, sf_dir, "documents"))


from ..streaming.ingest import CARDS, AdditiveCard  # noqa: E402


def _stream_fold(card: AdditiveCard, docs, emb=None, **params):
    """Batch twin of a card stream's maintenance path, certified by the
    batch card's own DuckDB oracle: ``docs`` splits into three
    micro-batches on pmod(doc_id, 3) — the arrival order a stream might
    deliver — each batch's ADDITIVE delta is ``card.counts(batch,
    **params)``, and the union is merged by THE shared
    `streaming.ingest._fold` and presented by ``card.finish``, the same
    two functions the live stream and `compact_card_state` run. With
    ``emb`` its vectors split on pmod(vec_id, 3) alongside, and each
    delta is ``card.counts(docs_batch, emb_batch, **params)``.
    Hash-matching the oracle certifies the fold/finish additivity that
    the streaming pytests can only pin Spark-vs-Spark; the delta log
    never touches disk here (its parquet round-trip, checkpoint
    ownership and replay idempotence are tests/test_streaming.py's
    subject)."""

    def split(df, id_col):
        # NULL-safe: pmod(NULL, 3) is NULL and would match no batch,
        # silently dropping a NULL-id row the oracle counts
        bucket = F.coalesce(F.pmod(id_col, F.lit(3)), F.lit(0))
        return [df.where(bucket == b) for b in range(3)]

    docs_b = split(docs, "doc_id")
    batches = zip(docs_b) if emb is None else zip(docs_b, split(emb, "vec_id"))
    deltas = [card.counts(*b, **params) for b in batches]
    return card.refresh(deltas[0].unionByName(deltas[1]).unionByName(deltas[2]))


@query("ttr_card_stream_fold", oracle=o_ttr_card())
def ttr_card_stream_fold_q(spark, sf_dir):
    """Batch twin of the TTR stream (`_stream_fold`): the one card in
    the family whose folded state is the per-source VOCABULARY
    (source, token, cnt) rather than bounded-key counts — a token
    hapax in two different batches must come out cnt=2, NOT hapax."""
    return _stream_fold(CARDS["ttr"], load(spark, sf_dir, "documents"))


@query("lang_source_matrix", oracle=o_lang_source_matrix())
def lang_source_matrix_q(spark, sf_dir):
    """Language x source distribution (registered r13, pulled forward
    from the r14 queue): per (source, predicted language) counts and
    within-source shares — the full distribution behind
    `corpus_source_profile`'s modal-language column; decides which
    language gates each source needs. Row-local JVM lang-ID
    projection (keep= carries source, no re-join); ONE
    map-side-combinable aggregate; share window over the bounded
    matrix."""
    return stats.lang_source_matrix(load(spark, sf_dir, "documents"))


@query("lang_confusion_card", oracle=o_lang_confusion_card())
def lang_confusion_card_q(spark, sf_dir):
    """Language-ID confusion matrix against the corpus's labeled lang
    column (registered r13, pulled forward from the r14 queue): the
    diagonal is per-language recall, off-diagonals say where the
    n-gram identifier leaks before a language gate trusts it. Same
    bounded shape as `lang_source_matrix` via the shared _lang_matrix
    builder."""
    return stats.lang_confusion_card(load(spark, sf_dir, "documents"))


@query("vocab_coverage_by_source", oracle=vocab.o_vocab_coverage_by_source(20))
def vocab_coverage_by_source_q(spark, sf_dir):
    """Per-source occurrence coverage of the global top-20 vocab
    (registered r13, pulled forward from the r14 queue): the
    OOV-rate-by-source read behind `vocab_coverage`'s single number —
    a tokenizer induced on the whole mixture can cover 99% of one
    crawl and gut another. k=20 so the cut binds even on the testdata
    vocabulary (31 distinct tokens; k>=30 saturates). ONE explode into
    a persisted (source, token) count read twice — global TakeOrdered
    top-k, then a LEFT join against the BROADCAST k-row vocab."""
    return vocab.vocab_coverage_by_source(
        load(spark, sf_dir, "documents"), k=20
    )


@query("length_card_stream_fold", oracle=o_length_histogram_card())
def length_card_stream_fold_q(spark, sf_dir):
    """Batch twin of the length-histogram stream (`_stream_fold`;
    registered r13, VERDICT r12 item 7)."""
    return _stream_fold(CARDS["length"], load(spark, sf_dir, "documents"))


def o_pii_rate_by_source() -> str:
    """DuckDB oracle twin of `llmdata.stats.pii_rate_by_source` (r14
    registration queue — exercised by the dedicated Spark-vs-DuckDB
    parity pytest at two SFs): the same three certified PII patterns
    (`pii_mask_regex`'s regexes, common Java/RE2 dialect) counted per
    doc, summed per source; NULL text yields NULL per-doc counts that
    SUM skips and whose any-match predicate is never true on either
    engine. Sums CAST to BIGINT (DuckDB SUM(BIGINT) is HUGEINT); the
    rate is one CAST-to-DOUBLE division prounded to 6."""
    return f"""
    WITH prc AS (
      SELECT source,
             len(regexp_extract_all(text, '{pii.EMAIL_RE}')) AS e,
             len(regexp_extract_all(text, '{pii.PHONE_RE}')) AS p,
             len(regexp_extract_all(text, '{pii.LONG_ID_RE}')) AS i
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(e) AS BIGINT) AS n_emails,
           CAST(SUM(p) AS BIGINT) AS n_phones,
           CAST(SUM(i) AS BIGINT) AS n_ids,
           COUNT(*) FILTER (e + p + i > 0) AS n_pii_docs,
           {o_pround("CAST(COUNT(*) FILTER (e + p + i > 0) AS DOUBLE)"
                     " / COUNT(*)", 6)} AS pii_doc_rate
    FROM prc GROUP BY source"""


def o_dup_token_rate_by_source() -> str:
    """DuckDB oracle twin of `llmdata.stats.dup_token_rate_by_source`
    (r14 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): groups identity on the
    text itself where the Spark side keys on sha2(text) to keep the
    shuffle digest-wide (the `dup_rate_by_source` convention —
    identical answers absent a SHA-256 collision); tokens are the
    shared TOKEN_RE count; the rate CASTs to DOUBLE before the pround
    product (the DECIMAL knife-edge trap)."""
    return f"""
    WITH dtk AS (
      SELECT source, text,
             len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}'))
               AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    dtg AS (
      SELECT source, text, COUNT(*) AS cnt, MIN(tok) AS tok
      FROM dtk GROUP BY source, text
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_with_text,
           CAST(SUM(cnt * tok) AS BIGINT) AS total_tokens,
           CAST(SUM((cnt - 1) * tok) AS BIGINT) AS dup_tokens,
           CASE WHEN SUM(cnt * tok) > 0 THEN
             {o_pround("CAST(SUM((cnt - 1) * tok) AS DOUBLE)"
                       " / SUM(cnt * tok)", 6)}
           END AS dup_token_rate
    FROM dtg GROUP BY source"""


def o_charclass_profile_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.charclass_profile_card`
    (r14 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): class counts as
    raw-length minus post-removal length (DuckDB regexp_replace needs
    the explicit 'g' flag Spark applies implicitly); the space class
    is ASCII whitespace [ \\t\\n\\r] (Java regex and RE2 both parse
    the escapes identically); both engines count length() in unicode
    code points, pinned by the pytest's accented fixture. Fractions
    are CAST-to-DOUBLE divisions prounded to 6, NULL for an all-empty
    source."""
    fr = lambda num: o_pround(f"CAST({num} AS DOUBLE) / SUM(n)", 6)  # noqa: E731
    guard = "CASE WHEN SUM(n) > 0 THEN {} END"
    return f"""
    WITH ccp AS (
      SELECT source, length(text) AS n,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
               AS al,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS dg,
             length(text)
               - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')) AS sp
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_chars,
           {guard.format(fr("SUM(al)"))} AS alpha_frac,
           {guard.format(fr("SUM(dg)"))} AS digit_frac,
           {guard.format(fr("SUM(sp)"))} AS space_frac,
           {guard.format(fr("SUM(n) - SUM(al) - SUM(dg) - SUM(sp)"))}
             AS other_frac
    FROM ccp GROUP BY source"""


def o_dup_similarity_histogram(threshold: float = 0.2) -> str:
    """DuckDB oracle twin of `llmdata.stats.dup_similarity_histogram`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the exact-Jaccard pair
    CTEs of the certified `dedup_ngram_jaccard` oracle with the low
    spectrum floor, then the knife-edge-free micro-jaccard integer
    binning (FLOOR(ratio * 1e6 + 0.5) is the pround numerator —
    recovering the exact integer both engines agree on — and // 100000
    is integer division)."""
    return f"""
    WITH {O_TRIH},
    {O_JPAIR},
    dsj AS (
      SELECT CAST(FLOOR((CAST(n_common AS DOUBLE)
                         / (sa.n + sb.n - n_common)) * 1000000 + 0.5)
                  AS BIGINT) AS je6
      FROM jpi JOIN jpsz sa ON sa.doc_id = d1
               JOIN jpsz sb ON sb.doc_id = d2
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
            >= {threshold}
    )
    SELECT je6 // 100000 AS jac_bin,
           CAST(je6 // 100000 AS DOUBLE) / CAST(10 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n_pairs
    FROM dsj GROUP BY 1, 2"""


def o_sentence_stats_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.sentence_stats_card` (r15
    registration queue — exercised by the dedicated Spark-vs-DuckDB
    parity pytest at two SFs): sentences are [.!?]+-split segments
    carrying any non-whitespace char (regexp_matches, the same RE2/
    Java-common class the Spark lambda rlikes); NULL text propagates
    NULL segment counts that SUM skips; averages are CAST-to-DOUBLE
    divisions prounded to 6."""
    return f"""
    WITH ssd AS (
      SELECT source,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                             s -> regexp_matches(s, '[^ \\t\\n\\r]')))
               AS ns,
             len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}'))
               AS tok
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COALESCE(CAST(SUM(ns) AS BIGINT), 0) AS n_sentences,
           {o_pround("CAST(COALESCE(SUM(ns), 0) AS DOUBLE) / COUNT(*)", 6)}
             AS avg_sentences_per_doc,
           CASE WHEN SUM(ns) > 0 THEN
             {o_pround("CAST(SUM(tok) AS DOUBLE) / SUM(ns)", 6)}
           END AS avg_tokens_per_sent
    FROM ssd GROUP BY source"""


def o_token_fertility_by_lang() -> str:
    """DuckDB oracle twin of `llmdata.stats.token_fertility_by_lang`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): replays the certified
    `lang_id_ngram` prediction (the shared generated _LSC/_LBEST/
    _LPRED fragments) with length(text) and the TOKEN_RE count carried
    through the same projection, then ONE group on the predicted
    language. NULL text rides the NULL-prediction row with NULL
    chars/tokens that SUM skips; the ratio is a CAST-to-DOUBLE
    division prounded to 6, NULL for a token-free language row."""
    return f"""
    WITH tfb AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, length(lower(text)) - 1),
                           i -> substr(lower(text), CAST(i AS INT), 2))) AS bg,
             length(text) AS nc,
             len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}')) AS tok
      FROM documents
    ), tfs AS (
      SELECT doc_id, nc, tok, {_LSC}
      FROM tfb
    ), tfsb AS (
      SELECT *, {_LBEST} AS best FROM tfs
    ), tfp AS (
      SELECT {_LPRED} AS pred_lang, nc, tok FROM tfsb
    )
    SELECT pred_lang,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS n_tokens,
           CASE WHEN SUM(tok) > 0 THEN
             {o_pround("CAST(SUM(nc) AS DOUBLE) / SUM(tok)", 6)}
           END AS chars_per_token
    FROM tfp GROUP BY pred_lang"""


def o_length_quality_joint_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.length_quality_joint_card`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the shared quality CTEs
    (the certified `quality_histogram` score definition) joined back
    to documents for the TOKEN_RE length count, the shared power-of-
    two bucket ladder, and the knife-edge-free quality tenth
    (FLOOR(q*1e6+0.5) recovers the pround numerator — the exact
    integer both engines agree on — and // 100000 is integer
    division). NULL-quality (NULL-text) docs are excluded; the share
    is one division over the bounded cell frame prounded to 6."""
    ladder, _ = o_length_bucket_ladder()
    return f"""
    WITH {_O_QUAL_CTES},
    lqn AS (
      SELECT q.doc_id, q.quality,
             len(regexp_extract_all(lower(d.text), '{textstats.TOKEN_RE}'))
               AS n
      FROM qual q JOIN documents d ON d.doc_id = q.doc_id
      WHERE q.quality IS NOT NULL
    ), lqb AS (
      SELECT CAST({ladder} AS INT) AS lo_tokens,
             CAST(FLOOR(quality * 1000000 + 0.5) AS BIGINT) // 100000
               AS q_bin
      FROM lqn
    ), lqc AS (
      SELECT lo_tokens, q_bin, COUNT(*) AS n_docs
      FROM lqb GROUP BY 1, 2
    )
    SELECT lo_tokens, q_bin,
           CAST(q_bin AS DOUBLE) / CAST(10 AS DOUBLE) AS q_lo,
           n_docs,
           {o_pround("CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER ()", 6)}
             AS share
    FROM lqc"""


def o_dup_ngram_coverage(n: int = 3) -> str:
    """DuckDB oracle twin of `llmdata.stats.dup_ngram_coverage`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the multiset n-gram
    extraction of `o_ngram_freq_spectrum` with doc_id/source carried,
    hashed with the shared o_hash56 so the per-(doc, gram) and
    per-gram counts key on exactly what the Spark side shuffles, then
    the duplicated-occurrence rollup (duplicated = the gram occurs in
    >= 2 distinct docs). Docs with fewer than n tokens (or NULL text)
    contribute nothing; the coverage ratio is a CAST-to-DOUBLE
    division prounded to 6."""
    return f"""
    WITH dct AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ), dcg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(toks) - {n} + 2),
                    i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram
      FROM dct WHERE len(toks) >= {n}
    ), dch AS (
      SELECT doc_id, source, {o_hash56('gram')} AS h FROM dcg
    ), dcp AS (
      SELECT doc_id, source, h, COUNT(*) AS occ FROM dch GROUP BY 1, 2, 3
    ), dcn AS (
      SELECT h, COUNT(*) AS nd FROM dcp GROUP BY h
    )
    SELECT source,
           CAST(SUM(occ) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN nd > 1 THEN occ ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           {o_pround("CAST(SUM(CASE WHEN nd > 1 THEN occ ELSE 0 END)"
                     " AS DOUBLE) / SUM(occ)", 6)} AS dup_coverage
    FROM dcp JOIN dcn USING (h) GROUP BY source"""


def _o_cell_assign(n_centroids: int) -> str:
    """Shared oracle CTE chain for the IVF cell-assignment family
    (`cluster_profile` and the r15 `cluster_balanced_sample`
    actuator): decimal-exact dots against the first-K centroids,
    cosine via the shared norms, ties toward the lower centroid id.
    Yields `cpa(vec_id, cell, cr, label)`. One definition so the
    assignment rule can never drift between the read and the write."""
    return f"""cpd AS (
      SELECT v.vec_id, c.vec_id AS ccid,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < {n_centroids}
      GROUP BY 1, 2
    ),
    cpc AS (
      SELECT cpd.vec_id, ccid, dot / (nv.nrm * nc.nrm) AS c
      FROM cpd JOIN norms nv ON nv.vec_id = cpd.vec_id
               JOIN norms nc ON nc.vec_id = ccid
    ),
    cpr AS (
      SELECT vec_id, ccid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY c DESC, ccid) AS rn
      FROM cpc
    ),
    cpa AS (
      SELECT r.vec_id, CAST(r.ccid AS INT) AS cell,
             FLOOR(r.c * 1000000 + 0.5) / 1000000 AS cr, e.label
      FROM cpr r JOIN embeddings e ON e.vec_id = r.vec_id
      WHERE r.rn = 1
    )"""


def o_cluster_profile(n_centroids: int = 8) -> str:
    """DuckDB oracle twin of `llmdata.simsearch.cluster_profile`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the certified
    `sim_ann_ivf` assignment CTEs (decimal-exact dots, first-K
    centroids, ties toward the lower centroid id), the per-row cosine
    prounded to 6 BEFORE the exact DECIMAL(18,6) mean (order-free
    summation on both engines), the modal label by (count DESC, label
    ASC NULLS LAST), and bounded-frame share divisions prounded to
    6."""
    return f"""
    WITH {O_ELEMS},
    {_o_cell_assign(n_centroids)},
    cpb AS (
      SELECT cell, COUNT(*) AS n_members,
             {o_pround("CAST(SUM(CAST(cr AS DECIMAL(18,6))) AS DOUBLE)"
                       " / COUNT(*)", 6)} AS avg_cos
      FROM cpa GROUP BY cell
    ),
    cpl AS (
      SELECT cell, label, COUNT(*) AS n_lab FROM cpa GROUP BY 1, 2
    ),
    cpm AS (
      SELECT cell, label AS modal_label, n_lab,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY n_lab DESC,
                                         label ASC NULLS LAST) AS rn
      FROM cpl
    )
    SELECT b.cell, b.n_members,
           {o_pround("CAST(b.n_members AS DOUBLE)"
                     " / SUM(b.n_members) OVER ()", 6)} AS share,
           b.avg_cos, m.modal_label,
           {o_pround("CAST(m.n_lab AS DOUBLE) / b.n_members", 6)}
             AS modal_share
    FROM cpb b JOIN cpm m ON m.cell = b.cell AND m.rn = 1"""


def o_source_vocab_cosine_matrix() -> str:
    """DuckDB oracle twin of `llmdata.stats.source_vocab_cosine_matrix`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): whitespace-lowercase
    token counts per source as DECIMAL(19,0) so the dot products and
    squared norms are EXACT DECIMAL(38,0) integer sums on both
    engines (order-free), with the sqrt and the final division in
    correctly-rounded double, prounded to 6. NULL-source docs are
    excluded; zero-overlap pairs have no row."""
    return f"""
    WITH svt AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ), svc AS (
      SELECT source, token, CAST(COUNT(*) AS DECIMAL(19,0)) AS cnt
      FROM svt GROUP BY 1, 2
    ), svn AS (
      SELECT source, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm
      FROM svc GROUP BY source
    ), svd AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared_types,
             SUM(a.cnt * b.cnt) AS dot
      FROM svc a JOIN svc b ON b.token = a.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared_types,
           {o_pround("CAST(dot AS DOUBLE) / (na.nrm * nb.nrm)", 6)}
             AS cosine
    FROM svd JOIN svn na ON na.source = svd.source_a
             JOIN svn nb ON nb.source = svd.source_b"""


def o_truncation_loss_card(max_len: int = 512) -> str:
    """DuckDB oracle twin of `llmdata.stats.truncation_loss_card`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the TOKEN_RE count per
    text-bearing doc, per-source integer sums of the over-limit flag
    and the clipped excess, and CAST-to-DOUBLE rate divisions prounded
    to 6 (loss rate NULL for an all-empty source)."""
    return f"""
    WITH tlc AS (
      SELECT source,
             len(regexp_extract_all(lower(text), '{textstats.TOKEN_RE}'))
               AS tok
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok > {max_len} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(SUM(GREATEST(tok - {max_len}, 0)) AS BIGINT) AS tokens_lost,
           {o_pround("CAST(SUM(CASE WHEN tok > " + str(max_len)
                     + " THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
             AS trunc_rate,
           CASE WHEN SUM(tok) > 0 THEN
             {o_pround("CAST(SUM(GREATEST(tok - " + str(max_len)
                       + ", 0)) AS DOUBLE) / SUM(tok)", 6)}
           END AS loss_rate
    FROM tlc GROUP BY source"""


def o_source_signature_terms(k: int = 10, min_cnt: int = 2) -> str:
    """DuckDB oracle twin of `llmdata.stats.source_signature_terms`
    (r15 registration queue — exercised by the dedicated
    Spark-vs-DuckDB parity pytest at two SFs): the same whitespace-
    lowercase (source, token) counts, the lift as two exact
    integer-valued DOUBLE products and one division (bit-identical
    IEEE ops — no logarithm), rank by (lift DESC, token ASC) per
    source, prounded to 6 on the output edge only (ranking runs on the
    raw double, identical on both engines)."""
    return f"""
    WITH sst AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ), ssc AS (
      SELECT source, token, COUNT(*) AS cnt FROM sst GROUP BY 1, 2
    ), ssn AS (
      SELECT source, SUM(cnt) AS n_s FROM ssc GROUP BY source
    ), ssv AS (
      SELECT token, SUM(cnt) AS cnt_t FROM ssc GROUP BY token
    ), ssg AS (SELECT SUM(cnt) AS n_total FROM ssc),
    ssl AS (
      SELECT c.source, c.token, c.cnt,
             (CAST(c.cnt AS DOUBLE) * g.n_total)
               / (CAST(n.n_s AS DOUBLE) * v.cnt_t) AS lift_raw
      FROM ssc c
      JOIN ssv v ON v.token = c.token
      JOIN ssn n ON n.source = c.source
      CROSS JOIN ssg g
      WHERE c.cnt >= {min_cnt}
    ), ssr AS (
      SELECT source, token, cnt, lift_raw,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY lift_raw DESC, token ASC) AS rank
      FROM ssl
    )
    SELECT source, CAST(rank AS INT) AS rank, token, CAST(cnt AS BIGINT) AS cnt,
           {o_pround("lift_raw", 6)} AS lift
    FROM ssr WHERE rank <= {k}"""


def o_mm_usability_card(dim: int = 16) -> str:
    """DuckDB oracle twin of `llmdata.multimodal.usability_card` over
    `feature_table` (r16 registration queue — exercised by the
    dedicated Spark-vs-DuckDB parity pytest at two SFs): the shared
    feature CTEs classify each doc as NULL-vector (no grid row — NULL
    payload), zero-vector (max normalized bin = 0 — empty payload) or
    usable, then ONE rollup on the bounded format key; histogram
    values are never negative, so nonzero <=> max > 0."""
    return _feature_ctes(dim) + f""",
    mmu AS (SELECT gid, MAX(val) AS mx FROM v GROUP BY gid)
    SELECT fb.fmt,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN mmu.gid IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_vec,
           CAST(SUM(CASE WHEN mmu.mx = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_vec,
           CAST(SUM(CASE WHEN mmu.mx > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_usable,
           {o_pround("CAST(SUM(CASE WHEN mmu.mx > 0 THEN 1 ELSE 0 END)"
                     " AS DOUBLE) / COUNT(*)", 6)} AS usable_rate
    FROM fb LEFT JOIN mmu ON mmu.gid = fb.doc_id
    GROUP BY fb.fmt"""


# ---------------------------------------------------------------------------
# r14 registrations: the corpus-QA / dedup-evidence card queue built r13.
# Every entry below was library-complete with a planted-fixture pytest, a
# two-SF real-table parity dry-run, a plan audit, and a hypothesis
# python-reference oracle triangulation BEFORE registration — these
# wrappers only convert finished capability into driver-certified rows.
# ---------------------------------------------------------------------------


@query("pii_rate_by_source", oracle=o_pii_rate_by_source())
def pii_rate_by_source_q(spark, sf_dir):
    """Per-source PII incidence (registered r14 from the r13 queue):
    per-category match totals for the certified `pii_mask_regex` trio
    counted on the ORIGINAL text, plus any-match doc counts and rate —
    the pre-scrub dirtiness read and the post-release audit number.
    One codegen'd projection -> ONE map-side-combinable aggregate on
    the bounded source key; no join, no window, no Python."""
    return stats.pii_rate_by_source(load(spark, sf_dir, "documents"))


@query("pii_card_stream_fold", oracle=o_pii_rate_by_source())
def pii_card_stream_fold_q(spark, sf_dir):
    """Batch twin of the PII stream (`_stream_fold`)."""
    return _stream_fold(CARDS["pii"], load(spark, sf_dir, "documents"))


@query("dup_token_rate_by_source", oracle=o_dup_token_rate_by_source())
def dup_token_rate_by_source_q(spark, sf_dir):
    """Token-weighted exact-duplication cost per source (registered
    r14 from the r13 queue): tokens spent on EXCESS copies — the
    budget number the doc-weighted `dup_rate_by_source` cannot give,
    because mixture weights budget in tokens and a source's longest
    docs duplicating wastes more than its doc rate suggests.
    Two-phase (source, sha2-digest) aggregate; the shuffle carries a
    digest + two ints, never the document body."""
    return stats.dup_token_rate_by_source(load(spark, sf_dir, "documents"))


@query("charclass_profile_card", oracle=o_charclass_profile_card())
def charclass_profile_card_q(spark, sf_dir):
    """Character-class composition per source (registered r14 from the
    r13 queue): alpha/digit/space/other fractions from ONE scan — the
    encoding-health read that catches mojibake, markup residue and
    digit dumps before any tokenizer sees them. Counts are raw-length
    minus post-removal length (exact integer arithmetic, no per-char
    explode); ONE map-side-combinable aggregate."""
    return stats.charclass_profile_card(load(spark, sf_dir, "documents"))


@query("dup_similarity_histogram", oracle=o_dup_similarity_histogram(0.2))
def dup_similarity_histogram_q(spark, sf_dir):
    """Near-dup similarity spectrum (registered r14, pulled forward
    from the r15 queue): exact 3-gram Jaccard pairs above a low floor
    bucketed into tenths — the threshold-tuning evidence a dedup
    rollout reads before committing a cutoff. Rides the certified
    exact-Jaccard operator's stop-shingle-filtered single-shuffle
    index (pairs from shared surviving shingles only, fan-out bounded
    by the df cutoff) + ONE bounded aggregate; binning is
    knife-edge-free integer micro-jaccard."""
    return stats.dup_similarity_histogram(
        load(spark, sf_dir, "documents"), threshold=0.2
    )


@query("sentence_stats_card", oracle=o_sentence_stats_card())
def sentence_stats_card_q(spark, sf_dir):
    """Per-source sentence-shape card (registered r14, pulled forward
    from the r15 queue): sentence counts ([.!?]+ segments carrying
    non-whitespace), sentences/doc, tokens/sentence — separates prose
    from logs/tables/code walls and sizes context windows in
    sentences. One projection -> ONE map-side-combinable aggregate."""
    return stats.sentence_stats_card(load(spark, sf_dir, "documents"))


@query("charclass_card_stream_fold", oracle=o_charclass_profile_card())
def charclass_card_stream_fold_q(spark, sf_dir):
    """Batch twin of the charclass stream (`_stream_fold`)."""
    return _stream_fold(CARDS["charclass"], load(spark, sf_dir, "documents"))


@query("token_fertility_by_lang", oracle=o_token_fertility_by_lang())
def token_fertility_by_lang_q(spark, sf_dir):
    """Tokenizer fertility (chars/token) per predicted language
    (registered r14, pulled forward from the r15 queue): the read that
    catches an English-trained tokenizer fragmenting other languages,
    silently skewing token-denominated mixture weights. Lang-ID keep=
    carries text through (no re-join); ONE aggregate on the bounded
    #profiles+1 key."""
    return stats.token_fertility_by_lang(load(spark, sf_dir, "documents"))


@query("token_fertility_stream_fold", oracle=o_token_fertility_by_lang())
def token_fertility_stream_fold_q(spark, sf_dir):
    """Batch twin of the fertility stream (`_stream_fold`): the lang-ID
    projection runs per batch, as the stream's does."""
    return _stream_fold(CARDS["fertility"], load(spark, sf_dir, "documents"))


@query("length_quality_joint_card", oracle=o_length_quality_joint_card())
def length_quality_joint_card_q(spark, sf_dir):
    """Joint length x quality distribution (registered r14, pulled
    forward from the r15 queue): doc counts per (pow-2 length bucket,
    quality tenth) cell — the 2-D read the marginal cards can't give
    (a fat long-but-junk corner means a global gate still packs junk
    into every context window). ONE aggregate on a bounded <=26x11
    key; share window over that bounded frame only."""
    return stats.length_quality_joint_card(load(spark, sf_dir, "documents"))


@query("dup_ngram_coverage", oracle=o_dup_ngram_coverage(3))
def dup_ngram_coverage_q(spark, sf_dir):
    """Duplicated n-gram coverage per source (registered r14, pulled
    forward from the r15 queue): the fraction of each source's 3-gram
    OCCURRENCES also appearing in some OTHER doc — the
    span-granularity dedup signal (Lee et al. 2022) doc-level cards
    miss; same-doc repetition excluded (the gopher card's signal).
    Explode -> per-(doc, 56-bit digest) counts -> per-digest doc
    counts -> equi-join of two PRE-AGGREGATED frames (hot grams are
    one row on the count side — no skew amplification) -> one source
    rollup."""
    return stats.dup_ngram_coverage(load(spark, sf_dir, "documents"), n=3)


@query("source_vocab_cosine_matrix", oracle=o_source_vocab_cosine_matrix())
def source_vocab_cosine_matrix_q(spark, sf_dir):
    """Inter-source lexical cosine (registered r14, pulled forward
    from the r15 queue): pairwise cosine between per-source
    token-count vectors — catches two sources that are the SAME corpus
    (mirror, re-crawl) when no individual document duplicates.
    Raw-count cosine is scale-invariant; dot/norm numerators are exact
    DECIMAL(38,0) integer sums (order-free); vocabulary-bounded counts
    + inverted-index join with per-token fan-out <= #sources^2 +
    broadcast norm joins."""
    return stats.source_vocab_cosine_matrix(load(spark, sf_dir, "documents"))


@query("truncation_loss_card", oracle=o_truncation_loss_card(64))
def truncation_loss_card_q(spark, sf_dir):
    """Truncation-loss card (registered r14, pulled forward from the
    r15 queue): per source, the token mass a fixed max-sequence-length
    cut would DISCARD — what a candidate context length actually
    costs, because one 100k-token doc loses more than a thousand
    600-token docs. max_len=64 here so the cut bites the fixture
    corpus (the production default 512 exceeds every testdata doc —
    the two-SF dry-run pytest pins the same choice). One projection ->
    ONE map-side-combinable aggregate."""
    return stats.truncation_loss_card(
        load(spark, sf_dir, "documents"), max_len=64
    )


@query("truncation_card_stream_fold", oracle=o_truncation_loss_card(64))
def truncation_card_stream_fold_q(spark, sf_dir):
    """Batch twin of the truncation stream (`_stream_fold`) at the
    FIXED max_len=64 the batch card pins — max_len is part of the
    state's identity, matching the stream's `_guard_card_params`
    contract."""
    return _stream_fold(
        CARDS["truncation"], load(spark, sf_dir, "documents"), max_len=64
    )


@query("source_signature_terms", oracle=o_source_signature_terms())
def source_signature_terms_q(spark, sf_dir):
    """Characteristic terms per source (registered r14, pulled forward
    from the r15 queue): top-k tokens by relative-frequency LIFT
    (share in source / share in corpus) — the 'what is this source
    about' dataset-card row. Lift, not TF-IDF: two exact
    integer-valued double products + one division, bit-identical IEEE
    on both engines, no ln() rounding hazard. Vocabulary-bounded
    counts, token-keyed join with fan-out <= #sources, broadcast
    totals, salted two-phase per-source top-k (no partition holds a
    source's full vocabulary); equal-lift ties break token-ASC."""
    return stats.source_signature_terms(load(spark, sf_dir, "documents"))


@query("cluster_profile", oracle=o_cluster_profile(8))
def cluster_profile_q(spark, sf_dir):
    """Embedding-cluster composition card (registered r14, pulled
    forward from the r15 queue): per IVF cell — population, share,
    mean cosine-to-centroid (coherence) and modal-label purity — the
    topic-balance read before cluster reweighting and the sanity check
    before trusting semantic dedup inside a cell. Shares
    `_cell_scores_sql` with the certified IVF assignment (reported
    cosine can never drift from the assignment); exact-decimal mean of
    prounded cosines (order-free); broadcast centroid literals;
    bounded aggregates/windows only."""
    return simsearch.cluster_profile(load(spark, sf_dir, "embeddings"))


_CELLMIX_TARGET = 120


def o_cluster_balanced_sample(
    n_centroids: int = 8, target_total: int = _CELLMIX_TARGET
) -> str:
    """DuckDB oracle twin of `simsearch.cluster_balanced_sample` with
    the uniform (alpha=None) target: the shared cell-assignment CTEs
    (`_o_cell_assign` — identical to `cluster_profile`'s), per-cell
    counts, the exact `mixture_rates` integer/IEEE chain with weight 1
    per occupied cell ((target * 1) / n_cells quota, LEAST-capped
    rate, FLOOR to buckets), and the shared salted-md5 bucket keep
    rule — every decision bit-reproduced."""
    return f"""
    WITH {O_ELEMS},
    {_o_cell_assign(n_centroids)},
    ccc AS (SELECT cell, COUNT(*) AS n,
                   COUNT(*) OVER () AS n_cells FROM cpa GROUP BY cell),
    cthr AS (
      SELECT cell,
             CAST(FLOOR(LEAST(1.0,
                    (CAST({target_total} AS DOUBLE) * 1 / n_cells) / n)
                  * {sampling.BUCKETS}) AS BIGINT) AS t
      FROM ccc
    ),
    ckept AS (
      SELECT a.cell FROM cpa a JOIN cthr ON cthr.cell = a.cell
      WHERE {sampling.o_bucket("a.vec_id", "cellmix-v1")} < cthr.t
    )
    SELECT cell, COUNT(*) AS n_kept FROM ckept GROUP BY cell"""


@query(
    "cluster_balanced_sample",
    oracle=o_cluster_balanced_sample(8, _CELLMIX_TARGET),
)
def cluster_balanced_sample_q(spark, sf_dir):
    """Cluster-balanced reweighting (new r15 — the actuator
    `cluster_profile` reads for): downsample the embeddings corpus to
    ~120 vectors with a UNIFORM per-cell quota, flattening topic-
    cluster skew before mixture assembly. Assignment is the certified
    IVF rule (shared `_cell_scores_sql`); the keep decision is the
    shared salted-bucket threshold, so the whole chain is
    deterministic. ONE broadcast-literal scan + bounded count collect
    + literal-CASE filter — no join, the `mixture_sample` plan family
    (`llmdata/simsearch.py:cluster_balanced_sample`). Output: kept
    docs per cell."""
    kept = simsearch.cluster_balanced_sample(
        load(spark, sf_dir, "embeddings"), target_total=_CELLMIX_TARGET
    )
    return kept.groupBy("cell").agg(F.count(F.lit(1)).alias("n_kept"))


_BALANCED_TARGET = 150


def o_corpus_assembly_balanced(
    n_centroids: int = 8, target_total: int = _BALANCED_TARGET
) -> str:
    """DuckDB oracle twin of `corpus_assembly_balanced`: the certified
    exact-dedup canon + quality-gate CTEs (the `corpus_assembly_full`
    fragments), the shared cell-assignment CTEs over the FULL
    embeddings (centroid rule independent of the gates), counts and
    the `mixture_rates` uniform-quota chain over the SURVIVORS, the
    shared salted-bucket keep rule, and a (cell, source) rollup."""
    return f"""
    WITH {_O_QUAL_CTES},
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM documents
      GROUP BY {dedup.o_exact_group_key()}
    ),
    kept AS (
      SELECT d.doc_id FROM documents d
      JOIN canon USING (doc_id)
      JOIN qual q ON q.doc_id = d.doc_id
      WHERE q.quality >= {QUALITY_MIN}
    ),
    {O_ELEMS},
    {_o_cell_assign(n_centroids)},
    fcp AS (
      SELECT a.vec_id, a.cell FROM cpa a JOIN kept k ON k.doc_id = a.vec_id
    ),
    ccc AS (SELECT cell, COUNT(*) AS n,
                   COUNT(*) OVER () AS n_cells FROM fcp GROUP BY cell),
    cthr AS (
      SELECT cell,
             CAST(FLOOR(LEAST(1.0,
                    (CAST({target_total} AS DOUBLE) * 1 / n_cells) / n)
                  * {sampling.BUCKETS}) AS BIGINT) AS t
      FROM ccc
    ),
    ckept AS (
      SELECT f.vec_id, f.cell FROM fcp f JOIN cthr USING (cell)
      WHERE {sampling.o_bucket("f.vec_id", "cellmix-v1")} < cthr.t
    )
    SELECT k2.cell, d.source, COUNT(*) AS n_kept
    FROM ckept k2 JOIN documents d ON d.doc_id = k2.vec_id
    GROUP BY 1, 2"""


@query(
    "corpus_assembly_balanced",
    oracle=o_corpus_assembly_balanced(8, _BALANCED_TARGET),
)
def corpus_assembly_balanced(spark, sf_dir):
    """Topic-balanced corpus assembly (new r15): the curation loop
    closed end-to-end — canonical exact-dedup + quality gate select
    the survivors, then `cluster_balanced_sample` flattens their
    topic-cell distribution to a uniform per-cell quota (centroids
    resolved from the FULL embeddings so the cell geometry is stable
    run-over-run), reported as the (cell, source) mixture the balanced
    corpus actually ships. Composition of three certified stages:
    gate joins are doc-keyed semi-joins, assignment one
    broadcast-literal scan, quotas a bounded collect + literal-CASE
    filter (`llmdata/simsearch.py:cluster_balanced_sample` keep=)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    canon = dedup.exact_dup_groups(docs).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    qual = textstats.quality_scores(docs).select("doc_id", "quality")
    kept = (
        docs.select("doc_id")
        .join(canon, "doc_id", "left_semi")
        .join(qual, "doc_id")
        .where(F.col("quality") >= QUALITY_MIN)
        .select(F.col("doc_id").alias("vec_id"))
    )
    balanced = simsearch.cluster_balanced_sample(
        emb, target_total=_BALANCED_TARGET, keep=kept
    )
    return (
        balanced.join(
            docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
        )
        .groupBy("cell", "source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


def o_mixture_cluster_share(target: int, n_centroids: int = 8,
                            salt: str = "cellsrc-v1") -> str:
    """DuckDB oracle twin of `llmdata.simsearch.cluster_share_mixture`:
    the certified `_o_cell_assign` CTEs, per-cell shares prounded to 6,
    the per-source exact-decimal mean of member cell shares, integer
    micro-unit weights (Σw exact), the `mixture_rates` threshold chain
    as the same IEEE expression tree, and the shared salted-bucket
    keep filter."""
    return f"""
    WITH {O_ELEMS},
    {_o_cell_assign(n_centroids)},
    msn AS (SELECT cell, COUNT(*) AS n FROM cpa GROUP BY cell),
    mst AS (SELECT SUM(n) AS total FROM msn),
    mss AS (
      SELECT cell,
             FLOOR(CAST(n AS DOUBLE) / (SELECT total FROM mst)
                   * 1000000 + 0.5) / 1000000 AS share
      FROM msn
    ),
    msa AS (
      SELECT d.source, d.doc_id, s.share
      FROM documents d
      JOIN cpa a ON a.vec_id = d.doc_id
      JOIN mss s ON s.cell = a.cell
    ),
    msrc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             {o_pround("CAST(SUM(CAST(share AS DECIMAL(18,6))) AS DOUBLE)"
                       " / COUNT(*)", 6)} AS avg_cell_share
      FROM msa GROUP BY source
    ),
    msw AS (
      SELECT source, n_docs, avg_cell_share,
             CAST(FLOOR((1.0 / avg_cell_share) * 1000000 + 0.5) AS BIGINT)
               AS w
      FROM msrc
    ),
    mswt AS (SELECT SUM(w) AS wsum FROM msw),
    msthr AS (
      SELECT source, n_docs, avg_cell_share,
             CAST(FLOOR(LEAST(1.0,
                 CAST({target} * w AS DOUBLE)
                   / (SELECT wsum FROM mswt) / n_docs)
               * {sampling.BUCKETS}) AS BIGINT) AS t
      FROM msw
    ),
    mskept AS (
      SELECT d.source FROM documents d
      JOIN msthr t ON t.source = d.source
      WHERE {sampling.o_bucket('d.doc_id', salt)} < t.t
    ),
    msk AS (SELECT source, COUNT(*) AS n_kept FROM mskept GROUP BY source)
    SELECT c.source, c.n_docs, c.avg_cell_share,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM msthr c LEFT JOIN msk k ON k.source = c.source"""


@query("mixture_cluster_share", oracle=o_mixture_cluster_share(_MIX_TARGET))
def mixture_cluster_share(spark, sf_dir):
    """Reweight -> mixture closed at the SOURCE grain (new r16, the
    r15 plan's candidate): per-source mixture weights DERIVED from
    topic-cell shares — a source concentrated in over-represented
    cells is downweighted, one living in rare cells upweighted — then
    the standard quota/bucket-threshold sample, reported as the
    (source, n_docs, avg_cell_share, n_kept) mixture card. One
    broadcast-centroid scan reduced to the narrow (id, cell) frame,
    bounded collects, literal-CASE share attach and keep filter
    (`llmdata/simsearch.py:cluster_share_mixture`)."""
    return simsearch.cluster_share_mixture(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        target_total=_MIX_TARGET,
    )


def _pinned_mix_centroids(emb) -> list:
    """The mixture card's 8 centroids, pinned from the full embeddings
    as literals (bit-identical to the data-derived rule)."""
    cent_arrs, _ = simsearch._resolve_centroids(
        emb, None, 8, "vec_id", "embedding"
    )
    return [cent_arrs[i] for i in sorted(cent_arrs)]


@query(
    "mixture_cluster_share_fold", oracle=o_mixture_cluster_share(_MIX_TARGET)
)
def mixture_cluster_share_fold(spark, sf_dir):
    """Incremental twin of `mixture_cluster_share` (new r16 — the
    card-stream fold pattern applied to the mixture family): docs AND
    vectors split into three micro-batches (`_stream_fold` with
    ``emb``), each batch assigned under centroids PINNED from the full
    embeddings (the fixed-geometry contract incremental drops require
    — pinned literals are bit-identical to the data-derived rule, the
    decimal-norm replica), the two ADDITIVE states — per-cell vector
    counts and the (source, cell) occupancy matrix — each folded, and
    the card finished from the folded state alone
    (`cluster_share_mixture_from_state`: O(#sources x #cells) driver
    math + the keep filter; no vector re-scan)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    cents = _pinned_mix_centroids(emb)
    cells = _stream_fold(AdditiveCard(
        lambda _docs_b, emb_b: simsearch.cluster_cell_counts(
            emb_b, centroids=cents
        ),
        ("cell",), ("n_vecs",), lambda folded: folded,
    ), docs, emb)
    return _stream_fold(AdditiveCard(
        lambda docs_b, emb_b: simsearch.cluster_source_cell_matrix(
            docs_b, emb_b, centroids=cents
        ),
        ("source", "cell"), ("n_docs",),
        lambda matrix: simsearch.cluster_share_mixture_from_state(
            docs, cells, matrix, _MIX_TARGET
        ),
    ), docs, emb)


@query(
    "mixture_cluster_share_state_card",
    oracle=o_mixture_cluster_share(_MIX_TARGET),
)
def mixture_cluster_share_state_card(spark, sf_dir):
    """The card-stream state lifecycle of the mixture family (the r17
    plan's remaining on-disk item, certified batch-side): docs and
    vectors split into three micro-batches (`_stream_fold` with
    ``emb``), each batch reduced to the single-log three-grain
    additive delta (`simsearch.cluster_share_state_delta`: per-cell
    vector counts + (source, cell) occupancy + the (source,
    keep-bucket) histogram, ONE shared assignment pass under centroids
    pinned from the full embeddings), and the card finished from the
    folded state ALONE (`cluster_share_card_from_state_log`). Unlike
    `mixture_cluster_share_fold`, even n_kept comes from the folded
    bucket histogram — Σ_{b<t_s} hist(s, b) — so the finish touches
    zero corpus rows; hash-matching the batch card's unchanged oracle
    certifies that the histogram IS the keep filter, bit-for-bit.
    This is exactly the state `cluster_share_card_stream` maintains
    on disk per micro-batch."""
    emb = load(spark, sf_dir, "embeddings")
    cents = _pinned_mix_centroids(emb)
    return _stream_fold(AdditiveCard(
        lambda docs_b, emb_b: simsearch.cluster_share_state_delta(
            docs_b, emb_b, centroids=cents
        ),
        ("grain", "source", "cell"), ("n",),
        lambda log: simsearch.cluster_share_card_from_state_log(
            log, _MIX_TARGET
        ),
    ), load(spark, sf_dir, "documents"), emb)


@query("mm_usability_card", oracle=o_mm_usability_card(16))
def mm_usability_card_q(spark, sf_dir):
    """Multimodal payload-usability card (registered r14, pulled
    forward from the r16 queue): per format, how much of the corpus
    carries a usable feature vector — NULL vectors (NULL payloads:
    ingest defects) and zero vectors (empty payloads: placeholder
    producers) broken out separately; the go/no-go read before the
    embedding dedup/ANN operators whose usable_features gate silently
    drops exactly these rows. One classification over the Arrow kernel
    (mapInPandas, the only Python boundary) -> ONE aggregate on the
    bounded format key."""
    feats = multimodal.feature_table(load(spark, sf_dir, "documents"), dim=16)
    return multimodal.usability_card(feats)


# ---------------------------------------------------------------------------
# r14 new builds (beyond the drained queue): mixture concentration,
# boilerplate identification, and the decontamination release audit.
# ---------------------------------------------------------------------------


# Shared oracle CTE chain for the source-concentration family
# (`source_concentration_card`, the stream-fold twin, and the dataset
# card's certified totals): per-source doc/token counts (scp), exact
# DECIMAL HHI numerators (sct), the dominant source by the (tokens
# desc, docs desc, source ASC NULLS LAST) total order (sck). One
# definition so the token convention / tie-break can never drift
# between the card and its presentation twins.
O_CONC_CTES = f"""scp AS (
      SELECT source, COUNT(*) AS nd,
             CAST(COALESCE(SUM(len(regexp_extract_all(lower(text),
                  '{textstats.TOKEN_RE}'))), 0) AS BIGINT) AS nt
      FROM documents GROUP BY source
    ),
    sct AS (
      SELECT COUNT(*) AS n_sources,
             CAST(SUM(nd) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS n_tokens,
             SUM(CAST(nd AS DECIMAL(19,0)) * CAST(nd AS DECIMAL(19,0)))
               AS d2,
             SUM(CAST(nt AS DECIMAL(19,0)) * CAST(nt AS DECIMAL(19,0)))
               AS t2
      FROM scp
    ),
    sck AS (
      SELECT source AS top_source, nd AS top_d, nt AS top_t FROM scp
      ORDER BY nt DESC, nd DESC, source ASC NULLS LAST LIMIT 1
    )"""


def o_source_concentration_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.source_concentration_card`:
    per-source doc/token counts (the shared TOKEN_RE convention,
    NULL-text SUM-skipped then COALESCEd to 0), HHI numerators as exact
    DECIMAL(19,0)xDECIMAL(19,0) -> DECIMAL(38,0) sums (order-free), the
    normalizations as double products/divisions expressed identically
    on both engines (bit-identical IEEE), and the dominant source cut
    by the same (tokens desc, docs desc, source ASC NULLS LAST) total
    order."""
    return f"""
    WITH {O_CONC_CTES}
    SELECT n_sources, n_docs, n_tokens,
           {o_pround("CAST(d2 AS DOUBLE) / (CAST(n_docs AS DOUBLE)"
                     " * CAST(n_docs AS DOUBLE))", 6)} AS doc_hhi,
           CASE WHEN n_tokens > 0 THEN
             {o_pround("CAST(t2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)"
                       " * CAST(n_tokens AS DOUBLE))", 6)}
           END AS token_hhi,
           top_source,
           {o_pround("CAST(top_d AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)}
             AS top_doc_share,
           CASE WHEN n_tokens > 0 THEN
             {o_pround("CAST(top_t AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)}
           END AS top_token_share
    FROM sct CROSS JOIN sck"""


def o_boilerplate_ngrams_topk(k: int = 20, n: int = 3) -> str:
    """DuckDB oracle twin of `llmdata.stats.boilerplate_ngrams_topk`:
    the multiset gram CTEs of `o_dup_ngram_coverage` WITHOUT the hash
    (the gram STRING is the deliverable here), the same skew-safe
    per-(doc, gram) pre-aggregate, and the (docs desc, occurrences
    desc, gram ASC) total-order top-k cut."""
    return f"""
    WITH bct AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ), bcg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - {n} + 2),
                    i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram
      FROM bct WHERE len(toks) >= {n}
    ), bcp AS (
      SELECT doc_id, gram, COUNT(*) AS occ FROM bcg GROUP BY 1, 2
    ), bcr AS (
      SELECT gram, COUNT(*) AS n_docs, SUM(occ) AS n_occ
      FROM bcp GROUP BY gram
    ), bck AS (
      SELECT gram, n_docs, n_occ,
             ROW_NUMBER() OVER (ORDER BY n_docs DESC, n_occ DESC,
                                gram ASC) AS rank
      FROM bcr
    )
    SELECT CAST(rank AS INT) AS rank, gram,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_occ AS BIGINT) AS n_occurrences
    FROM bck WHERE rank <= {k}"""


def o_decontam_rate_by_source() -> str:
    """DuckDB oracle twin of `llmdata.decontam.decontam_rate_by_source`
    at the registry split (eval = every 20th doc): the exact-rung CTEs
    of `decontaminate_ngram` + the fuzzy-rung CTEs of
    `decontaminate_fuzzy` verbatim, rolled up per corpus source."""
    anyflag = ("CASE WHEN COALESCE(h.n_overlap, 0) >= 1"
               " OR COALESCE(f.n_matches, 0) >= 1 THEN 1 ELSE 0 END")
    return f"""
    WITH {O_TRIH}, {O_FIVE},
    bench AS (SELECT DISTINCT shingle FROM five WHERE doc_id % 20 = 0),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_overlap
      FROM five JOIN bench USING (shingle)
      WHERE doc_id % 20 != 0 GROUP BY doc_id
    ),
    {_o_minhash_sigs("cand0")},
    fcand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
      WHERE x.doc_id % 20 != 0 AND y.doc_id % 20 = 0
    ),
    fsizes AS (SELECT doc_id, COUNT(*) AS n FROM trih GROUP BY doc_id),
    finter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
      FROM trih a JOIN trih b ON a.h = b.h
      WHERE a.doc_id % 20 != 0 AND b.doc_id % 20 = 0
      GROUP BY 1, 2
    ),
    fver AS (
      SELECT d1 FROM finter JOIN fcand USING (d1, d2)
      JOIN fsizes sa ON sa.doc_id = d1 JOIN fsizes sb ON sb.doc_id = d2
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    ),
    fagg AS (SELECT d1, COUNT(*) AS n_matches FROM fver GROUP BY d1)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN COALESCE(h.n_overlap, 0) >= 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hit,
           CAST(SUM(CASE WHEN COALESCE(f.n_matches, 0) >= 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy_hit,
           CAST(SUM({anyflag}) AS BIGINT) AS n_flagged,
           {o_pround(f"CAST(SUM({anyflag}) AS DOUBLE) / COUNT(*)", 6)}
             AS contamination_rate
    FROM documents d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    LEFT JOIN fagg f ON f.d1 = d.doc_id
    WHERE d.doc_id % 20 != 0
    GROUP BY d.source"""


@query("source_concentration_card", oracle=o_source_concentration_card())
def source_concentration_card_q(spark, sf_dir):
    """Mixture-concentration card (new r14): one row — source-bucket
    count, doc/token totals, doc- and token-share HHI, and the
    dominant source with both shares. The first read on any proposed
    mixture: token HHI far above doc HHI means long documents
    concentrate the actual training signal. HHI, not entropy, so every
    numerator is an exact order-free DECIMAL(38,0) integer and the
    card hash-certifies (no ln() ulp hazard). One map-side-combinable
    (source) aggregate -> #sources-bounded reduce + TakeOrdered(1) +
    one broadcast cross of 1-row frames."""
    return stats.source_concentration_card(load(spark, sf_dir, "documents"))


def o_dataset_card_totals() -> str:
    """DuckDB oracle twin of the dataset card's corpus-totals section
    (`reports.dataset_card.card_totals_frame`): the shared
    concentration CTEs (`O_CONC_CTES` — same token convention and
    dominant-source tie-break as `source_concentration_card`), a
    'total' row with the HHI/dominant cells, and one 'source' row per
    source at the card's print order (tokens desc, label asc, the NULL
    source rendered as its '(no source)' audit label)."""
    hhi_d = o_pround(
        "CAST(d2 AS DOUBLE) / (CAST(n_docs AS DOUBLE)"
        " * CAST(n_docs AS DOUBLE))", 6)
    hhi_t = o_pround(
        "CAST(t2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)"
        " * CAST(n_tokens AS DOUBLE))", 6)
    share_d = o_pround("CAST(top_d AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)
    share_t = o_pround("CAST(top_t AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)
    return f"""
    WITH {O_CONC_CTES}
    SELECT 'total' AS row_kind, CAST(0 AS BIGINT) AS pos,
           CAST(NULL AS VARCHAR) AS label,
           n_docs, n_tokens,
           {hhi_d} AS doc_hhi,
           CASE WHEN n_tokens > 0 THEN {hhi_t} END AS token_hhi,
           top_source,
           {share_d} AS top_doc_share,
           CASE WHEN n_tokens > 0 THEN {share_t} END AS top_token_share
    FROM sct CROSS JOIN sck
    UNION ALL
    SELECT 'source', ROW_NUMBER() OVER (
             ORDER BY nt DESC, COALESCE(source, '(no source)') ASC),
           COALESCE(source, '(no source)'), nd, nt,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM scp"""


@query("dataset_card_totals", oracle=o_dataset_card_totals())
def dataset_card_totals_q(spark, sf_dir):
    """The dataset card's corpus-totals section as a certified frame
    (r14 verdict item 7): the card's Corpus / HHI / dominant-source /
    per-source-volume numbers produced by the card's EXACT assembly
    path — additive per-source collect, explicit-schema createDataFrame
    round-trip, finish half — so the driver hash-certifies the card's
    re-derivation, not just its certified inputs
    (`reports/dataset_card.py:card_totals_frame`). Bounded end to end:
    one corpus aggregate, then O(#sources) driver rows."""
    from ..reports.dataset_card import card_totals_frame

    return card_totals_frame(spark, sf_dir)


@query("boilerplate_ngrams_topk", oracle=o_boilerplate_ngrams_topk(20, 3))
def boilerplate_ngrams_topk_q(spark, sf_dir):
    """Top-20 most widespread 3-grams (new r14): the card that says
    WHAT the boilerplate is — the shortlist a cleaning pass
    hand-reviews before committing a removal rule, complementing
    `dup_ngram_coverage` (how much) and `ngram_freq_spectrum` (how
    fat the head). Skew-safe per-(doc, gram) pre-aggregate ->
    vocabulary-bounded rollup -> global TakeOrdered(20) -> rank window
    over the 20-row frame only."""
    return stats.boilerplate_ngrams_topk(
        load(spark, sf_dir, "documents"), k=20, n=3
    )


@query("decontam_rate_by_source", oracle=o_decontam_rate_by_source())
def decontam_rate_by_source_q(spark, sf_dir):
    """Per-source contamination rates (new r14): the release-audit
    rollup of the certified exact (`decontaminate_ngram`) and fuzzy
    (`decontaminate_fuzzy`) per-doc evidence at the same registry
    split (eval = every 20th doc) — the number a dataset card
    publishes and the skew check a mixture review runs. Composition of
    the two certified operators + two doc_id-keyed joins + ONE bounded
    (source) aggregate (`llmdata/decontam.py:decontam_rate_by_source`)."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontam.decontam_rate_by_source(
        corpus, bench, n_exact=5, min_hits=1,
        fuzzy_threshold=0.8, fuzzy_n=3,
    )


def o_embedding_dim_stats() -> str:
    """DuckDB oracle twin of `llmdata.simsearch.embedding_dim_stats`:
    0-based dims via generate_subscripts - 1, the same NULL-vector /
    NULL-element exclusion, exact float min/max published as double,
    and the `_dot` convention's DECIMAL(30,15) element quantization
    (through an explicit double promotion) for the order-free mean."""
    return f"""
    WITH edv AS (
      SELECT embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    eds AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS e
      FROM edv
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           COUNT(*) AS n,
           CAST(MIN(e) AS DOUBLE) AS vmin,
           CAST(MAX(e) AS DOUBLE) AS vmax,
           {o_pround("CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(30,15)))"
                     " AS DOUBLE) / COUNT(*)", 6)} AS mean,
           {o_pround("GREATEST(ABS(CAST(MIN(e) AS DOUBLE)),"
                     " ABS(CAST(MAX(e) AS DOUBLE))) / 127.0", 6)}
             AS int8_scale
    FROM eds GROUP BY dim"""


@query("embedding_dim_stats", oracle=o_embedding_dim_stats())
def embedding_dim_stats_q(spark, sf_dir):
    """Per-dimension embedding statistics (new r14): population, exact
    min/max, exact-decimal mean and the symmetric int8 scale per
    vector position — the quantization-planning read before shipping
    an ANN index or int8 embedding shards, and the dead-dimension
    detector. ONE posexplode -> ONE map-side-combinable aggregate on
    the bounded dimension key (`llmdata/simsearch.py:
    embedding_dim_stats`)."""
    return simsearch.embedding_dim_stats(load(spark, sf_dir, "embeddings"))


def o_decontam_matrix() -> str:
    """DuckDB oracle twin of `llmdata.decontam.decontam_matrix` at the
    registry split (two disjoint eval sets: doc_id % 40 = 0 ->
    holdout_a, = 20 -> holdout_b; corpus = everything else): the
    exact-rung shingle CTEs, the distinct (set, shingle) fold, the
    complete sources x sets grid with zero cells reported, and an
    IS NOT DISTINCT FROM join keeping the NULL-source audit row."""
    bench_case = ("CASE WHEN doc_id % 40 = 0 THEN 'holdout_a'"
                  " ELSE 'holdout_b' END")
    return f"""
    WITH {O_TOKS}, {O_FIVE},
    dmbs AS (
      SELECT DISTINCT {bench_case} AS eval_set, shingle
      FROM five WHERE doc_id % 40 = 0 OR doc_id % 40 = 20
    ),
    dmh AS (
      SELECT f.doc_id, b.eval_set, COUNT(*) AS n_overlap
      FROM five f JOIN dmbs b USING (shingle)
      WHERE f.doc_id % 40 <> 0 AND f.doc_id % 40 <> 20
      GROUP BY 1, 2
    ),
    dmc AS (
      SELECT doc_id, source FROM documents
      WHERE doc_id % 40 <> 0 AND doc_id % 40 <> 20
    ),
    dms AS (SELECT source, COUNT(*) AS n_docs FROM dmc GROUP BY source),
    dme AS (
      SELECT DISTINCT {bench_case} AS eval_set
      FROM documents WHERE doc_id % 40 = 0 OR doc_id % 40 = 20
    ),
    dmf AS (
      SELECT c.source, h.eval_set, COUNT(*) AS n_flagged
      FROM dmc c JOIN dmh h ON h.doc_id = c.doc_id
      WHERE h.n_overlap >= 1
      GROUP BY 1, 2
    )
    SELECT s.source, e.eval_set, s.n_docs,
           CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           {o_pround("CAST(COALESCE(f.n_flagged, 0) AS DOUBLE) / s.n_docs",
                     6)} AS contamination_rate
    FROM dms s CROSS JOIN dme e
    LEFT JOIN dmf f ON s.source IS NOT DISTINCT FROM f.source
                   AND e.eval_set = f.eval_set"""


@query("decontam_matrix", oracle=o_decontam_matrix())
def decontam_matrix_q(spark, sf_dir):
    """Contamination matrix (new r14): per (corpus source, eval set)
    cell, exact 5-gram-collision doc counts and rate against TWO
    disjoint planted holdout sets — the "which benchmark leaks into
    which crawl" audit deciding whether an eval number survives a data
    refresh; zero cells reported affirmatively. Eval shingles fold to
    a bounded DISTINCT (set, shingle) frame broadcast against the
    one-shuffle corpus index; the matrix is a broadcast cross of
    bounded frames (`llmdata/decontam.py:decontam_matrix`)."""
    docs = load(spark, sf_dir, "documents")
    m40 = F.pmod("doc_id", F.lit(40))
    bench = docs.where((m40 == 0) | (m40 == 20)).withColumn(
        "eval_set",
        F.when(m40 == 0, F.lit("holdout_a")).otherwise(F.lit("holdout_b")),
    )
    corpus = docs.where((m40 != 0) & (m40 != 20))
    return decontam.decontam_matrix(corpus, bench, n=5, min_hits=1)


def o_snapshot_drift_card() -> str:
    """DuckDB oracle twin of `llmdata.stats.snapshot_drift_card` at the
    registry split (old = even doc_id, new = odd — two deterministic
    interleaved snapshots of the fixture corpus): the shared quality
    CTEs LEFT-joined back so NULL-text docs count with NULL quality,
    per-side bounded (source) aggregates, and an IS NOT DISTINCT FROM
    full join keeping the NULL-source bucket on one row."""
    def side(par: str, tag: str) -> str:
        return f"""
    sd{tag} AS (
      SELECT source,
             COUNT(*) AS {tag}_docs,
             CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS {tag}_nulls,
             CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS {tag}_tokens,
             SUM(CAST(quality AS DECIMAL(18,6))) AS {tag}_q,
             COUNT(quality) AS {tag}_qn
      FROM sdd WHERE doc_id % 2 = {par} GROUP BY source
    )"""

    def rate(t: str) -> str:
        return (f"CASE WHEN {t}_docs > 0 THEN "
                + o_pround(f"CAST({t}_nulls AS DOUBLE) / {t}_docs", 6)
                + " END")

    def mlen(t: str) -> str:
        return (f"CASE WHEN {t}_docs - {t}_nulls > 0 THEN "
                + o_pround(f"CAST({t}_tokens AS DOUBLE)"
                           f" / ({t}_docs - {t}_nulls)", 6)
                + " END")

    def mq(t: str) -> str:
        return (f"CASE WHEN {t}_qn > 0 THEN "
                + o_pround(f"CAST({t}_q AS DOUBLE) / {t}_qn", 6)
                + " END")

    def delta(a: str, b: str) -> str:
        return o_pround(f"({b}) - ({a})", 6)

    return f"""
    WITH {_O_QUAL_CTES},
    sdd AS (
      SELECT d.doc_id, d.source, d.text,
             len(regexp_extract_all(lower(d.text), '{textstats.TOKEN_RE}'))
               AS tok,
             q.quality
      FROM documents d LEFT JOIN qual q ON q.doc_id = d.doc_id
    ),
    {side('0', 'old')},
    {side('1', 'new')}
    SELECT COALESCE(o.source, n.source) AS source,
           old_docs, new_docs,
           {rate('old')} AS old_null_rate,
           {rate('new')} AS new_null_rate,
           {delta(rate('old'), rate('new'))} AS null_rate_delta,
           {mlen('old')} AS old_mean_tokens,
           {mlen('new')} AS new_mean_tokens,
           {delta(mlen('old'), mlen('new'))} AS mean_tokens_delta,
           {mq('old')} AS old_mean_quality,
           {mq('new')} AS new_mean_quality,
           {delta(mq('old'), mq('new'))} AS mean_quality_delta
    FROM sdold o FULL JOIN sdnew n
      ON o.source IS NOT DISTINCT FROM n.source"""


@query("snapshot_drift_card", oracle=o_snapshot_drift_card())
def snapshot_drift_card_q(spark, sf_dir):
    """Snapshot-to-snapshot drift card (new r14): per source, doc
    volume, NULL-text rate, mean token length and mean quality as
    (old, new, delta) between two corpus drops — the table-health
    "did the refreshed crawl change under us" read a pipeline runs
    before retraining (`token_drift_card` is the vocabulary-level
    sibling). Registry split: old = even doc_id, new = odd. ONE
    bounded (source) aggregate per side + ONE null-safe full join on
    the bounded source key (`llmdata/stats.py:snapshot_drift_card`)."""
    docs = load(spark, sf_dir, "documents")
    old = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
    new = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
    return stats.snapshot_drift_card(old, new)


@query(
    "concentration_card_stream_fold", oracle=o_source_concentration_card()
)
def concentration_card_stream_fold_q(spark, sf_dir):
    """Batch twin of the concentration stream (`_stream_fold`)."""
    return _stream_fold(
        CARDS["concentration"], load(spark, sf_dir, "documents")
    )


def o_quality_by_lang(low_cut: float = 0.5) -> str:
    """DuckDB oracle twin of `llmdata.stats.quality_by_lang`: the
    certified lang-ID fragments (per-doc prediction) LEFT-joined to
    the shared quality CTEs on doc_id, one bounded rollup; the NULL
    pred_lang row carries NULL-text and zero-evidence docs whose
    quality is NULL (the join is on doc_id so NULL-text docs — absent
    from qual's divisions — surface as NULL quality, the
    `quality_scores_or_none` convention)."""
    return f"""
    WITH {_O_QUAL_CTES},
    qlb AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, length(lower(text)) - 1),
                           i -> substr(lower(text), CAST(i AS INT), 2))) AS bg
      FROM documents
    ), qls AS (
      SELECT doc_id, {_LSC} FROM qlb
    ), qlsb AS (
      SELECT *, {_LBEST} AS best FROM qls
    ), qlp AS (
      SELECT doc_id, {_LPRED} AS pred_lang FROM qlsb
    ), qlj AS (
      SELECT p.pred_lang,
             CASE WHEN d.text IS NOT NULL THEN q.quality END AS quality
      FROM qlp p
      JOIN documents d ON d.doc_id = p.doc_id
      LEFT JOIN qual q ON q.doc_id = p.doc_id
    )
    SELECT pred_lang,
           COUNT(*) AS n_docs,
           CASE WHEN COUNT(quality) > 0 THEN
             {o_pround("CAST(SUM(CAST(quality AS DECIMAL(18,6)))"
                       " AS DOUBLE) / COUNT(quality)", 6)}
           END AS mean_quality,
           CAST(COALESCE(COUNT(*) FILTER (quality < {low_cut}), 0)
                AS BIGINT) AS low_q_docs,
           CASE WHEN COUNT(quality) > 0 THEN
             {o_pround(f"CAST(COUNT(*) FILTER (quality < {low_cut})"
                       " AS DOUBLE) / COUNT(quality)", 6)}
           END AS low_q_rate
    FROM qlj GROUP BY pred_lang"""


@query("quality_by_lang", oracle=o_quality_by_lang(0.5))
def quality_by_lang_q(spark, sf_dir):
    """Quality distribution per predicted language (new r14): mean
    quality and below-cutoff share per language — the gate-fairness
    read that catches an English-tuned quality score gutting the other
    languages before one global threshold ships. Two row-local
    projections joined on doc_id -> ONE aggregate on the bounded
    #profiles+1 key (`llmdata/stats.py:quality_by_lang`)."""
    return stats.quality_by_lang(load(spark, sf_dir, "documents"), 0.5)


@query("quality_by_lang_stream_fold", oracle=o_quality_by_lang(0.5))
def quality_by_lang_stream_fold_q(spark, sf_dir):
    """Batch twin of the quality-by-language stream (`_stream_fold`),
    including the exact-integer (micro-unit BIGINT) quality sums."""
    return _stream_fold(
        CARDS["quality_lang"], load(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# r16 late addition: product-quantization code balance — the compression
# half of the IVF-PQ index layout (cells route, codes compress).
# ---------------------------------------------------------------------------


def o_pq_code_balance(m: int = 4, n_codes: int = 8) -> str:
    """DuckDB oracle twin of `llmdata.simsearch.pq_code_balance`:
    subspaces from 1-based element subscripts ((i-1) // (dim/m)),
    decimal-exact subvector dots against the first-K seed slices, the
    (dot DESC, code ASC) argmax, per-row dots prounded to 6 before the
    exact DECIMAL(18,6) mean, and one correctly-rounded double divide
    for the share."""
    return f"""
    WITH {O_ELEMS},
    pqdim AS (SELECT CAST(MAX(i) AS BIGINT) // {m} AS d FROM elems),
    pqd AS (
      SELECT v.vec_id, c.vec_id AS code,
             CAST(FLOOR((v.i - 1) / (SELECT d FROM pqdim)) AS INT) AS sub,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < {n_codes}
      GROUP BY 1, 2, 3
    ),
    pqr AS (
      SELECT vec_id, sub, code, dot,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY dot DESC, code) AS rn
      FROM pqd
    ),
    pqa AS (
      SELECT vec_id, sub, CAST(code AS INT) AS code,
             {o_pround('dot', 6)} AS dr
      FROM pqr WHERE rn = 1
    ),
    pqc AS (
      SELECT sub, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             {o_pround("CAST(SUM(CAST(dr AS DECIMAL(18,6))) AS DOUBLE)"
                       " / COUNT(*)", 6)} AS avg_dot
      FROM pqa GROUP BY 1, 2
    )
    SELECT sub, code, n_vecs,
           {o_pround("CAST(n_vecs AS DOUBLE) / CAST(SUM(n_vecs)"
                     " OVER (PARTITION BY sub) AS DOUBLE)", 6)} AS share,
           avg_dot
    FROM pqc"""


@query("pq_code_balance", oracle=o_pq_code_balance(4, 8))
def pq_code_balance_q(spark, sf_dir):
    """Product-quantization code-balance card (new r16): the
    compression half of an IVF-PQ index layout — every vector splits
    into 4 contiguous subvectors, each assigned its argmax
    exact-decimal-dot code against the deterministic first-8-slices
    codebook (`llmdata/simsearch.py:pq_code_balance`). The card
    (sub, code, n_vecs, share, avg_dot) is the pre-build read for a
    compressed ANN index: skewed shares mean the codebook wastes
    bits; avg_dot reads the per-code fit. One narrow scan, all
    assignments as literal-codebook folds in a single projection, a
    map-side-combinable aggregate onto the bounded 4 x 8 key space,
    and a share window over that bounded frame — output size
    independent of corpus size."""
    return simsearch.pq_code_balance(
        load(spark, sf_dir, "embeddings"), m=4, n_codes=8
    )


def o_pq_adc_topk(k: int = 5, n_queries: int = 10, m: int = 4,
                  n_codes: int = 8) -> str:
    """DuckDB oracle twin of `llmdata.simsearch.pq_adc_topk`: the
    shared PQ assignment CTE shape (codes per (vec, sub)), the
    query-side m x K lookup table from the SAME decimal-dot chain,
    and the candidate score as the DECIMAL(30,15) re-sum of the m
    looked-up doubles — ties toward the lower candidate id."""
    return f"""
    WITH {O_ELEMS},
    pqdim AS (SELECT CAST(MAX(i) AS BIGINT) // {m} AS d FROM elems),
    pqd AS (
      SELECT v.vec_id, c.vec_id AS code,
             CAST(FLOOR((v.i - 1) / (SELECT d FROM pqdim)) AS INT) AS sub,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < {n_codes}
      GROUP BY 1, 2, 3
    ),
    pqr AS (
      SELECT vec_id, sub, code, dot,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY dot DESC, code) AS rn
      FROM pqd
    ),
    pqa AS (SELECT vec_id, sub, code FROM pqr WHERE rn = 1),
    plut AS (
      SELECT vec_id AS qid, sub, code, dot AS lv
      FROM pqd WHERE vec_id < {n_queries}
    ),
    pscore AS (
      SELECT l.qid, a.vec_id AS cid,
             CAST(SUM(CAST(l.lv AS DECIMAL(30,15))) AS DOUBLE) AS s
      FROM pqa a JOIN plut l ON l.sub = a.sub AND l.code = a.code
      WHERE a.vec_id <> l.qid
      GROUP BY 1, 2
    ),
    pranked AS (
      SELECT qid, cid, s,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY s DESC, cid) AS rnk
      FROM pscore
    )
    SELECT qid, cid, {o_pround('s', 6)} AS adc, CAST(rnk AS INT) AS rank
    FROM pranked WHERE rnk <= {k}"""


@query("pq_adc_topk", oracle=o_pq_adc_topk(5, 10, 4, 8))
def pq_adc_topk_q(spark, sf_dir):
    """PQ asymmetric-distance top-5 for query vectors (vec_id < 10) —
    the query side of the IVF-PQ layout (new r16, completing the
    `pq_code_balance` family): each query pre-computes its 4 x 8
    lookup table once (the same Spark decimal fold the corpus dots
    use, collected and re-embedded as literals), every candidate
    scores as 4 table lookups over its `pq_encode` codes (m ints, not
    the raw vector), scores re-sum in DECIMAL(30,15), and the shared
    salted two-phase top-k cuts per query
    (`llmdata/simsearch.py:pq_adc_topk`)."""
    emb = load(spark, sf_dir, "embeddings")
    return simsearch.pq_adc_topk(emb, k=5, n_queries=10).withColumn(
        "rank", F.col("rank").cast("int")
    )


def o_pq_ivf_topk(k: int = 5, n_queries: int = 10, n_centroids: int = 8,
                  n_probe: int = 2, m: int = 4, n_codes: int = 8) -> str:
    """DuckDB oracle twin of `llmdata.simsearch.pq_ivf_topk`: the
    certified `_o_cell_assign` chain routes (corpus cell = rn 1;
    query probes = rn <= n_probe over the SAME ranking), the
    certified PQ chain scores (codes + LUT + DECIMAL(30,15) re-sum),
    composed by a cell-membership join."""
    return f"""
    WITH {O_ELEMS},
    {_o_cell_assign(n_centroids)},
    pqdim AS (SELECT CAST(MAX(i) AS BIGINT) // {m} AS d FROM elems),
    pqd AS (
      SELECT v.vec_id, c.vec_id AS code,
             CAST(FLOOR((v.i - 1) / (SELECT d FROM pqdim)) AS INT) AS sub,
             CAST(SUM(CAST(v.e * c.e AS DECIMAL(30,15))) AS DOUBLE) AS dot
      FROM elems v JOIN elems c ON c.i = v.i AND c.vec_id < {n_codes}
      GROUP BY 1, 2, 3
    ),
    pqr2 AS (
      SELECT vec_id, sub, code, dot,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY dot DESC, code) AS rn
      FROM pqd
    ),
    pqa AS (SELECT vec_id, sub, code FROM pqr2 WHERE rn = 1),
    plut AS (
      SELECT vec_id AS qid, sub, code, dot AS lv
      FROM pqd WHERE vec_id < {n_queries}
    ),
    qprobe AS (
      SELECT vec_id AS qid, CAST(ccid AS INT) AS cell
      FROM cpr WHERE vec_id < {n_queries} AND rn <= {n_probe}
    ),
    cand AS (
      SELECT p.qid, a.vec_id AS cid
      FROM cpa a JOIN qprobe p ON p.cell = a.cell
      WHERE a.vec_id <> p.qid
    ),
    pscore AS (
      SELECT cand.qid, cand.cid,
             CAST(SUM(CAST(l.lv AS DECIMAL(30,15))) AS DOUBLE) AS s
      FROM cand
      JOIN pqa a ON a.vec_id = cand.cid
      JOIN plut l ON l.qid = cand.qid AND l.sub = a.sub
                 AND l.code = a.code
      GROUP BY 1, 2
    ),
    pranked AS (
      SELECT qid, cid, s,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY s DESC, cid) AS rnk
      FROM pscore
    )
    SELECT qid, cid, {o_pround('s', 6)} AS adc, CAST(rnk AS INT) AS rank
    FROM pranked WHERE rnk <= {k}"""


@query("pq_ivf_topk", oracle=o_pq_ivf_topk(5, 10, 8, 2, 4, 8))
def pq_ivf_topk_q(spark, sf_dir):
    """The complete IVF-PQ search (new r16, the family capstone):
    queries route to their 2 nearest of 8 inverted lists (the
    certified IVF probe ranking), candidates in those cells score as
    4 LUT lookups over their stored PQ codes (the certified ADC
    chain) — expected per-query candidate work n_probe/n_centroids
    of the corpus, at m+4 bytes of index per vector
    (`llmdata/simsearch.py:pq_ivf_topk`). Both halves reuse their
    family's exact expressions; this entry certifies the
    composition."""
    emb = load(spark, sf_dir, "embeddings")
    return simsearch.pq_ivf_topk(
        emb, k=5, n_queries=10, n_centroids=8, n_probe=2
    ).withColumn("rank", F.col("rank").cast("int"))
