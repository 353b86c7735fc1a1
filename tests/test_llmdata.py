"""Unit tests for the LLM-data-pipeline operators, on fixtures with
PLANTED duplicates/neighbours (the driver tables have no exact dups, so
the oracle checks alone can't prove the dup-detection path fires)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_staging_spark.llmdata import dedup, multimodal, sampling, simsearch, textstats
from etl_staging_spark.llmdata.hashing import py_hash56, portable_hash56


BASE = (
    "the quick brown fox jumps over the lazy dog near the old river bank "
    "while a cold wind blows through the tall dark trees of the silent forest"
)
NEAR = BASE.replace("cold wind", "warm wind")  # 1-token edit => high jaccard
OTHER = (
    "completely different words about spark catalyst tungsten shuffle "
    "partitions broadcast joins adaptive execution and columnar parquet scans"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE), (1, BASE),          # exact dup pair
        (2, NEAR),                     # near dup of 0/1
        (3, OTHER), (4, OTHER + " x"),  # near dup pair
        (5, "tiny doc"),               # < 3 tokens => zero shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_portable_hash_matches_python(spark):
    df = spark.createDataFrame([("abc",), ("hello world",)], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash56("s").alias("h")).collect()}
    for s, h in got.items():
        assert h == py_hash56(s)


def test_exact_dup_groups(docs):
    groups = {r.canonical_doc_id: r.n_copies for r in dedup.exact_dup_groups(docs).collect()}
    assert groups[0] == 2          # docs 0 and 1 collapse
    assert groups[2] == 1


def test_jaccard_pairs_finds_planted(docs):
    pairs = {(r.d1, r.d2): r.jaccard for r in dedup.jaccard_pairs(docs, 0.5).collect()}
    assert pairs[(0, 1)] == 1.0    # exact dup => jaccard 1
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (3, 4) in pairs
    assert all(d not in (5,) for p in pairs for d in p)


def test_minhash_lsh_recall_on_planted(docs):
    exact = {(r.d1, r.d2) for r in dedup.jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()}
    # verification guarantees precision; planted ~1.0-jaccard pairs band
    # together with overwhelming probability
    assert lsh <= exact
    assert (0, 1) in lsh


def test_simhash_near_dups_close(docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash_table(docs).collect()}
    assert fp[0] == fp[1]
    ham = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[3]).count("1")
    assert ham < ham_far


@pytest.fixture(scope="module")
def vecs(spark):
    # vec 0 ~ vec 1 (same direction), vec 2 orthogonal, vec 3 opposite
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(vecs):
    out = simsearch.cosine_topk(vecs, F.col("vec_id") == 0, k=3).collect()
    by_rank = {r.rank: (r.cid, r.cosine) for r in out}
    assert by_rank[1][0] == 1 and by_rank[1][1] > 0.99
    assert by_rank[2][0] == 2 and abs(by_rank[2][1]) < 1e-9
    assert by_rank[3][0] == 3 and by_rank[3][1] == -1.0


def test_ann_lsh_subset_of_bruteforce(spark):
    """LSH results are a subset of brute-force candidates; same-bucket
    identical vectors are always found."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [1.0] + [0.0] * 7))  # identical direction to vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simsearch.lsh_bucketed_topk(emb, F.col("vec_id") == 0, dim=8, k=3).collect()
    assert any(r.cid == 100 and r.cosine == 1.0 for r in out)


def test_simhash_pairs_planted(docs):
    """The exact-dup pair (0,1) has identical fingerprints (hamming 0)
    and must be discovered through every band; the tiny doc (no
    shingles) never pairs."""
    out = {(r.d1, r.d2): r.hamming for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert out[(0, 1)] == 0
    assert all(5 not in pair for pair in out)
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=4, bands=4)  # pigeonhole broken


def test_embed_cosine_dup_pairs_planted(spark):
    """Identical-direction vectors share every LSH band bucket, so the
    planted dup pair must be discovered and verified at cosine ~1."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [2.0] + [0.0] * 7))  # same direction as vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.d1, r.d2): r.cosine for r in
           simsearch.cosine_dup_pairs(emb, threshold=0.9, dim=8).collect()}
    assert out[(0, 100)] == 1.0
    # orthogonal basis vectors never reach the threshold
    assert all(d == (0, 100) for d in out)


def test_ivf_topk_finds_same_cell_neighbour(spark):
    """A vector colinear with centroid 0 lands in cell 0; querying it
    must surface the other cell-0 member first."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [3.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    rows.append((101, [2.0, 0.2, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simsearch.ivf_topk(
        emb, F.col("vec_id") == 100, dim=8, k=2, n_centroids=8, n_probe=2
    ).collect()
    by_rank = {r.rank: r.cid for r in out}
    # cos(q, e0) ~ 0.9994 beats cos(q, 101) ~ 0.9978; both are cell-0
    assert by_rank[1] == 0
    assert by_rank[2] == 101


def test_quality_scores_shape(docs):
    rows = {r.doc_id: r for r in textstats.quality_scores(docs).collect()}
    assert rows[5].n_tokens == 2
    assert 0.0 < rows[0].quality <= 1.0
    # the OTHER doc ("and" only) is far less stopword-dense than BASE
    assert rows[3].stop_ratio < rows[0].stop_ratio


def test_lang_id_deterministic(docs):
    out1 = sorted(textstats.lang_id(docs).collect())
    out2 = sorted(textstats.lang_id(docs).collect())
    assert out1 == out2
    assert all(r.pred_lang in textstats.LANG_PROFILES for r in out1)


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "ab cd-ef 12!")], "doc_id long, text string")
    r = textstats.token_counts(df).first()
    assert r.n_ws_tokens == 3
    # ab, cd, -, ef, 12, ! => 6 BPE-ish tokens
    assert r.n_bpe_tokens == 6


def test_fingerprint_stable_and_discriminative(docs):
    fp = {r.doc_id: r.fingerprint for r in textstats.fingerprints(docs).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]


def test_multimodal_decode_roundtrip(docs):
    out = multimodal.decode_table(docs)
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,n_bytes:int,fmt:string,width:int,height:int,n_frames:int>"
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].n_bytes == len(BASE.encode())
    assert rows[0].fmt in ("img", "audio", "video")
    assert 64 <= rows[0].width < 64 + 1920
    # deterministic: same text => same fake decode
    assert rows[0].width == rows[1].width


def _real_png(w: int, h: int) -> bytes:
    """A GENUINE minimal PNG built from stdlib (zlib + crc32): valid
    signature, IHDR, one zlib-compressed IDAT scanline set, IEND."""
    import binascii
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", binascii.crc32(tag + body) & 0xFFFFFFFF)
        )

    import struct

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))  # filter 0 rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _real_wav(rate: int, channels: int, n_frames: int) -> bytes:
    """A GENUINE canonical PCM WAV header + silent sample data."""
    import struct

    block = channels * 2  # 16-bit samples
    data = bytes(n_frames * block)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                rate * block, block, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_multimodal_real_bytes_header_decode(spark):
    """The decode seam on REAL byte formats (review finding): genuine
    PNG / GIF / WAV payloads built from stdlib flow through the same
    Arrow mapInPandas plumbing and come back with the TRUE container
    dimensions from the pure-Python header parse, while an
    unrecognized payload in the same batch falls back to the
    deterministic stub."""
    import struct

    png = _real_png(320, 200)
    gif = (b"GIF89a" + struct.pack("<HH", 13, 37)
           + b"\x00\x00\x00" + b"\x3b")
    wav = _real_wav(16000, 2, 1234)
    blob = b"just some text bytes"
    rows = [(1, png, "img"), (2, gif, "img"), (3, wav, "audio"),
            (4, blob, "video")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, fmt string"
    )
    got = {r.doc_id: r for r in multimodal.decode_table(df).collect()}
    assert (got[1].width, got[1].height, got[1].n_frames) == (320, 200, 1)
    assert (got[2].width, got[2].height) == (13, 37)
    # WAV mapping: width=sample rate, height=channels, n_frames=frames
    assert (got[3].width, got[3].height, got[3].n_frames) == (16000, 2, 1234)
    assert got[3].n_bytes == len(wav)
    w, h, nf = multimodal._fake_decode(blob)
    assert (got[4].width, got[4].height, got[4].n_frames) == (w, h, nf)
    # strictness: truncated magic must NOT false-positive
    assert multimodal.parse_media_header(b"\x89PNG\r\n\x1a\nXXXXIHDR") is None
    assert multimodal.parse_media_header(b"RIFFxxxxWAVE") is None
    # the module's own encoders round-trip through the parser, and the
    # test's INDEPENDENT constructions above already validated the
    # parser — two builders per format, one grammar
    assert multimodal.parse_media_header(multimodal.encode_png(33, 21)) == (
        33, 21, 1,
    )
    assert multimodal.parse_media_header(
        multimodal.encode_wav(22050, 2, 777)
    ) == (22050, 2, 777)
    # the real-bytes table feeds the rest of the chain unchanged
    feats = {r.doc_id: r for r in multimodal.feature_table(df).collect()}
    assert len(feats) == 4 and all(
        len(feats[i].embedding) == 64 for i in feats
    )


def test_multimodal_resize_geometry(docs):
    rows = {r.doc_id: r for r in multimodal.resize_table(docs, target=512).collect()}
    for r in rows.values():
        # longest side capped, aspect preserved within rounding, no upscale
        assert max(r.out_width, r.out_height) <= 512
        if max(r.width, r.height) <= 512:
            assert (r.out_width, r.out_height) == (r.width, r.height)
        else:
            scale = 512 / max(r.width, r.height)
            assert r.out_width == int(r.width * scale + 0.5)
            assert r.out_height == int(r.height * scale + 0.5)


def test_multimodal_frame_sample_fanout(docs):
    decoded = {r.doc_id: r for r in multimodal.decode_table(docs).collect()}
    frames = multimodal.sample_frames(docs, fps_ms=40).collect()
    by_doc = {}
    for fr in frames:
        by_doc.setdefault(fr.doc_id, []).append(fr)
    for doc_id, frs in by_doc.items():
        assert decoded[doc_id].fmt == "video"
        assert len(frs) == decoded[doc_id].n_frames
        idxs = sorted(f.frame_idx for f in frs)
        assert idxs == list(range(decoded[doc_id].n_frames))
        for f in frs:
            assert f.frame_ts_ms == f.frame_idx * 40
            assert f.frame_key == doc_id * 1024 + f.frame_idx


def test_multimodal_feature_extract_matches_python_reference(docs):
    """The feature-extract step is REAL: per-payload folded byte
    histogram, L1-normalized — verified element-for-element against a
    pure-python reference, identical for identical payloads."""
    import numpy as np

    rows = {r.doc_id: r for r in multimodal.feature_table(docs, dim=16).collect()}
    payloads = {r.doc_id: bytes(r.payload)
                for r in multimodal.with_payload(docs).collect()}
    for doc_id, r in rows.items():
        arr = np.frombuffer(payloads[doc_id], dtype=np.uint8)
        want = np.bincount(arr % 16, minlength=16) / arr.size
        assert len(r.embedding) == 16
        assert np.allclose(r.embedding, want)
        assert abs(sum(r.embedding) - 1.0) < 1e-12
    assert rows[0].embedding == rows[1].embedding  # same payload, same vector


def test_multimodal_features_feed_embedding_dedup(spark):
    """The multimodal chain composes: payload -> byte-histogram feature
    vectors -> the certified embedding near-dup operator finds the
    planted byte-identical payload pair and nothing else."""
    from etl_staging_spark.tables import release_pinned

    same = "identical payload text shared by two documents exactly"
    docs = spark.createDataFrame(
        [(0, same), (1, same), (2, "a completely different byte stream "
                                   "with another distribution zzzz")],
        "doc_id long, text string",
    )
    feats = multimodal.feature_table(docs, dim=16)
    pairs = simsearch.cosine_dup_pairs(
        feats, threshold=0.999, dim=16, id_col="doc_id"
    )
    got = {(r.d1, r.d2) for r in pairs.collect()}
    release_pinned(pairs)
    assert got == {(0, 1)}


def test_corpus_pipeline_dedup_bytes_matches_hand_composed_chain(spark):
    """The multimodal byte rung is reachable from the fluent builder
    (r11): `CorpusPipeline.dedup_bytes` keeps the canonical of a
    planted byte-identical payload pair; leaves NULL-payload, EMPTY-
    payload (zero vector — must not reach the ANSI cosine division)
    and distinct docs untouched; extracts features only for docs still
    alive (a pre-dropped byte-identical twin must not steal the
    canonical slot and kill both survivors); and equals the
    hand-composed chain (feature_table -> mt_dup_pairs -> cluster
    losers) doc for doc."""
    from etl_staging_spark.llmdata import cluster
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    same = "identical payload text shared by two documents exactly"
    twin = "other payload text shared by three documents in this corpus"
    rows = [
        (0, same, "img"),
        (1, same, "img"),       # byte-identical twin -> loser
        (2, "a completely different byte stream with another "
            "distribution zzzz", "img"),
        (3, None, "img"),       # NULL payload -> NULL vector, untouched
        (4, "", "img"),         # EMPTY payload -> zero vector, untouched
        (5, "", "img"),         # second empty: still no pair, no crash
        (10, twin, "img"),      # pre-dropped below -> must not cluster
        (11, twin, "img"),      # alive twin pair: one canonical stays
        (12, twin, "img"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, fmt string")

    pipe = CorpusPipeline(docs.where(F.col("doc_id") != 10)).dedup_bytes(
        docs, dim=16, threshold=0.999
    )
    got = {r.doc_id for r in pipe.frame().collect()}
    assert [s for s, _ in pipe._stages] == ["input", "dedup_bytes"]
    pipe.release()
    # 11 is the canonical of the alive {11, 12} cluster — the dropped
    # doc 10 must neither re-enter nor be elected canonical (which
    # would have removed BOTH 11 and 12)
    assert got == {0, 2, 3, 4, 5, 11}

    # hand-composed chain parity (same alive + non-degenerate filters)
    alive = docs.where(F.col("doc_id") != 10)
    feats = multimodal.feature_table(alive, dim=16).where(
        F.col("embedding").isNotNull()
        & F.exists("embedding", lambda x: x != 0)
    )
    pairs = simsearch.mt_dup_pairs(
        feats.select("doc_id", "embedding"),
        threshold=0.999, dim=16, id_col="doc_id",
    )
    losers = {
        r.doc_id
        for r in cluster.near_dup_clusters(pairs.select("d1", "d2"))
        .where(~F.col("is_canonical"))
        .select("doc_id").collect()
    }
    from etl_staging_spark.tables import release_pinned
    release_pinned(pairs)
    assert got == ({r[0] for r in rows} - {10}) - losers


def test_feature_table_matches_duckdb_oracle(spark):
    """Dry-run of the r13-queued `mm_feature_hist` entry: the byte-histogram
    feature table hash-matches its DuckDB twin on the real documents
    tables at BOTH parity scales — per-element vector equality (one
    IEEE division on both engines), fmt tags, and the NULL-text NULL
    vector included."""
    import duckdb

    from etl_staging_spark.queries.catalog_llm import o_feature_table

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        got = sorted(
            (r.doc_id, r.fmt, None if r.embedding is None else tuple(r.embedding))
            for r in multimodal.feature_table(docs, dim=16).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            (r[0], r[1], None if r[2] is None else tuple(r[2]))
            for r in con.sql(o_feature_table(16)).fetchall()
        )
        assert got == want and got


def test_feature_hist_rows_matches_duckdb_oracle(spark):
    """The CERTIFIED `mm_feature_hist` shape (r13 reshape — exploded
    list-free rows, the form the driver's pandas canonicalizer can
    hash): exact row-set equality with `o_feature_hist_rows` on the
    real sf0.001 documents table AND on a planted frame carrying the
    two degenerate payloads — NULL text (one bin-NULL/val-NULL row via
    posexplode_outer, mirroring the oracle's outer join) and empty
    text (16 zero rows)."""
    import duckdb
    import pandas as pd

    from etl_staging_spark.queries.catalog_llm import o_feature_hist_rows

    def spark_rows(docs):
        feats = multimodal.feature_table(docs, dim=16)
        return sorted(
            tuple(r)
            for r in feats.select(
                "doc_id", "fmt",
                F.posexplode_outer("embedding").alias("bin", "val"),
            ).withColumn("bin", F.col("bin").cast("long")).collect()
        )

    # real table
    path = "/root/testdata/sf0.001/documents.parquet"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(tuple(r) for r in con.sql(o_feature_hist_rows(16)).fetchall())
    got = spark_rows(spark.read.parquet(path))
    assert got == want and len(got) > 0

    # planted degenerate payloads
    planted = [(0, "normal payload"), (1, None), (2, "")]
    con2 = duckdb.connect()
    planted_pdf = pd.DataFrame(planted, columns=["doc_id", "text"])
    con2.register("documents", planted_pdf)
    want2 = sorted(tuple(r) for r in con2.sql(o_feature_hist_rows(16)).fetchall())
    got2 = spark_rows(spark.createDataFrame(planted, "doc_id long, text string"))
    assert got2 == want2
    assert sum(1 for r in got2 if r[0] == 1) == 1          # NULL text: 1 row
    assert [r[2:] for r in got2 if r[0] == 1] == [(None, None)]
    assert [r[3] for r in got2 if r[0] == 2] == [0.0] * 16  # empty: zeros


def test_feature_table_real_binary_payload_branch(spark):
    """The production pass-through branch is exercised with a REAL
    binary payload frame (not the with_payload text synthesis): same
    bytes -> same vectors as the text path, extra columns pruned
    before the Arrow boundary, and a payload frame missing fmt fails
    at plan time with an AnalysisException, not a worker KeyError."""
    import pytest
    from pyspark.errors import AnalysisException

    texts = [(0, "some real payload bytes"), (1, "other content entirely")]
    text_frame = spark.createDataFrame(texts, "doc_id long, text string")
    bin_frame = spark.createDataFrame(
        [(i, t.encode("utf-8"), "img", "extra-metadata") for i, t in texts],
        "doc_id long, payload binary, fmt string, note string",
    )
    via_text = {r.doc_id: r.embedding
                for r in multimodal.feature_table(text_frame, dim=16).collect()}
    out = multimodal.feature_table(bin_frame, dim=16)
    assert out.columns == ["doc_id", "fmt", "embedding"]
    got = {r.doc_id: r.embedding for r in out.collect()}
    assert got == via_text

    no_fmt = spark.createDataFrame(
        [(0, b"abc")], "doc_id long, payload binary"
    )
    with pytest.raises(AnalysisException):
        multimodal.feature_table(no_fmt, dim=16)


def test_multimodal_feature_null_and_empty_payloads(spark):
    """Degenerate payloads degrade, never crash: NULL text yields a
    NULL vector and empty text the zero vector — surfaced by
    embedding_stats_card as n_null / n_zero (the documented chain,
    group_col='fmt')."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [(0, "normal payload"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    feats = multimodal.feature_table(docs, dim=16)
    rows = {r.doc_id: r.embedding for r in feats.collect()}
    assert rows[1] is None
    assert rows[2] == [0.0] * 16
    assert abs(sum(rows[0]) - 1.0) < 1e-12
    card = stats.embedding_stats_card(feats, group_col="fmt")
    agg = card.groupBy().sum("n_vectors", "n_null", "n_zero").first()
    assert tuple(agg) == (3, 1, 1)


def test_trained_ivf_recall_on_planted_clusters(spark):
    """Recall@5 >= 0.9 at n_probe=2 with TRAINED centroids on a
    planted-cluster corpus: 8 well-separated directions in R^16, 24
    points each (base direction + deterministic small perturbation).
    Ground truth = brute-force cosine_topk. The first-K seed centroids
    all come from cluster 0, so this also demonstrates why training
    matters."""
    import math

    dim, n_clusters, per = 16, 8, 24
    rows = []
    for c in range(n_clusters):
        for i in range(per):
            vec = [0.0] * dim
            vec[2 * c] = 1.0
            # deterministic perturbation, small enough to keep cluster
            # members nearest each other
            vec[(2 * c + 1) % dim] = 0.15 * math.sin(7.0 * (c * per + i) + 1.0)
            vec[(2 * c + 3) % dim] = 0.1 * math.cos(3.0 * i + c)
            rows.append((c * per + i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.persist().count()
    pred = F.col("vec_id") % 24 == 0  # one query per cluster

    truth = {
        (r["qid"], r["cid"])
        for r in simsearch.cosine_topk(emb, pred, k=5).collect()
    }
    cents = simsearch.train_ivf_centroids(emb, n_centroids=8, max_sample=192)
    assert len(cents) == 8 and len(cents[0]) == dim
    got = {
        (r["qid"], r["cid"])
        for r in simsearch.ivf_topk(
            emb, pred, dim=dim, k=5, n_probe=2, centroids=cents
        ).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall@5 = {recall}"
    # determinism: retraining reproduces the exact same centroids
    assert cents == simsearch.train_ivf_centroids(emb, n_centroids=8, max_sample=192)


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (long diameter — forces >1 star round), a 2-node
    island, and an untouched singleton: labels must be the component
    minimum, sizes the component size, canonical = minimum only."""
    from etl_staging_spark.llmdata.cluster import near_dup_clusters

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain 10-11-12-13
         (3, 7),                          # island
         (20, 21), (21, 20)],             # duplicate edge both ways
        "d1 long, d2 long",
    )
    out = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
           for r in near_dup_clusters(pairs).collect()}
    assert out[10] == (10, 4, True)
    assert out[11] == (10, 4, False)
    assert out[13] == (10, 4, False)
    assert out[3] == (3, 2, True) and out[7] == (3, 2, False)
    assert out[20] == (20, 2, True) and out[21] == (20, 2, False)
    assert 99 not in out  # singletons never enter


def test_connected_components_converges_on_star_heavy_graph(spark):
    """Everything joined through one hub plus a transitive tail — the
    worst skew shape for neighborhood-array implementations; the
    join-based stars must still produce one component."""
    from etl_staging_spark.llmdata.cluster import connected_components

    edges = [(0, i) for i in range(1, 30)] + [(29, 40), (40, 41)]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    labels = connected_components(pairs)
    assert labels.select("cluster_id").distinct().count() == 1
    assert labels.count() == 32
    assert labels.where("cluster_id != 0").count() == 0


def test_decontamination_planted_overlap(spark):
    from etl_staging_spark.llmdata.decontam import ngram_overlap

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta epsilon suffix"),  # shares 'alpha..epsilon'
         (2, "totally unrelated words that never collide with anything else"),
         (3, "short")],                                        # < 5 tokens
        "doc_id long, text string")
    out = {r.doc_id: (r.n_overlap, r.contaminated)
           for r in ngram_overlap(corpus, bench, n=5).collect()}
    assert out[1] == (1, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert len(out) == 3  # zero-overlap docs are kept, not dropped


def test_sim_ann_recall_report(spark):
    """The ANN recall report card on the driver testdata: structural
    invariants (one row per query x method, n_hit <= n_ann <= k,
    recall = n_hit/k) plus recall floors for BOTH paths. The LSH floor
    is the r8 fix: the r7 card measured single-bucket sign-LSH at
    recall ~0.1 on this data; the multi-table variant (16 tables x 4
    bits) measures 0.86 at sf0.001 and must stay at or above the IVF
    level."""
    import __spark_entry__ as entrymod

    rows = entrymod.registry.QUERIES["sim_ann_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_m = {}
    for r in rows:
        assert 0 <= r.n_hit <= min(r.n_ann, 5)
        assert abs(r.recall_at_k - r.n_hit / 5) < 1e-9
        by_m.setdefault(r.method, []).append(r.recall_at_k)
    assert set(by_m) == {"lsh", "ivf"}
    n_q = len(by_m["lsh"])
    assert n_q == len(by_m["ivf"]) and n_q > 0
    ivf_mean = sum(by_m["ivf"]) / n_q
    lsh_mean = sum(by_m["lsh"]) / n_q
    assert ivf_mean >= 0.5  # IVF is known-good on this data
    assert lsh_mean >= 0.7  # multi-table LSH floor (measured 0.86)
    assert lsh_mean >= ivf_mean - 1e-9  # the r8 'done' bar: LSH >= IVF


def test_lsh_multitable_planted_dup(spark):
    """A vector colinear with a corpus vector shares every table's
    bucket, so the multi-table ANN must surface it at cosine 1."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [2.0] + [0.0] * 7))  # same direction as vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simsearch.lsh_multitable_topk(
        emb, F.col("vec_id") == 0, dim=8, k=3
    ).collect()
    assert any(r.cid == 100 and r.cosine == 1.0 for r in out)


def test_mt_keys_knife_edge_decimal_sign(spark):
    """A vector orthogonal to plane 0 (exact double dot 0) exercises
    the Arrow kernel's decimal fallback: the decimal sum is exactly 0,
    and 0 >= 0 must yield bit '1' — matching the oracle's sign rule."""
    from etl_staging_spark.llmdata.hashing import hyperplanes

    w = hyperplanes(1, 8)[0]
    v = [w[1], -w[0]] + [0.0] * 6  # dot = w0*w1 - w1*w0 = 0 exactly
    # array<double>: a float32 roundtrip would perturb the products and
    # move the dot off the exact knife edge this test is about
    emb = spark.createDataFrame([(0, v)], "vec_id long, embedding array<double>")
    keys = simsearch._mt_keys_udf(8, n_tables=1, bits=1)
    row = emb.select(keys(F.col("embedding")).alias("k")).collect()[0]
    assert row.k == ["0|1"]


def test_ivf_candidates_match_expression_path(spark):
    """`ivf_candidates` and `ivf_topk` share the probe-cell kernel: with
    k = corpus size, ivf_topk keeps exactly the candidate pairs
    ivf_candidates discovers (same ordering, same tie rule) on the
    sf0.001 testdata."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pred = F.col("vec_id") < 10
    from_udf = {
        (r.qid, r.cid) for r in simsearch.ivf_candidates(emb, pred).collect()
    }
    # ivf_topk with k = corpus size keeps every candidate pair it scored
    n = emb.count()
    from_expr = {
        (r.qid, r.cid)
        for r in simsearch.ivf_topk(emb, pred, dim=64, k=n).collect()
    }
    assert from_udf == from_expr


def test_fuzzy_contamination_planted_paraphrase(spark):
    from etl_staging_spark.llmdata.decontam import fuzzy_contamination

    bench = spark.createDataFrame(
        [(100, BASE)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, NEAR),    # 1-token paraphrase of the eval doc -> contaminated
         (2, OTHER),   # unrelated -> clean, kept with n_matches = 0
         (3, BASE)],   # verbatim eval copy -> jaccard 1.0
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           fuzzy_contamination(corpus, bench, threshold=0.7).collect()}
    assert len(out) == 3  # clean docs are kept, not dropped
    assert out[1].contaminated and out[1].n_matches == 1
    assert 0.7 <= out[1].max_jaccard < 1.0  # the paraphrase, not verbatim
    assert out[3].contaminated and out[3].max_jaccard == 1.0
    assert not out[2].contaminated
    assert out[2].n_matches == 0 and out[2].max_jaccard is None


def test_semantic_contamination_planted_neighbor(spark):
    """A corpus vector that is a tiny perturbation of an eval vector
    flags contaminated (cosine ~1 under the multi-table LSH discovery
    + exact verify); an orthogonal vector stays clean and keeps its
    zero-match row — the fuzzy_contamination output contract in
    embedding space."""
    import numpy as np

    from etl_staging_spark.llmdata.decontam import semantic_contamination

    rng = np.random.RandomState(7)
    base = rng.randn(64)
    near = base + 0.01 * rng.randn(64)     # cosine ~0.9999
    ortho = rng.randn(64)
    ortho -= ortho.dot(base) / base.dot(base) * base  # cosine ~0
    rows_e = [(1000, [float(x) for x in base])]
    rows_c = [(1, [float(x) for x in near]),
              (2, [float(x) for x in ortho]),
              (3, [float(x) for x in base])]  # verbatim copy
    schema = "vec_id long, embedding array<float>"
    eva = spark.createDataFrame(rows_e, schema)
    corp = spark.createDataFrame(rows_c, schema)
    out = {r.vec_id: r for r in
           semantic_contamination(corp, eva, threshold=0.9).collect()}
    assert len(out) == 3  # clean vectors keep their rows
    assert out[1].contaminated and out[1].n_matches == 1
    assert 0.99 <= out[1].max_cosine <= 1.0
    assert out[3].contaminated and out[3].max_cosine == 1.0
    assert not out[2].contaminated
    assert out[2].n_matches == 0 and out[2].max_cosine is None


def test_semantic_contamination_matches_duckdb_oracle(spark):
    """Dry-run of the r10 semantic-decontamination entry: the Spark
    frame equals the DuckDB twin (same mt-LSH candidate replay, same
    exact-decimal cosine) on the real sf0.001 embeddings with the
    every-41st-vector eval panel, and the planted threshold finds a
    nonzero contaminated set."""
    import duckdb

    from etl_staging_spark.llmdata.decontam import semantic_contamination
    from etl_staging_spark.queries.catalog_llm import o_semantic_contamination

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.where(F.col("vec_id") % 41 == 0)
    corpus = emb.where(F.col("vec_id") % 41 != 0)
    out = semantic_contamination(corpus, bench, threshold=0.35)
    got = sorted(tuple(r) for r in out.collect())
    con = duckdb.connect()
    con.sql("CREATE VIEW embeddings AS SELECT * FROM "
            "'/root/testdata/sf0.001/embeddings.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(o_semantic_contamination()).fetchall())
    assert got == want
    assert sum(1 for r in got if r[3]) > 0


def test_pii_masking_planted(spark):
    from etl_staging_spark.llmdata.pii import with_pii_masked

    rows = [
        (1, "mail me at jane.doe+x@sub.example.co.uk today"),
        (2, "call 415-555-0134 or 415.555.0199 now"),
        (3, "account 123456789012 is overdue"),
        (4, "clean text with short 1234 numbers"),
        (5, "user99@example.com then ref 900000042 done"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in with_pii_masked(df).collect()}
    assert out[1].masked == "mail me at <EMAIL> today"
    assert out[1].n_emails == 1 and out[1].n_phones == 0
    assert out[2].masked == "call <PHONE> or <PHONE> now"
    assert out[2].n_phones == 2
    assert out[3].masked == "account <ID> is overdue" and out[3].n_ids == 1
    assert out[4].masked == rows[3][1]  # untouched
    assert out[5].masked == "<EMAIL> then ref <ID> done"
    assert (out[5].n_emails, out[5].n_ids) == (1, 1)


def test_repetition_stats_planted(spark):
    from etl_staging_spark.llmdata.textstats import repetition_stats

    rows = [
        (1, "spam spam spam spam spam spam"),            # one bigram repeated
        (2, "all these words appear exactly once here"),
        (3, "go go"),                                    # bigrams but no trigrams
        (4, "x"),                                        # no bigrams at all
    ]
    out = {r.doc_id: r for r in repetition_stats(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1].top_bigram_frac == 1.0 and out[1].dup_trigram_frac == 0.75
    assert out[1].repetitive
    assert out[2].top_bigram_frac < 0.2 and not out[2].repetitive
    assert out[3].n_bigrams == 1 and out[3].dup_trigram_frac == 0.0
    assert out[3].repetitive  # single modal bigram = 100% of bigrams
    assert out[4].n_bigrams == 0 and not out[4].repetitive


# ---------------------------------------------------------------------------
# Training-data assembly: hash split, mixture sampling, sequence packing
# ---------------------------------------------------------------------------

from etl_staging_spark.tables import load  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_hash_split_deterministic_and_stable(spark):
    from etl_staging_spark.llmdata.sampling import hash_split

    docs = load(spark, SF_DIR, "documents")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, fr).select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in hash_split(docs, fr).select("doc_id", "split").collect()}
    assert a == b
    # stability under corpus growth: assignment of existing keys doesn't
    # change when the split runs over a subset
    sub = hash_split(docs.limit(50), fr).select("doc_id", "split").collect()
    for r in sub:
        assert a[r.doc_id] == r.split
    # roughly proportional
    from collections import Counter

    c = Counter(a.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_hash_split_validates_fractions(spark):
    import pytest as _pytest

    from etl_staging_spark.llmdata.sampling import hash_split

    docs = load(spark, SF_DIR, "documents")
    with _pytest.raises(ValueError):
        hash_split(docs, {})
    with _pytest.raises(ValueError):
        hash_split(docs, {"a": 0.9, "b": 0.3})


def test_mixture_rates_quota_and_cap():
    from etl_staging_spark.llmdata.sampling import BUCKETS, mixture_rates

    counts = {"a": 100, "b": 100, "c": 10}
    thr = mixture_rates(counts, {"a": 1.0, "b": 1.0, "c": 1.0}, 90)
    # a,b: quota 30/100 -> 30% of buckets; c: quota 30 > 10 docs -> capped at all
    assert thr["a"] == thr["b"] == int(0.3 * BUCKETS)
    assert thr["c"] == BUCKETS
    # zero-weight domain drops entirely
    thr2 = mixture_rates(counts, {"a": 1.0}, 50)
    assert thr2["b"] == 0 and thr2["c"] == 0


def test_pack_sequences_invariants(spark):
    from etl_staging_spark.llmdata.packing import pack_sequences

    rows = pack_sequences(
        load(spark, SF_DIR, "documents"), seq_len=128
    ).collect()
    assert rows
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.seq_index == cum // 128
            assert r.token_offset == cum % 128
            span = (cum + max(r.n_tokens, 1) - 1) // 128 - cum // 128 + 1
            assert r.n_chunks == span
            cum += r.n_tokens


def test_corpus_cardinality_within_rsd(spark):
    from etl_staging_spark.llmdata.stats import corpus_cardinality
    from etl_staging_spark.llmdata.shingles import shingle_index

    d = load(spark, SF_DIR, "documents")
    got = corpus_cardinality(d, rsd=0.02)
    exact_docs = d.count()
    exact_shingles = (
        shingle_index(d).select("shingle").distinct().count()
    )
    assert abs(got.n_docs_approx - exact_docs) <= max(3, 0.1 * exact_docs)
    assert abs(got.n_shingles_approx - exact_shingles) <= 0.1 * exact_shingles


def test_token_length_quantiles_monotone_and_bounded(spark):
    from etl_staging_spark.llmdata.stats import token_length_quantiles

    d = load(spark, SF_DIR, "documents")
    q50, q90, q99 = token_length_quantiles(d)
    assert 0 < q50 <= q90 <= q99
    mx = d.selectExpr(
        "max(size(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]', 0))) AS m"
    ).head().m
    assert q99 <= mx


def test_incremental_lsh_only_matches_batch_to_corpus(spark, docs):
    """Batch docs match corpus docs; batch-internal dup pairs are NOT
    reported (they are the NEXT batch's corpus problem), and corpus x
    corpus work never happens."""
    corpus = docs.where("doc_id in (0, 3)")          # BASE, OTHER
    batch = docs.where("doc_id in (1, 2, 4, 5)")     # dup of BASE, near-BASE, near-OTHER, tiny
    got = {
        (r.d1, r.d2)
        for r in dedup.incremental_lsh_matches(corpus, batch, threshold=0.7).collect()
    }
    # every batch doc with a corpus near-dup is found
    assert (1, 0) in got and (2, 0) in got and (4, 3) in got
    # no batch-batch pairs (1,2 are near-dups of each other)
    assert all(d2 in (0, 3) for _, d2 in got)
    assert all(d1 in (1, 2, 4, 5) for d1, _ in got)


def test_incremental_lsh_indexed_equals_in_session_path(spark, docs):
    """The persisted bucketed signature index returns the SAME verified
    matches as the in-session corpus frame, and the candidate join's
    corpus side reads the bucketed table with no Exchange above it —
    only the batch side shuffles."""
    import contextlib
    import io

    corpus = docs.where("doc_id in (0, 3)")
    batch = docs.where("doc_id in (1, 2, 4, 5)")
    dedup.write_signature_index(corpus, "sig_ix_test", n_buckets=4)

    live = {
        (r.d1, r.d2, r.n_common)
        for r in dedup.incremental_lsh_matches(corpus, batch, threshold=0.7).collect()
    }
    indexed = {
        (r.d1, r.d2, r.n_common)
        for r in dedup.incremental_lsh_matches_indexed(
            spark, batch, "sig_ix_test", threshold=0.7
        ).collect()
    }
    assert indexed == live and indexed

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = dedup.indexed_candidates(spark, batch, "sig_ix_test")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cands.explain("formatted")
        plan = buf.getvalue()
        # the corpus scan is the bucketed table ...
        assert "sig_ix_test_bands" in plan
        # ... and no Exchange sits on ITS branch of the join: walk the
        # tree from the corpus scan line back up to the join node —
        # lines belonging to the other (batch) branch carry the ':'
        # continuation marker and are skipped. Batch-side shuffles and
        # the final distinct's Exchange are expected and allowed.
        tree = plan.split("\n\n")[0].splitlines()
        scan_i = next(
            i for i, ln in enumerate(tree)
            if "Scan parquet" in ln and "sig_ix_test_bands" in ln
        )
        join_i = max(
            i for i, ln in enumerate(tree[:scan_i]) if "Join" in ln
        )
        corpus_branch = [
            ln for ln in tree[join_i + 1 : scan_i] if ":" not in ln
        ]
        assert all("Exchange" not in ln for ln in corpus_branch), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hash_split_single_split_oracle_parity(spark, duck):
    """The degenerate single-split fractions dict: Spark assigns every
    row to the one split and the oracle SQL is a bare literal (a CASE
    with zero WHEN branches is invalid SQL — regression guard)."""
    expr = sampling.o_hash_split({"all": 1.0}, key_expr="doc_id")
    assert expr == "'all'"
    (n_all,) = duck.execute(
        f"SELECT COUNT(*) FROM documents WHERE {expr} = 'all'"
    ).fetchone()
    docs = load(spark, SF_DIR, "documents")
    got = sampling.hash_split(docs, {"all": 1.0}).where("split = 'all'").count()
    assert got == n_all == docs.count()


def test_mixture_threshold_truncation_parity(spark, duck):
    """Keep thresholds truncate identically in Python and the oracle's
    FLOOR for fractional rate*BUCKETS (the round-vs-floor divergence
    class): a 1/3 rate must produce floor(3333.33) = 3333 on both
    sides, not 3334."""
    counts = {"a": 3}
    weights = {"a": 1.0}
    thr = sampling.mixture_rates(counts, weights, target_total=1)
    assert thr["a"] == 3333
    (t,) = duck.execute(
        "SELECT CAST(FLOOR(LEAST(1.0, (1 * 1.0 / 1.0) / 3) * 10000) AS BIGINT)"
    ).fetchone()
    assert t == 3333


# ---------------------------------------------------------------------------
# Lexical retrieval / domain cap / boilerplate (round 6)
# ---------------------------------------------------------------------------


def test_bm25_ranking_invariants(spark):
    from etl_staging_spark.llmdata import lexsearch

    rows = [
        (0, "spark spark spark pad pad"),   # tf=3
        (1, "spark pad pad pad pad"),       # tf=1, dl=5
        (2, "pad pad pad pad pad"),         # tf=0 -> excluded
        (3, "spark pad"),                   # tf=1, dl=2 (shorter wins)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = lexsearch.bm25_topk(docs, ["spark"], k=10).collect()
    got = [r.doc_id for r in out]
    assert 2 not in got                     # no query term, never ranks
    assert got[0] == 0                      # highest tf first
    assert got.index(3) < got.index(1)      # same tf, shorter doc wins
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_k_cut_and_tiebreak(spark):
    from etl_staging_spark.llmdata import lexsearch

    # ten identical docs: equal scores, the k-cut must be by doc_id
    docs = spark.createDataFrame(
        [(i, "spark pad pad") for i in range(10)], "doc_id long, text string"
    )
    out = lexsearch.bm25_topk(docs, ["spark"], k=4).collect()
    assert [r.doc_id for r in out] == [0, 1, 2, 3]


def test_domain_quality_cap_budget_and_order(spark):
    hi = "alpha beta gamma delta epsilon zeta eta theta " * 4  # diverse
    lo = "spam spam spam spam spam spam spam spam " * 4        # repetitive
    rows = (
        [(i, hi + f"tail{i}", "big") for i in range(6)]
        + [(i + 10, lo, "big") for i in range(3)]
        + [(20, hi, "small")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sampling.domain_quality_cap(docs, cap=5)
    rows_out = out.collect()
    per_dom = {}
    for r in rows_out:
        per_dom.setdefault(r.domain, []).append(r)
    assert len(per_dom["big"]) == 5          # budget enforced
    assert len(per_dom["small"]) == 1        # under-cap domain untouched
    # the kept 'big' docs are the high-quality (diverse) ones
    kept_big = {r.doc_id for r in per_dom["big"]}
    assert kept_big.issubset(set(range(6)))
    # ranks are 1..5 and ordered by quality desc then doc_id
    big = sorted(per_dom["big"], key=lambda r: r.rk)
    assert [r.rk for r in big] == [1, 2, 3, 4, 5]
    quals = [r.quality for r in big]
    assert quals == sorted(quals, reverse=True)


def test_domain_quality_cap_tiebreak_by_doc_id(spark):
    docs = spark.createDataFrame(
        [(i, "same text here every time", "d") for i in range(4)],
        "doc_id long, text string, source string",
    )
    out = sorted(sampling.domain_quality_cap(docs, cap=2).collect(),
                 key=lambda r: r.rk)
    assert [r.doc_id for r in out] == [0, 1]


def test_boilerplate_flags_planted_template(spark):
    from etl_staging_spark.llmdata import decontam

    template = "all rights reserved"
    uniq = ["alpha bravo", "charlie delta", "echo foxtrot", "golf hotel",
            "india juliet", "kilo lima", "mike november", "oscar papa",
            "quebec romeo", "sierra tango"]
    rows = (
        # templated source: every doc leads with the same 3 words
        [(i, f"{template} {uniq[i]}", "tmpl") for i in range(10)]
        # clean source: fully distinct bigrams
        + [(i + 100, f"{uniq[i]} unique{i} word{i}", "clean") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in decontam.boilerplate_flags(
        docs, n=2, shingle_src_frac=0.5, doc_frac=0.3
    ).collect()}
    for i in range(10):
        r = out[i]
        # 'all rights' + 'rights reserved' recur in 10/10 docs of tmpl
        assert r.bp_shingles == 2 and r.boilerplate, r
    for i in range(10):
        r = out[i + 100]
        assert r.bp_shingles == 0 and not r.boilerplate, r


def test_semantic_dup_pairs_planted_clusters(spark):
    """SemDeDup within-cell verify: near-dup pairs inside a planted
    cluster are found; cross-cluster (different-cell) pairs are not
    candidates even above threshold (the documented boundary
    tradeoff)."""
    import math

    dim = 8
    rows = []
    # two tight clusters along axes 0 and 2, 4 points each
    for c, axis in enumerate([0, 2]):
        for i in range(4):
            vec = [0.0] * dim
            vec[axis] = 1.0
            vec[axis + 1] = 0.05 * math.sin(3.0 * i + c)
            rows.append((c * 4 + i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # trained centroids: one per planted cluster
    cents = simsearch.train_ivf_centroids(emb, n_centroids=2, max_sample=8)
    out = simsearch.semantic_dup_pairs(
        emb, threshold=0.95, dim=dim, centroids=cents
    ).collect()
    pairs = {(r.d1, r.d2) for r in out}
    # all within-cluster pairs found, nothing across clusters
    within_a = {(i, j) for i in range(4) for j in range(i + 1, 4)}
    within_b = {(i, j) for i in range(4, 8) for j in range(i + 1, 8)}
    assert pairs == within_a | within_b
    # both members of each pair share the cell label
    cells = {r.d1: r.cell for r in out} | {r.d2: r.cell for r in out}
    assert len({cells[i] for i in range(4)}) == 1
    assert len({cells[i] for i in range(4, 8)}) == 1
    assert cells[0] != cells[4]


def test_epoch_upsample_counts_and_tags(spark):
    docs = spark.createDataFrame(
        [(0, "a", "wiki"), (1, "b", "wiki"), (2, "c", "web"), (3, "d", "code")],
        "doc_id long, text string, source string",
    )
    out = sampling.epoch_upsample(docs, {"wiki": 3, "code": 0}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert sorted(by_doc[0]) == [1, 2, 3]      # 3 epochs of wiki
    assert sorted(by_doc[1]) == [1, 2, 3]
    assert by_doc[2] == [1]                    # default 1 epoch
    assert 3 not in by_doc                     # 0 epochs drops the domain
    with pytest.raises(ValueError):
        sampling.epoch_upsample(docs, {"wiki": -1})


def test_shard_training_order_deterministic_and_balanced(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    out = sampling.shard_training_order(docs, n_shards=8).collect()
    assert len(out) == 400
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    # every shard populated, hash-balanced within a loose band
    assert set(by_shard) == set(range(8))
    assert all(20 <= len(v) <= 80 for v in by_shard.values())
    # positions are 1..n contiguous per shard
    for v in by_shard.values():
        assert sorted(r.position for r in v) == list(range(1, len(v) + 1))
    # determinism: same input -> identical assignment; different salt
    # -> a different permutation of the same rows
    again = sampling.shard_training_order(docs, n_shards=8).collect()
    assert {(r.doc_id, r.shard, r.position) for r in again} == {
        (r.doc_id, r.shard, r.position) for r in out
    }
    other = sampling.shard_training_order(docs, n_shards=8, salt="v2").collect()
    assert {(r.doc_id, r.shard, r.position) for r in other} != {
        (r.doc_id, r.shard, r.position) for r in out
    }


def test_bm25_indexed_equals_scan_path(spark):
    """The persisted-inverted-index BM25 equals the scan-time operator
    on the same corpus, and the postings scan is bucket-PRUNED to the
    query terms' buckets (the service-side story: query cost scales
    with postings of the query terms, not corpus size)."""
    from etl_staging_spark.llmdata import lexsearch
    from etl_staging_spark.tables import load
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    terms = ["spark", "hash", "window"]
    lexsearch.write_term_index(docs, "bm25_ix_test", n_buckets=16)
    want = {
        (r.doc_id, r.score) for r in lexsearch.bm25_topk(docs, terms, k=20).collect()
    }
    got_df = lexsearch.bm25_topk_indexed(spark, "bm25_ix_test", terms, k=20)
    got = {(r.doc_id, r.score) for r in got_df.collect()}
    assert got == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, "term filter must prune buckets"


def test_split_leakage_audit_flags_cross_split_pairs(spark):
    """Near-dup pairs straddling splits carry leaky=True; same-split
    pairs don't. Uses planted near-dups and the real hash split, with
    doc_ids chosen so one pair lands same-split and another crosses."""
    base = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while a cold wind blows through the tall dark trees"
    )
    # find ids whose hash split differs / matches, deterministically
    probe = spark.createDataFrame(
        [(i, "x") for i in range(200)], "doc_id long, text string"
    )
    splits = {
        r.doc_id: r.split
        for r in sampling.hash_split(
            probe, {"train": 0.5, "test": 0.5}
        ).collect()
    }
    same = [i for i in range(200) if splits[i] == splits[0]][:2]
    cross = next(i for i in range(200) if splits[i] != splits[0])
    docs = spark.createDataFrame(
        [
            (same[0], base), (same[1], base),   # same-split exact dup
            (cross, base),                      # crosses vs same[0]
        ],
        "doc_id long, text string",
    )
    from etl_staging_spark.llmdata import dedup as dd

    pairs = dd.jaccard_pairs(docs, threshold=0.8).select("d1", "d2")
    stamped = sampling.hash_split(
        pairs.withColumn("doc_id", F.col("d1")), {"train": 0.5, "test": 0.5}
    ).withColumnRenamed("split", "s1").drop("doc_id")
    stamped = sampling.hash_split(
        stamped.withColumn("doc_id", F.col("d2")), {"train": 0.5, "test": 0.5}
    ).withColumnRenamed("split", "s2").drop("doc_id")
    got = {
        (r.d1, r.d2): r.s1 != r.s2 for r in stamped.collect()
    }
    a, b = sorted(same)
    assert got[(a, b)] is False
    assert got[tuple(sorted((same[0], cross)))] is True


def test_semantic_dup_pairs_multiprobe_recovers_boundary(spark):
    """The documented cell-boundary miss and its mitigation: a near-dup
    pair whose members' PRIMARY cells differ is invisible at n_probe=1
    and recovered at n_probe=2 (discovery widens; verification and
    labels unchanged)."""
    dim = 4
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    u = [0.0, 0.0, 1.0, 0.0]            # firmly cell 1
    v = [0.708, 0.0, 0.706, 0.0]        # leans cell 0, near-dup of u
    emb = spark.createDataFrame(
        [(0, u), (1, v)], "vec_id long, embedding array<float>"
    )
    got1 = simsearch.semantic_dup_pairs(
        emb, threshold=0.7, dim=dim, centroids=cents, n_probe=1
    ).collect()
    assert got1 == []                   # primary cells differ: missed
    got2 = simsearch.semantic_dup_pairs(
        emb, threshold=0.7, dim=dim, centroids=cents, n_probe=2
    ).collect()
    assert [(r.d1, r.d2) for r in got2] == [(0, 1)]
    assert got2[0].cosine >= 0.7


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """Shard directories exist for every shard, every doc lands in
    exactly one, and the physical row order inside each shard's file
    is the training order (position ascending) — verified by reading
    the parquet bytes directly, not through Spark's reader."""
    import glob

    import pyarrow.parquet as pq

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(300)], "doc_id long, text string"
    )
    out = str(tmp_path / "shards")
    sampling.write_training_shards(docs, out, n_shards=4)
    seen = []
    for k in range(4):
        files = glob.glob(f"{out}/shard={k}/*.parquet")
        assert files, f"shard {k} missing"
        tables = [pq.read_table(f) for f in files]
        assert len(files) == 1, "one task -> one file per shard"
        positions = tables[0].column("position").to_pylist()
        assert positions == sorted(positions) == list(range(1, len(positions) + 1))
        seen.extend(tables[0].column("doc_id").to_pylist())
    assert sorted(seen) == list(range(300))
    # byte-stable re-run: same assignment, same order
    again = {}
    sampling.write_training_shards(docs, str(tmp_path / "shards2"), n_shards=4)
    for k in range(4):
        f = glob.glob(f"{tmp_path}/shards2/shard={k}/*.parquet")[0]
        again[k] = pq.read_table(f).column("doc_id").to_pylist()
        f1 = glob.glob(f"{out}/shard={k}/*.parquet")[0]
        assert pq.read_table(f1).column("doc_id").to_pylist() == again[k]


def test_write_curriculum_shards_order(spark, tmp_path):
    """write_curriculum_shards (r16): the physical row order inside
    each shard file is the CURRICULUM order — stage non-increasing
    (cleanest data first), positions contiguous, unscored rows last —
    and the assignment matches curriculum_order exactly (verified by
    reading the parquet bytes directly)."""
    import glob

    import pyarrow.parquet as pq

    rows = [
        (i, f"text {i}", None if i % 50 == 7 else (i % 10) / 10.0)
        for i in range(300)
    ]
    scored = spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    )
    out = str(tmp_path / "cur_shards")
    sampling.write_curriculum_shards(scored, out, n_shards=4)
    want = {
        r.doc_id: (r.shard, r.stage, r.position)
        for r in sampling.curriculum_order(
            scored.select("doc_id", "quality"), n_shards=4
        ).collect()
    }
    seen = []
    for k in range(4):
        files = glob.glob(f"{out}/shard={k}/*.parquet")
        assert len(files) == 1, f"shard {k}: one task -> one file"
        t = pq.read_table(files[0])
        pos = t.column("position").to_pylist()
        assert pos == list(range(1, len(pos) + 1))
        stages_seq = t.column("stage").to_pylist()
        assert stages_seq == sorted(stages_seq, reverse=True)
        for d, st, p in zip(
            t.column("doc_id").to_pylist(), stages_seq, pos
        ):
            assert want[d] == (k, st, p)
        # every input column survives alongside (stage, position)
        assert {"doc_id", "text", "quality"} <= set(t.column_names)
        seen.extend(t.column("doc_id").to_pylist())
    assert sorted(seen) == list(range(300))


def test_write_curriculum_training_set_verifies(spark, tmp_path):
    """The curriculum-written training set passes the UNCHANGED
    manifest verification (the manifest is order-free, so one verify
    loop covers both schedules), the written shard files read in
    curriculum order, and a tampered shard fails its own checksum."""
    import glob

    import pyarrow.parquet as pq

    from etl_staging_spark.llmdata import trainset

    rows = [
        (i, ("tok%d " % i) * (5 + i % 17),
         None if i % 29 == 5 else (i % 10) / 10.0)
        for i in range(200)
    ]
    frame = spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    )
    docs = frame.select("doc_id", "text")
    scores = frame.select("doc_id", "quality")
    out = str(tmp_path / "cur_trainset")
    manifest = trainset.write_curriculum_training_set(
        docs, scores, out, n_shards=3, seq_len=64
    )
    check = trainset.verify_training_set(spark, out, manifest, n_shards=3)
    assert all(r.ok for r in check.collect())
    # written physical order IS the curriculum: stage non-increasing,
    # positions contiguous, chunk ids non-decreasing
    for k in range(3):
        files = glob.glob(f"{out}/shard={k}/*.parquet")
        assert len(files) == 1
        t = pq.read_table(files[0])
        pos = t.column("position").to_pylist()
        assert pos == list(range(1, len(pos) + 1))
        st = t.column("stage").to_pylist()
        assert st == sorted(st, reverse=True)
        ch = t.column("chunk_id").to_pylist()
        assert ch == sorted(ch)
    # tamper one shard (re-write minus a row, the CRC-safe route the
    # hash-variant test uses): its own checksum flips, others stay ok
    sub = spark.read.parquet(out).where("shard = 0 AND position > 1")
    rest = spark.read.parquet(out).where("shard != 0")
    tampered = str(tmp_path / "tampered")
    rest.unionByName(sub).write.partitionBy("shard").parquet(tampered)
    redo = {r.shard: r.ok for r in trainset.verify_training_set(
        spark, tampered, manifest, n_shards=3
    ).collect()}
    assert redo[0] is False and redo[1] and redo[2]


def test_curriculum_training_set_rows_semantics(spark):
    """curriculum_training_set_rows (r16): within every shard the
    chunk sequence follows the curriculum — positions ascend with
    non-increasing stage, chunk_id is non-decreasing in position, and
    no chunk exceeds seq_len unless it holds a single over-long doc."""
    from etl_staging_spark.llmdata import trainset

    rows = [
        (i, "w " * (5 + i % 7), None if i % 11 == 3 else (i % 10) / 10.0)
        for i in range(120)
    ]
    scored = spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    )
    out = trainset.curriculum_training_set_rows(
        scored.select("doc_id", "text"),
        scored.select("doc_id", "quality"),
        n_shards=3,
        seq_len=16,
    ).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(out) == 120 and len(by_shard) == 3
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r.position)
        stages_seq = [m.stage for m in members]
        assert stages_seq == sorted(stages_seq, reverse=True), shard
        chunks = [m.chunk_id for m in members]
        assert chunks == sorted(chunks), shard       # pack follows order
        fill: dict = {}
        for m in members:
            fill[m.chunk_id] = fill.get(m.chunk_id, 0) + m.n_tokens
        for cid, tot in fill.items():
            n_in = sum(1 for m in members if m.chunk_id == cid)
            assert tot <= 16 or n_in == 1, (shard, cid, tot)


def test_write_training_set_end_to_end_with_manifest(spark, tmp_path):
    """The composed back end: corpus -> shard + training order ->
    greedy packing -> shard=K parquet -> manifest, with the manifest's
    XOR checksums verified against the WRITTEN files (not the input
    frame), a tampered shard failing its own checksum, and per-chunk
    token budgets holding."""
    import glob

    import pyarrow.parquet as pq

    from etl_staging_spark.llmdata import trainset

    docs = spark.createDataFrame(
        [(i, ("tok%d " % i) * (5 + i % 37)) for i in range(300)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "trainset")
    manifest = trainset.write_training_set(docs, out, n_shards=4, seq_len=64)

    # manifest recomputed from the written bytes matches exactly
    check = trainset.verify_training_set(spark, out, manifest, n_shards=4)
    rows = check.collect()
    assert len(rows) == 4 and all(r.ok for r in rows)
    assert sum(r.n_docs for r in rows) == 300

    # within each shard file: position order on disk, chunk budgets hold
    for k in range(4):
        files = glob.glob(f"{out}/shard={k}/*.parquet")
        assert len(files) == 1  # one task -> one file per shard
        t = pq.read_table(files[0])
        pos = t.column("position").to_pylist()
        assert pos == sorted(pos) == list(range(1, len(pos) + 1))
        chunks = t.column("chunk_id").to_pylist()
        ntok = t.column("n_tokens").to_pylist()
        assert chunks == sorted(chunks)  # chunks contiguous in order
        per_chunk: dict[int, int] = {}
        for c, n in zip(chunks, ntok):
            per_chunk[c] = per_chunk.get(c, 0) + n
        for c, tot in per_chunk.items():
            # a chunk only exceeds seq_len when a single doc does
            singles = [n for cc, n in zip(chunks, ntok) if cc == c]
            assert tot <= 64 or len(singles) == 1

    # tamper with one shard -> exactly that shard's checksum flips
    sub = spark.read.parquet(out).where("shard = 2 AND position > 1")
    rest = spark.read.parquet(out).where("shard != 2")
    tampered = str(tmp_path / "tampered")
    rest.unionByName(sub).write.partitionBy("shard").parquet(tampered)
    bad = {r.shard: r.ok for r in trainset.verify_training_set(
        spark, tampered, manifest, n_shards=4).collect()}
    assert bad[2] is False
    assert all(bad[k] for k in (0, 1, 3))


def test_domain_quality_cap_hot_path_identical(spark):
    """The hot-domain prefilter path (approx-quantile cutoff before the
    window) returns EXACTLY the plain-window result on a skewed corpus
    — one dominant domain plus small ones — including rank values."""
    import math

    rows = []
    for i in range(800):  # hot domain: varied quality
        filler = " ".join(f"w{(i * 7 + j) % 97}" for j in range(10 + i % 30))
        rows.append((i, filler, "hot"))
    for i in range(12):
        rows.append((1000 + i, f"alpha beta gamma{i} delta", "small"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plain = {
        (r.doc_id, r.domain, r.quality, r.rk)
        for r in sampling.domain_quality_cap(docs, cap=10).collect()
    }
    hot = {
        (r.doc_id, r.domain, r.quality, r.rk)
        for r in sampling.domain_quality_cap(docs, cap=10, hot_factor=20).collect()
    }
    assert hot == plain
    assert sum(1 for t in plain if t[1] == "hot") == 10


def test_exact_corpus_stats_against_brute_force(spark):
    """The histogram-rank quantile equals the brute-force sorted-list
    rank element, and the sketches' error bounds hold against it."""
    from etl_staging_spark.llmdata import stats as st

    rows = [(i, " ".join(["w"] * (5 + (i * 13) % 40))) for i in range(200)]
    rows += [(1000, rows[0][1])]  # one exact dup text
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = st.exact_corpus_stats(docs).collect()[0]
    counts = sorted(5 + (i * 13) % 40 for i in range(200)) + [5 + 0]
    counts.sort()
    n = len(counts)
    assert got.n_docs == n == 201
    # same-length docs share identical text by construction: distinct
    # texts = distinct lengths (the planted dup collapses into them)
    assert got.n_distinct_texts == len(set(counts))
    import math
    assert got.p50_tokens == counts[math.floor((n - 1) * 0.5)]
    assert got.p90_tokens == counts[math.floor((n - 1) * 0.9)]


def test_pack_greedy_docs_invariants(spark):
    from etl_staging_spark.llmdata import packing as pk

    rows = [
        (0, " ".join(["w"] * 100), "s"),   # 100 tokens
        (1, " ".join(["w"] * 100), "s"),   # fits with 0 (200 <= 256)
        (2, " ".join(["w"] * 100), "s"),   # overflows -> chunk 1
        (3, " ".join(["w"] * 300), "s"),   # over-long -> own chunk 2
        (4, " ".join(["w"] * 10), "s"),    # next after over-long -> chunk 3
        (5, " ".join(["w"] * 50), "t"),    # other shard starts at chunk 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.doc_id: r for r in pk.pack_greedy_docs(docs, seq_len=256).collect()}
    assert [got[i].chunk_id for i in range(6)] == [0, 0, 1, 2, 3, 0]
    # invariant: no chunk's doc-total exceeds seq_len unless it is a
    # single over-long doc
    per_chunk = {}
    for r in got.values():
        per_chunk.setdefault((r.shard, r.chunk_id), []).append(r.n_tokens)
    for (sh, ch), lens in per_chunk.items():
        assert sum(lens) <= 256 or len(lens) == 1, (sh, ch, lens)
    # docs are whole: every doc appears exactly once
    assert sorted(got) == list(range(6))


def test_sign_guard_magnitude_invariant(spark):
    """The sign-LSH key kernel's hybrid sign decision must agree with
    the canonical decimal fold at ANY vector magnitude — including
    large-magnitude vectors whose double accumulation error exceeds a
    fixed absolute cutoff — and across near-orthogonal knife-edge
    vectors."""
    from etl_staging_spark.llmdata.hashing import hyperplanes
    from etl_staging_spark.llmdata.simsearch import _dot, _mt_keys_udf, _vec_sql

    dim, n_bits = 16, 8
    planes = hyperplanes(n_bits, dim)
    rows = []
    rid = 0
    for scale in (1.0, 1e3, 1e6):
        for j in range(n_bits):
            w = planes[j]
            # near-orthogonal to plane j: swap-negate pairs + perturbation
            b = []
            for i in range(0, dim, 2):
                b += [-scale * w[i + 1], scale * w[i]]
            b[0] += scale * 1e-10 * (j - 4)
            rows.append((rid, b)); rid += 1
    df = spark.createDataFrame(rows, "id long, b array<double>")
    keys = _mt_keys_udf(dim, n_tables=1, bits=n_bits)
    got = df.select(
        "id",
        keys(F.col("b"))[0].alias("fast"),
        *[(_dot(_vec_sql(w), "b") >= 0).alias(f"c{p}") for p, w in enumerate(planes)],
    ).collect()
    for r in got:
        canon = "0|" + "".join("1" if r[f"c{p}"] else "0" for p in range(n_bits))
        assert r.fast == canon, r.id


def test_vec_sql_non_finite_matches_lit_array(spark):
    """A literal vector with non-finite components parses to the same
    double values the per-element ``F.lit`` form builds (the CAST makes
    the parsed array's elements nullable; the values are the same)."""
    from etl_staging_spark.llmdata.simsearch import _vec_sql

    vals = [float("nan"), float("inf"), float("-inf"), 1.5]
    df = spark.range(1).select(
        F.expr(_vec_sql(vals)).alias("sql"),
        F.array(*[F.lit(v) for v in vals]).alias("lit"),
    )
    types = [df.schema[c].dataType.elementType for c in ("sql", "lit")]
    assert types[0] == types[1]
    row = df.first()
    assert [repr(v) for v in row.sql] == [repr(v) for v in row.lit]


def test_bm25_rejects_degenerate_queries(spark):
    from etl_staging_spark.llmdata import lexsearch

    docs = spark.createDataFrame([(0, "spark")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        lexsearch.bm25_topk(docs, [])
    with pytest.raises(ValueError, match="unique"):
        lexsearch.bm25_topk(docs, ["spark", "spark"])


# ---------------------------------------------------------------------------
# Segment-level dedup (linedup) and bigram-LM scoring (lm)
# ---------------------------------------------------------------------------


def test_segment_dedup_removes_planted_boilerplate(spark):
    from etl_staging_spark.llmdata import linedup

    uniq = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu one two three four",
    ]
    # same leading 8-token segment planted in every doc (df=3 > max_df=2);
    # each unique 10-token tail spans segments 2 and 3
    body = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [(i, f"{body} {u}") for i, u in enumerate(uniq)]
    out = linedup.segment_dedup(
        spark.createDataFrame(rows, "doc_id long, text string"), k=8, max_df=2
    )
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 3
    for i, u in enumerate(uniq):
        r = got[i]
        assert r.n_removed == 1, r          # the shared body segment
        assert r.clean_text == u            # unique tail survives, in order
        assert r.n_segs == 3


def test_segment_dedup_all_removed_yields_empty_text(spark):
    from etl_staging_spark.llmdata import linedup

    t = "a b c d e f g h"
    df = spark.createDataFrame(
        [(i, t) for i in range(4)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in linedup.segment_dedup(df, k=8, max_df=2).collect()}
    assert all(r.clean_text == "" and r.n_removed == 1 for r in out.values())


def test_segment_dedup_keeps_order_across_removed_middle(spark):
    from etl_staging_spark.llmdata import linedup

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs = [
        (0, f"a1 a2 a3 a4 a5 a6 a7 a8 {shared} z1 z2 z3"),
        (1, f"b1 b2 b3 b4 b5 b6 b7 b8 {shared} y1 y2"),
        (2, f"c1 c2 c3 c4 c5 c6 c7 c8 {shared} x1"),
    ]
    out = {
        r.doc_id: r
        for r in linedup.segment_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"), k=8, max_df=2
        ).collect()
    }
    assert out[0].clean_text == "a1 a2 a3 a4 a5 a6 a7 a8 z1 z2 z3"
    assert out[1].clean_text == "b1 b2 b3 b4 b5 b6 b7 b8 y1 y2"
    assert out[2].clean_text == "c1 c2 c3 c4 c5 c6 c7 c8 x1"


def test_lm_bigram_score_hand_computed(spark):
    from etl_staging_spark.llmdata import lm

    # corpus: "a b a b" and "a c" -> tokens a,b,a,b,a,c ; V = 3
    # unigrams: a=3, b=2, c=1
    # bigram occurrences: d0: (a b),(b a),(a b) ; d1: (a c)
    # counts: "a b"=2, "b a"=1, "a c"=1 ; min_count=2 keeps only "a b"
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in lm.lm_bigram_score(df, min_count=2).collect()}
    # doc0: p(a b)=(2+1)/(3+3)=0.5 twice; p(b a)=(0+1)/(2+3)=0.2
    assert out[0].n_bigrams == 3
    assert out[0].avg_prob == pytest.approx((0.5 + 0.5 + 0.2) / 3, abs=2e-6)
    # doc1: p(a c)=(0+1)/(3+3) rounded to 0.166667
    assert out[1].n_bigrams == 1
    assert out[1].avg_prob == pytest.approx(0.166667, abs=1e-9)


def test_lm_bigram_short_docs_excluded(spark):
    from etl_staging_spark.llmdata import lm

    df = spark.createDataFrame(
        [(0, "solo"), (1, "two words here")], "doc_id long, text string"
    )
    out = lm.lm_bigram_score(df, min_count=1).collect()
    assert {r.doc_id for r in out} == {1}


def test_shard_manifest_detects_any_content_change(spark):
    from etl_staging_spark.llmdata import sampling

    rows = [(i, f"doc number {i} body words here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {r.shard: r for r in sampling.shard_manifest(df, 8).collect()}
    assert sum(r.n_docs for r in base.values()) == 40

    # flip one character in one document: exactly that doc's shard
    # changes, and only its checksum (counts stay identical)
    rows2 = list(rows)
    rows2[17] = (17, rows[17][1] + "!")
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got = {r.shard: r for r in sampling.shard_manifest(df2, 8).collect()}
    diff = [s for s in base if base[s].content_xor != got[s].content_xor]
    assert len(diff) == 1
    s = diff[0]
    assert base[s].n_docs == got[s].n_docs
    # token count unchanged ("here!" is still one token)
    assert base[s].n_tokens == got[s].n_tokens
    same = [s2 for s2 in base if s2 != s]
    assert all(base[s2] == got[s2] for s2 in same)


def test_shard_manifest_partition_order_free(spark):
    from etl_staging_spark.llmdata import sampling

    rows = [(i, f"text {i} alpha beta") for i in range(30)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    df2 = (
        spark.createDataFrame(list(reversed(rows)), "doc_id long, text string")
        .repartition(7)
    )
    m1 = sorted(sampling.shard_manifest(df1, 4).collect())
    m2 = sorted(sampling.shard_manifest(df2, 4).collect())
    assert m1 == m2


def test_rrf_fuse_hand_example(spark):
    from etl_staging_spark.llmdata import fusion

    # lexical: doc 1 > doc 2 > doc 3 ; semantic ranks: doc 2 #1, doc 9 #2
    lex = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    sem = spark.createDataFrame([(2, 1), (9, 2)], "cid long, rank int")
    out = {r.doc_id: r for r in fusion.rrf_fuse(lex, sem).collect()}
    assert set(out) == {1, 2, 3, 9}
    # doc 2: both rankers -> 1/62 + 1/61
    assert out[2].rrf_score == pytest.approx(1 / 62 + 1 / 61, abs=2e-6)
    assert out[2].final_rank == 1
    # doc 1: lexical only -> 1/61; beats doc 9 (1/62) and doc 3 (1/63)
    assert out[1].final_rank == 2
    assert out[9].final_rank == 3 and out[9].lex_rank is None
    assert out[3].final_rank == 4 and out[3].sem_rank is None


def test_segment_dedup_identity_when_cutoff_never_hit(spark):
    from etl_staging_spark.llmdata import linedup

    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(6)]
    out = {
        r.doc_id: r
        for r in linedup.segment_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"),
            k=8, max_df=10_000,
        ).collect()
    }
    for i, t in rows:
        assert out[i].clean_text == t and out[i].n_removed == 0


def test_segment_dedup_matches_python_reference(spark):
    import random
    from collections import Counter

    from etl_staging_spark.llmdata import linedup

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab => natural repeats
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(30)
    ]
    K, MAXDF = 4, 2
    segs_of = lambda t: [
        " ".join(t.split(" ")[p : p + K]) for p in range(0, len(t.split(" ")), K)
    ]
    df_cnt = Counter(s for _, t in docs for s in segs_of(t))
    expected = {}
    for i, t in docs:
        segs = segs_of(t)
        keep = [s for s in segs if df_cnt[s] <= MAXDF]
        expected[i] = (len(segs), len(segs) - len(keep), " ".join(keep))
    out = {
        r.doc_id: (r.n_segs, r.n_removed, r.clean_text)
        for r in linedup.segment_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"),
            k=K, max_df=MAXDF,
        ).collect()
    }
    assert out == expected


def test_lm_bigram_matches_python_reference(spark):
    import math
    import random
    from collections import Counter

    from etl_staging_spark.llmdata import lm

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(25)
    ]
    uni, big = Counter(), Counter()
    for _, t in docs:
        toks = t.split(" ")
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    V = len(uni)
    pr6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    expected = {}
    for i, t in docs:
        toks = t.split(" ")
        ps = [
            pr6(((big[(a, b)] if big[(a, b)] >= 2 else 0) + 1) / (uni[a] + V))
            for a, b in zip(toks, toks[1:])
        ]
        expected[i] = (len(ps), sum(ps) / len(ps))
    out = {
        r.doc_id: (r.n_bigrams, r.avg_prob)
        for r in lm.lm_bigram_score(
            spark.createDataFrame(docs, "doc_id long, text string"), min_count=2
        ).collect()
    }
    assert set(out) == set(expected)
    for i in expected:
        assert out[i][0] == expected[i][0], i
        assert out[i][1] == pytest.approx(expected[i][1], abs=2e-6), i


def test_stratified_sample_growth_stability(spark):
    from etl_staging_spark.llmdata import sampling

    rows = [(i, "s" + str(i % 3), f"text {i}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    panel = {
        (r.doc_id, r.stratum)
        for r in sampling.stratified_sample_n(df, 5).collect()
    }
    assert len(panel) == 15  # 5 per stratum x 3 strata
    # growing the corpus keeps the panel stable except where a new doc's
    # hash outranks a member: displacement is at most 1 per new doc
    rows2 = rows + [(1000, "s0", "newcomer")]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string, text string")
    panel2 = {
        (r.doc_id, r.stratum)
        for r in sampling.stratified_sample_n(df2, 5).collect()
    }
    assert len(panel2) == 15
    assert len(panel - panel2) <= 1
    # deterministic across partitionings
    df3 = spark.createDataFrame(list(reversed(rows)), "doc_id long, source string, text string").repartition(13)
    panel3 = {
        (r.doc_id, r.stratum)
        for r in sampling.stratified_sample_n(df3, 5).collect()
    }
    assert panel3 == panel


def test_vocab_and_bpe_hand_counts(spark):
    from etl_staging_spark.llmdata import vocab

    df = spark.createDataFrame(
        [(0, "aa ab aa"), (1, "ab bb")], "doc_id long, text string"
    )
    vt = {r.token: (r.cnt, r.rank) for r in vocab.vocab_topk(df, k=10).collect()}
    assert vt == {"aa": (2, 1), "ab": (2, 2), "bb": (1, 3)}
    # pairs: aa occurs in 'aa'x2 -> 2 ; ab in 'ab'x2 -> 2 ; bb in 'bb' -> 1
    bp = {r.pair: (r.cnt, r.rank) for r in vocab.bpe_pair_counts(df, k=10).collect()}
    assert bp == {"aa": (2, 1), "ab": (2, 2), "bb": (1, 3)}
    cov = vocab.vocab_coverage(df, k=2).collect()[0]
    assert (cov.covered, cov.total) == (4, 5)
    assert cov.coverage == 0.8


def test_bpe_train_matches_python_reference(spark):
    import random
    from collections import Counter

    from etl_staging_spark.llmdata import vocab

    rng = random.Random(3)
    words = ["banana", "bandana", "cabana", "anab", "nana", "ba", "a"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 12))))
        for i in range(20)
    ]

    def py_bpe(texts, n_merges):
        wc = Counter(w for t in texts for w in t.split(" ") if w)
        tables = {w: [c for c in w] for w in wc}
        out = []
        for rank in range(1, n_merges + 1):
            pc = Counter()
            for w, syms in tables.items():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += wc[w]
            if not pc:
                break
            # count desc, then (l, r) asc — the trainer's tie-break
            (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, l, r, l + r, cnt))
            for w, syms in tables.items():
                merged, i = [], 0
                while i < len(syms):
                    if (
                        merged
                        and merged[-1] == l
                        and syms[i] == r
                    ):
                        merged[-1] = l + r
                        i += 1
                    else:
                        merged.append(syms[i])
                        i += 1
                tables[w] = merged
        return out

    want = py_bpe([t for _, t in docs], 8)
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in vocab.bpe_train(
            spark.createDataFrame(docs, "doc_id long, text string"), n_merges=8
        ).orderBy("merge_rank").collect()
    ]
    assert got == want


def test_lm_model_artifacts_match_inline_scoring(spark):
    """Scoring a batch against the persisted LM equals the inline
    trainer-scorer when the batch IS the training corpus (same counts,
    same smoothing), and unseen tokens fall back to c1=0."""
    from etl_staging_spark.llmdata import lm

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c"), (2, "b a b c")],
        "doc_id long, text string",
    )
    lm.write_lm_model(docs, "lmtest", min_count=2, n_buckets=2)
    try:
        inline = {
            (r.doc_id, r.n_bigrams, r.avg_prob)
            for r in lm.lm_bigram_score(docs, min_count=2).collect()
        }
        stored = {
            (r.doc_id, r.n_bigrams, r.avg_prob)
            for r in lm.score_with_model(docs, "lmtest").collect()
        }
        assert stored == inline
        # unseen vocab: "z z" has no trained unigrams/bigrams ->
        # p = (0+1)/(0+V); V = 3 (a, b, c)
        new = spark.createDataFrame([(9, "z z")], "doc_id long, text string")
        r9 = lm.score_with_model(new, "lmtest").collect()[0]
        assert r9.n_bigrams == 1
        assert r9.avg_prob == pytest.approx(1 / 3, abs=2e-6)
    finally:
        for t in ("lmtest_uni", "lmtest_big", "lmtest_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_chunk_overlap_coverage_and_overlap(spark):
    from etl_staging_spark.llmdata import linedup

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(0, " ".join(toks)), (1, "short doc")], "doc_id long, text string"
    )
    out = {
        (r.doc_id, r.chunk_id): r
        for r in linedup.chunk_overlap(df, w=4, stride=3).collect()
    }
    # doc 0: 10 tokens, w=4 s=3 -> 1 + ceil(6/3) = 3 chunks
    assert {c for d, c in out if d == 0} == {0, 1, 2}
    assert out[(0, 0)].chunk_text == "t0 t1 t2 t3"
    assert out[(0, 1)].chunk_text == "t3 t4 t5 t6"      # 1-token overlap
    assert out[(0, 2)].chunk_text == "t6 t7 t8 t9"
    # coverage: every token appears in some chunk
    seen = {t for (d, c), r in out.items() if d == 0 for t in r.chunk_text.split(" ")}
    assert seen == set(toks)
    # short doc -> exactly one whole-doc chunk
    assert out[(1, 0)].chunk_text == "short doc" and out[(1, 0)].n_tokens == 2
    with pytest.raises(ValueError):
        linedup.chunk_overlap(df, w=4, stride=5)


def test_contrastive_pairs_labels_and_exclusion(spark, docs):
    from etl_staging_spark.llmdata import pairs

    out = pairs.contrastive_pairs(docs, threshold=0.8, n_buckets=2).collect()
    pos = {(r.d1, r.d2) for r in out if r.label == 1}
    neg = {(r.d1, r.d2) for r in out if r.label == 0}
    assert (0, 1) in pos                 # the planted exact dup
    assert pos.isdisjoint(neg)           # a near-dup can never be a negative
    assert all(r.jaccard is None for r in out if r.label == 0)
    assert all(d1 < d2 for d1, d2 in pos | neg)
    # ring pairing: no doc appears in more than one NEGATIVE pair (a
    # hub anchor would be a skew disaster at corpus scale)
    from collections import Counter

    deg = Counter(d for p in neg for d in p)
    assert not deg or deg.most_common(1)[0][1] == 1
    # negatives are deterministic: same output on a different partitioning
    out2 = pairs.contrastive_pairs(
        docs.repartition(7), threshold=0.8, n_buckets=2
    ).collect()
    assert {(r.d1, r.d2, r.label) for r in out2} == {
        (r.d1, r.d2, r.label) for r in out
    }


def test_temperature_mixture_flattens_proportions(spark):
    from etl_staging_spark.llmdata import sampling

    rows = [(i, "big" if i < 400 else "small", f"text {i}") for i in range(450)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    counts = {"big": 400, "small": 50}
    # alpha=1 keeps natural shares; alpha->0 flattens toward uniform
    t1 = sampling.temperature_thresholds(counts, 1.0, 200)
    t3 = sampling.temperature_thresholds(counts, 0.3, 200)
    share = lambda t: t["small"] / max(t["big"], 1)
    assert share(t3) > share(t1)
    out = sampling.mixture_sample_temperature(df, alpha=0.3, target_total=200)
    got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    # the small domain is overrepresented relative to its 1/9 natural share
    assert got["small"] / (got["small"] + got["big"]) > 50 / 450
    with pytest.raises(ValueError):
        sampling.temperature_weights(counts, 0.0)


def test_assembly_v2_funnel_monotone(spark):
    import __spark_entry__ as entrymod

    out = entrymod.queries()["corpus_assembly_v2"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out, "funnel report must cover every source"
    for r in out:
        assert r.n_raw >= r.n_canon >= r.n_decontam >= r.n_seg >= r.n_final >= 0
        # the checksum is 0 iff nothing survived (XOR of a nonempty
        # 56-bit hash set is 0 with negligible probability)
        assert (r.n_final == 0) == (r.content_xor == 0)
    assert sum(r.n_final for r in out) > 0


def test_cluster_sizes_histogram_consistent_with_assignment(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    hist = qs["dedup_cluster_sizes"](spark, "/root/testdata/sf0.001").collect()
    cc = qs["dedup_cluster_cc"](spark, "/root/testdata/sf0.001").collect()
    assert sum(r.n_docs for r in hist) == len(cc)
    assert sum(r.n_clusters for r in hist) == len({r.cluster_id for r in cc})
    assert all(r.cluster_size >= 2 for r in hist)  # singletons never pair
    assert all(r.n_redundant == r.n_docs - r.n_clusters for r in hist)


def test_quality_histogram_partitions_the_corpus(spark):
    """Bins partition the docs exactly (counts sum to the corpus) and
    per-bin mean quality actually lies inside the bin's range."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.registry.QUERIES["quality_histogram"](spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        lo, hi = r.bin / 20.0, (r.bin + 1) / 20.0
        assert lo - 1e-6 <= r.avg_quality <= hi + 1e-6
        assert r.tokens > 0


def test_dedup_minhash_estimate_bounds(docs):
    """Estimated jaccard is a k/16 rational in [0,1]; on the planted
    exact-dup pair all 16 minhashes agree (est 1.0, err 0); every
    reported pair is a verified >= 0.8 near-dup."""
    from etl_staging_spark.llmdata import dedup as dd  # noqa: F401
    import __spark_entry__ as entrymod  # registry import side effects
    from etl_staging_spark.queries import registry as reg

    # drive the catalog builder on a temp view-free path: rebuild the
    # same composition directly from the fixture corpus
    from pyspark.sql import functions as F
    from etl_staging_spark.numeric import pround

    sh = dd.hashed_shingles(docs).persist()
    sigs = dd._signatures_from(sh)
    verified = dd._pair_jaccard(sh, dd.lsh_candidate_pairs(sigs), 0.8)
    n = 16
    matches = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n))
    s1 = sigs.select(F.col("doc_id").alias("d1"),
                     *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n)])
    s2 = sigs.select(F.col("doc_id").alias("d2"),
                     *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n)])
    est = matches / F.lit(n)
    out = (verified.select("d1", "d2", "jaccard").join(s1, "d1").join(s2, "d2")
           .select("d1", "d2", "jaccard", est.alias("jaccard_est"),
                   pround(F.abs(est - F.col("jaccard")), 6).alias("abs_err"))
           ).collect()
    got = {(r.d1, r.d2): r for r in out}
    assert (0, 1) in got  # the planted exact dup
    assert got[(0, 1)].jaccard_est == 1.0 and got[(0, 1)].abs_err == 0.0
    for r in out:
        assert 0.0 <= r.jaccard_est <= 1.0
        assert round(r.jaccard_est * n) == r.jaccard_est * n  # k/16 rational
        assert r.jaccard >= 0.8


def test_bpe_encode_report_matches_python_reference(spark):
    """Train merges on the corpus, encode the corpus with them, and
    compare every doc's BPE token count (and chars/compression) to a
    python-reference encoder applying the same merges in rank order."""
    import random

    from etl_staging_spark.llmdata import vocab

    rng = random.Random(5)
    words = ["banana", "bandana", "cabana", "anab", "nana", "ba", "a"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 12))))
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [
        (r.left, r.right)
        for r in vocab.bpe_train(df, n_merges=6).orderBy("merge_rank").collect()
    ]
    assert merges  # the fixture corpus must actually learn merges

    def py_encode(word):
        syms = list(word)
        for l, r in merges:
            out = []
            for ch in syms:
                if out and out[-1] == l and ch == r:
                    out[-1] = l + r
                else:
                    out.append(ch)
            syms = out
        return syms

    got = {r.doc_id: r for r in vocab.bpe_encode_report(df, merges).collect()}
    for doc_id, text in docs:
        toks = [w for w in text.lower().split(" ") if w]
        want_chars = sum(len(w) for w in toks)
        want_bpe = sum(len(py_encode(w)) for w in toks)
        assert got[doc_id].n_chars == want_chars, doc_id
        assert got[doc_id].n_bpe_tokens == want_bpe, doc_id
        assert got[doc_id].n_bpe_tokens <= want_chars  # merges only shrink
        assert abs(got[doc_id].compression - round(want_chars / want_bpe, 6)) < 2e-6


def test_ivf_cells_zero_norm_and_single_centroid(spark):
    """Robustness of the Arrow probe-cell kernel: a zero vector (cosine
    undefined) degrades to the deterministic by-centroid-id fallback
    instead of ZeroDivisionError, and a single-centroid codebook skips
    the adjacent-gap knife test instead of ValueError on an empty axis."""
    cent = {0: [1.0, 0.0], 3: [0.0, 1.0]}
    norms = {0: 1.0, 3: 1.0}
    cells = simsearch._ivf_cells_udf(cent, norms, probe=2)
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r.c for r in
            emb.select("vec_id", cells(F.col("embedding")).alias("c")).collect()}
    assert rows[0] == [0, 3]        # zero vector: ascending centroid ids
    assert rows[1] == [0, 3]        # normal vector: nearest first
    one = simsearch._ivf_cells_udf({7: [1.0, 0.0]}, {7: 1.0}, probe=1)
    rows1 = emb.select(one(F.col("embedding")).alias("c")).collect()
    assert [r.c for r in rows1] == [[7], [7]]


def test_simsearch_kernels_null_embedding_clear_error(spark):
    """Both Arrow kernels raise a clear ValueError on a NULL embedding
    instead of an opaque numpy failure (documented non-null contract)."""
    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, None)], "vec_id long, embedding array<double>"
    )
    keys = simsearch._mt_keys_udf(8, n_tables=1, bits=1)
    with pytest.raises(Exception, match="non-null embeddings"):
        emb.select(keys(F.col("embedding"))).collect()
    cells = simsearch._ivf_cells_udf({0: [1.0] * 8}, {0: float(8 ** 0.5)}, 1)
    with pytest.raises(Exception, match="non-null embeddings"):
        emb.select(cells(F.col("embedding"))).collect()


def test_semantic_dup_pairs_null_vector_excluded(spark):
    """NULL-vector rows are excluded before centroid resolution and
    discovery on BOTH semantic_dup_pairs paths (r10 hardening): a NULL
    vector among the first n_centroids ids neither crashes the
    centroids=None driver collect nor surfaces as a candidate, and the
    planted near-dup pair still verifies."""
    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.tables import release_pinned

    base = [0.0] * 8
    rows = [
        (0, [1.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, None),                      # NULL inside the centroid prefix
        (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (10, [1.0, 0.11, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # near-dup of 0
        (11, None),                     # NULL outside the prefix
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    verified = simsearch.semantic_dup_pairs(
        emb, threshold=0.95, dim=8, n_centroids=2
    )
    got = {(r.d1, r.d2) for r in verified.collect()}
    release_pinned(verified)
    assert (0, 10) in got
    assert not any(1 in p or 11 in p for p in got)

    cand = simsearch.semantic_dup_pairs(
        emb, threshold=0.95, dim=8, n_centroids=2,
        n_probe=2, tag_same_cell=True, candidates_only=True,
    )
    crows = cand.collect()
    release_pinned(cand)
    assert {(r.d1, r.d2) for r in crows if r.same_cell} >= {(0, 10)}
    assert not any(1 in (r.d1, r.d2) or 11 in (r.d1, r.d2) for r in crows)


def test_dedup_semantic_recall_card(spark):
    """The embedding-dedup recall card's measured floors: probe-3 IVF
    recovers >= 0.9 of the exact panel pairs (measured 1.0 at
    sf0.001/sf0.01, 0.92 at sf0.1) and dominates single-cell; the
    16-table LSH config clears 0.8 and dominates the cheap 2-band
    config; n_found == n_hit for every method (precision 1 — every
    reported pair is a true pair, all sides verify with the same exact
    cosine)."""
    import __spark_entry__ as entrymod

    rows = {r.method: r for r in
            entrymod.registry.QUERIES["dedup_semantic_recall"](
                spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"cell1", "probe3", "band2", "mtlsh"}
    for r in rows.values():
        assert r.n_found == r.n_hit     # precision 1 by construction
        assert r.n_exact > 0            # card is non-degenerate
    assert rows["probe3"].recall >= 0.9
    assert rows["probe3"].recall >= rows["cell1"].recall
    # multi-probe is the boundary-pair mitigation: it must actually
    # recover pairs the single-cell config misses on this data
    assert rows["probe3"].n_hit > rows["cell1"].n_hit
    # the 16-table config is the high-recall LSH path: it must clear
    # 0.8 and dominate the cheap 2-band config (measured 1.0 vs 0.2)
    assert rows["mtlsh"].recall >= 0.8
    assert rows["mtlsh"].recall > rows["band2"].recall


def test_semantic_dup_pairs_tagged_subset(spark):
    """tag_same_cell contract: the same_cell=true subset of a probe-3
    run equals the n_probe=1 output exactly (ids and cosines)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tagged = simsearch.semantic_dup_pairs(
        emb, threshold=0.35, dim=64, n_probe=3, tag_same_cell=True
    )
    single = simsearch.semantic_dup_pairs(emb, threshold=0.35, dim=64, n_probe=1)
    got = {(r.d1, r.d2, r.cell, r.cosine)
           for r in tagged.where("same_cell").collect()}
    want = {(r.d1, r.d2, r.cell, r.cosine) for r in single.collect()}
    assert got == want and len(want) > 0


def test_release_pinned_contract(spark):
    """release_pinned drops exactly the result's pinned frames (the
    multi-tenant alternative to clearCache) and is a no-op on frames
    without pins."""
    from etl_staging_spark.tables import pins_of, release_pinned

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = simsearch.lsh_multitable_topk(emb, F.col("vec_id") == 0, dim=64, k=2)
    out.collect()
    pins = pins_of(out)
    assert pins and all(f.storageLevel.useMemory for f in pins)
    release_pinned(out)
    assert all(not f.storageLevel.useMemory for f in pins)
    release_pinned(out)                    # idempotent
    release_pinned(emb.limit(1))           # no pins -> no-op


def test_semantic_dedup_trained_centroids_lift_recall(spark):
    """The SemDeDup realism knob: spherical-k-means centroids
    (train_ivf_centroids) produce more coherent cells than the
    deterministic first-8 seeds, so single-cell dup recall rises
    (measured 0.28 -> 0.42 on the sf0.001 embeddings) — the tunability
    the operator docstring promises, demonstrated."""
    from etl_staging_spark.llmdata.simsearch import (
        exact_dup_pairs,
        semantic_dup_pairs,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.d1, r.d2)
             for r in exact_dup_pairs(emb, F.lit(True), 0.35).collect()}
    assert len(exact) > 100
    first8 = {(r.d1, r.d2)
              for r in semantic_dup_pairs(emb, 0.35, dim=64).collect()}
    cents = train_ivf_centroids(emb, n_centroids=8)
    trained = {(r.d1, r.d2)
               for r in semantic_dup_pairs(
                   emb, 0.35, dim=64, centroids=cents).collect()}
    assert first8 <= exact and trained <= exact    # precision 1 both ways
    r_f8 = len(first8) / len(exact)
    r_tr = len(trained) / len(exact)
    assert r_tr > r_f8, (r_tr, r_f8)
    assert r_tr >= 0.35                            # measured 0.42


def test_embedding_index_matches_in_session_path(spark):
    """The persisted embedding LSH index returns the same verified
    matches as computing candidates in-session, planted colinear dup
    found at cosine 1, and the candidate join's corpus side reads the
    bucketed key table with no Exchange above it."""
    import contextlib
    import io

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    simsearch.write_embedding_index(corpus, "emb_ix_test", dim=64, n_buckets=4)
    base = corpus.where("vec_id = 7").collect()[0].embedding
    batch = spark.createDataFrame(
        [(10007, [2.0 * float(v) for v in base]),   # colinear dup of 7
         (10008, [float(i == 0) for i in range(64)])],
        "vec_id long, embedding array<double>",
    )
    try:
        got = {(r.d1, r.d2, r.cosine)
               for r in simsearch.incremental_embedding_matches(
                   spark, batch, "emb_ix_test", threshold=0.9, dim=64
               ).collect()}
        assert (10007, 7, 1.0) in got
        assert all(d1 in (10007, 10008) and d2 < 10000 for d1, d2, _ in got)
        # in-session reference: same keys, same verify, no index
        union = corpus.unionByName(
            batch.select("vec_id", F.col("embedding").cast("array<float>"))
        )
        want = {(r.qid, r.cid)
                for r in simsearch.lsh_multitable_candidates(
                    union, F.col("vec_id") >= 10000, dim=64).collect()
                if r.cid < 10000}  # index path is batch-vs-CORPUS only
        cand = {(r.d1, r.d2)
                for r in simsearch.indexed_embedding_candidates(
                    spark, batch, "emb_ix_test", dim=64).collect()}
        assert cand == want and cand

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cands = simsearch.indexed_embedding_candidates(
                spark, batch, "emb_ix_test", dim=64)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                cands.explain("formatted")
            plan = buf.getvalue()
            tree = plan.split("\n\n")[0].splitlines()
            scan_i = next(i for i, ln in enumerate(tree)
                          if "Scan parquet" in ln and "emb_ix_test_keys" in ln)
            join_i = max(i for i, ln in enumerate(tree[:scan_i]) if "Join" in ln)
            corpus_branch = [ln for ln in tree[join_i + 1: scan_i] if ":" not in ln]
            assert all("Exchange" not in ln for ln in corpus_branch), plan

            # the VERIFY join's corpus side (the bucketed _vecs table)
            # must likewise read with no Exchange — a union of batch
            # and corpus into both verify sides would shuffle the whole
            # vector table per batch
            full = simsearch.incremental_embedding_matches(
                spark, batch, "emb_ix_test", threshold=0.9, dim=64)
            buf2 = io.StringIO()
            with contextlib.redirect_stdout(buf2):
                full.explain("formatted")
            vplan = buf2.getvalue()
            vtree = vplan.split("\n\n")[0].splitlines()
            vscan_i = next(i for i, ln in enumerate(vtree)
                           if "Scan parquet" in ln and "emb_ix_test_vecs" in ln)
            vjoin_i = max(i for i, ln in enumerate(vtree[:vscan_i]) if "Join" in ln)
            vbranch = [ln for ln in vtree[vjoin_i + 1: vscan_i] if ":" not in ln]
            assert all("Exchange" not in ln for ln in vbranch), vplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_ix_test_keys")
        spark.sql("DROP TABLE IF EXISTS emb_ix_test_vecs")


def test_embedding_index_append_grows_corpus(spark):
    """append_embedding_index: a vector appended after the initial
    write is matched by the next batch exactly like an original corpus
    vector (same bucket spec, exchange-free join property preserved)."""
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").where("vec_id < 100")
    simsearch.write_embedding_index(corpus, "emb_grow_test", dim=64, n_buckets=4)
    nv = [float((i * 37) % 11 - 5) for i in range(64)]      # novel direction
    try:
        simsearch.append_embedding_index(
            spark.createDataFrame([(500, nv)], "vec_id long, embedding array<double>"),
            "emb_grow_test", dim=64, n_buckets=4,
        )
        batch = spark.createDataFrame(
            [(9000, [2.0 * v for v in nv])], "vec_id long, embedding array<double>"
        )
        got = {(r.d1, r.d2, r.cosine)
               for r in simsearch.incremental_embedding_matches(
                   spark, batch, "emb_grow_test", threshold=0.9, dim=64
               ).collect()}
        assert (9000, 500, 1.0) in got, got
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_grow_test_keys")
        spark.sql("DROP TABLE IF EXISTS emb_grow_test_vecs")


def test_band2_buckets_equal_table_keys_prefix(spark):
    """The recall card derives the 2-band buckets from tables 0-1 of
    the 16x4-bit key kernel. That is only sound if hyperplanes(8) is a
    prefix of hyperplanes(64) and the bucket strings coincide — pinned
    here: candidates from the key-prefix construction equal
    cosine_dup_pairs' own discovery exactly."""
    from etl_staging_spark.llmdata.hashing import hyperplanes

    assert hyperplanes(8, 64) == hyperplanes(64, 64)[:8]
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = {(r.d1, r.d2) for r in simsearch.cosine_dup_pairs(
        emb, threshold=0.0, dim=64, bands=2, candidates_only=True).collect()}
    keyed = simsearch._table_keys_frame(emb, F.lit(False), dim=64)
    ka = keyed.select(F.col("vec_id").alias("d1"), "bkt")
    kb = keyed.select(F.col("vec_id").alias("d2"), "bkt")
    got = {(r.d1, r.d2) for r in
           ka.join(kb, "bkt")
           .where(F.col("d1") < F.col("d2"))
           .where(F.substring_index("bkt", "|", 1).isin("0", "1"))
           .select("d1", "d2").distinct().collect()}
    assert got == want and got


def test_corpus_pipeline_facade_matches_manual_composition(spark):
    """The fluent builder delegates to the exact stage operators, so a
    chained run equals the hand-composed stages on the same docs — and
    each planted offender is dropped by its own stage."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.llmdata import decontam as dc, sampling as sp, textstats as ts

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    )
    bench_text = "unique benchmark sequence about ancient observatories and stars"
    rows = (
        [(i, good + f" tail{i}", "web") for i in range(8)]
        + [(21, good + " tail1", "web")]             # exact dup of doc 1
        + [(30, "spam ham " * 10, "web")]            # repetition gate
        + [(31, good + " " + bench_text, "web")]     # decontamination
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([(900, bench_text)], "doc_id long, text string")

    out = (
        CorpusPipeline(docs)
        .dedup_exact()
        .decontaminate(bench)
        .quality_gate(0.5)
        .repetition_gate()
        .split({"train": 0.9, "val": 0.1})
    )
    got = {r.doc_id: r.split for r in out.frame().collect()}
    out.release()

    # manual composition with the same operators
    canon = dedup.exact_dup_groups(docs).select(
        F.col("canonical_doc_id").alias("doc_id"))
    d1 = docs.join(canon, "doc_id", "left_semi")
    clean = dc.ngram_overlap(d1, bench, n=5, min_hits=1).where(
        ~F.col("contaminated")).select("doc_id")
    d2 = d1.join(clean, "doc_id", "left_semi")
    q = ts.quality_scores(d2).where(F.col("quality") >= 0.5).select("doc_id")
    d3 = d2.join(q, "doc_id", "left_semi")
    rep = ts.repetition_stats(d3).persist()
    d4 = d3.join(rep.where(~F.col("repetitive")).select("doc_id"),
                 "doc_id", "left_semi")
    want = {r.doc_id: r.split for r in sp.hash_split(
        d4, {"train": 0.9, "val": 0.1}).collect()}
    rep.unpersist()

    assert got == want
    assert 21 not in got          # exact-dup loser (doc 1 is canonical)
    assert 30 not in got and 31 not in got
    assert set(range(8)) <= set(got)


def test_corpus_pipeline_dedup_near_stage(spark, docs):
    """The near-dup stage keeps exactly the cluster canonicals plus
    every singleton (module fixture: 0,1,2 one near-dup cluster with
    canonical 0; 3,4 a cluster with canonical 3; 5 a singleton)."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    out = CorpusPipeline(docs).dedup_near(threshold=0.5).frame()
    assert {r.doc_id for r in out.collect()} == {0, 3, 5}


def test_corpus_pipeline_segment_clean_and_lm_stages(spark, tmp_path):
    """The text-rewriting and model-backed stages: hot segments are
    scrubbed from the surviving text, and the LM gate keeps docs the
    persisted model scores above the floor."""
    from etl_staging_spark.llmdata import linedup, lm
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.llmdata.hashing import portable_hash56

    boiler = "subscribe to our newsletter for updates every day"
    body = "the river carried silt from the mountains toward the delta plains"
    docs = spark.createDataFrame(
        [(1, boiler + " " + body, "web"), (2, boiler, "web")],
        "doc_id long, text string, source string",
    )
    k = linedup.SEG_TOKENS
    hot = (
        spark.createDataFrame([(boiler,)], "seg string")
        .select(portable_hash56(F.col("seg")).alias("h"))
    )
    # the boiler fixture must BE one segment for the planted scrub
    assert len(boiler.split()) == k, "fixture must be exactly one segment"
    out = CorpusPipeline(docs).segment_clean(hot).frame().collect()
    assert {r.doc_id: r.text for r in out} == {1: body}  # doc 2 emptied -> dropped

    # LM gate: train on good text; gibberish scores below the floor
    corpus = spark.createDataFrame(
        [(10, body + " " + body)], "doc_id long, text string")
    lm.write_lm_model(corpus, "pipe_lm_test", n_buckets=2)
    try:
        gated = spark.createDataFrame(
            [(1, body, "web"), (2, "zz qq xx vv kk jj pp ww", "web")],
            "doc_id long, text string, source string",
        )
        # add-one smoothing floors unseen bigrams near 1/V (~0.09 on
        # this tiny vocab); in-corpus bigrams score ~(c+1)/(c+V) ~0.2+
        kept = CorpusPipeline(gated).lm_quality_gate(
            "pipe_lm_test", 0.15).frame().collect()
        assert {r.doc_id for r in kept} == {1}
    finally:
        for t in ("pipe_lm_test_uni", "pipe_lm_test_big", "pipe_lm_test_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_pipeline_segment_clean_null_text_passthrough(spark):
    """segment_clean touches a doc only when it actually removed a
    segment: NULL text (no cleaned row), ''-text (lone empty segment,
    never hot), short sub-k docs, doubled-space docs — anything with
    zero removals — passes through BYTE-IDENTICAL (no whitespace
    normalization from the rebuild), while a doc whose rewrite emptied
    is dropped and a genuinely scrubbed doc carries the rebuilt text
    (r11 ADVICE hardening)."""
    from etl_staging_spark.llmdata import linedup
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.llmdata.hashing import portable_hash56

    boiler = "subscribe to our newsletter for updates every day"
    body = "the river carried silt from the mountains toward the delta plains"
    assert len(boiler.split()) == linedup.SEG_TOKENS
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + body, "web"),  # rewritten
            (2, boiler, "web"),               # empties -> dropped
            (3, None, "web"),                 # NULL text -> passthrough
            (4, "???", "web"),                # 1 short seg, 0 removed
            (5, "too short to scrub", "web"), # sub-k seg, 0 removed
            (6, "", "web"),                   # '' seg never hot, 0 removed
            (7, "doubled  spaces  kept", "web"),  # byte-identical, no
                                                  # whitespace rewrite
        ],
        "doc_id long, text string, source string",
    )
    hot = (
        spark.createDataFrame([(boiler,)], "seg string")
        .select(portable_hash56(F.col("seg")).alias("h"))
    )
    out = CorpusPipeline(docs).segment_clean(hot).frame()
    assert out.columns == ["doc_id", "text", "source"]
    assert {r.doc_id: r.text for r in out.collect()} == {
        1: body, 3: None, 4: "???", 5: "too short to scrub",
        6: "", 7: "doubled  spaces  kept",
    }


def test_corpus_pipeline_mixture_stages(spark):
    """The mixture back-end stages delegate to the certified sampling
    operators: chained results equal the direct operator calls on the
    same surviving frame."""
    from etl_staging_spark.llmdata import sampling as sp
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    rows = [(i, f"document body number {i} with words", "web" if i % 3 else "books")
            for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    got = {r.doc_id for r in
           CorpusPipeline(docs).mixture({"web": 0.5, "books": 0.5}, 40)
           .frame().collect()}
    want = {r.doc_id for r in
            sp.mixture_sample(docs, {"web": 0.5, "books": 0.5}, 40).collect()}
    assert got == want and got

    got_t = {r.doc_id for r in
             CorpusPipeline(docs).mixture_temperature(0.5, 40).frame().collect()}
    want_t = {r.doc_id for r in
              sp.mixture_sample_temperature(docs, 0.5, 40).collect()}
    assert got_t == want_t and got_t


def test_corpus_pipeline_cluster_share_and_curriculum(spark):
    """The r16 pipeline rungs delegate to the certified operators:
    mixture_by_cluster_share keeps EXACTLY the ids the
    cluster_share_mixture card counts (the actuator and the card share
    one planning pass), and curriculum() equals curriculum_order over
    the surviving corpus's quality scores."""
    from etl_staging_spark.llmdata import sampling as sp
    from etl_staging_spark.llmdata import simsearch, textstats
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    pipe = CorpusPipeline(docs).mixture_by_cluster_share(emb, 200)
    got = {r.doc_id for r in pipe.frame().select("doc_id").collect()}
    want = {r.doc_id for r in simsearch.cluster_share_kept(
        docs.select("doc_id", "source"), emb, 200
    ).collect()}
    assert got == want and got
    # the card's per-source n_kept counts the same decision
    card = {r.source: r.n_kept for r in simsearch.cluster_share_mixture(
        docs.select("doc_id", "source"), emb, 200
    ).collect()}
    per_src = {s: 0 for s in card}
    for r in pipe.frame().select("source").collect():
        per_src[r.source] += 1
    assert per_src == card

    cur = {(r.doc_id, r.shard, r.stage, r.position)
           for r in pipe.curriculum(n_shards=4).collect()}
    scored = textstats.quality_scores(pipe.frame()).select(
        "doc_id", "quality"
    )
    want_cur = {(r.doc_id, r.shard, r.stage, r.position)
                for r in sp.curriculum_order(scored, n_shards=4).collect()}
    assert cur == want_cur and cur
    assert {d for d, *_ in cur} == got  # survivors only


def test_corpus_pipeline_to_curriculum_shards(spark, tmp_path):
    """The terminal curriculum writer materializes exactly the
    surviving corpus, in the same (shard, stage, position) assignment
    `curriculum()` reports."""
    import glob

    import pyarrow.parquet as pq

    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pipe = CorpusPipeline(docs).dedup_exact()
    out = str(tmp_path / "cur")
    pipe.to_curriculum_shards(out, n_shards=2)
    want = {
        (r.doc_id, r.shard, r.stage, r.position)
        for r in pipe.curriculum(n_shards=2).collect()
    }
    got = set()
    for k in range(2):
        for f in glob.glob(f"{out}/shard={k}/*.parquet"):
            t = pq.read_table(f)
            got |= set(zip(
                t.column("doc_id").to_pylist(),
                [k] * t.num_rows,
                t.column("stage").to_pylist(),
                t.column("position").to_pylist(),
            ))
    assert got == want and got


def test_corpus_pipeline_epochs_rekeys_uniquely(spark):
    """The epochs stage repeats docs per source with UNIQUE new ids
    (doc_id * E + epoch-1, E = max repeat factor): pack join keys and
    the manifest XOR both require uniqueness, and the original id stays
    recoverable as doc_id DIV E. A 0-epoch source vanishes."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [(1, "alpha text", "web"), (2, "bravo text", "books"),
         (3, "charlie text", "junk")],
        "doc_id long, text string, source string",
    )
    out = (CorpusPipeline(docs)
           .epochs({"web": 3, "junk": 0}, default_epochs=1)
           .frame().collect())
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids)) == 4          # 3 copies + 1 + 0
    orig = sorted(i // 3 for i in ids)
    assert orig == [1, 1, 1, 2]
    # each copy keeps the source row's text
    assert {r.text for r in out} == {"alpha text", "bravo text"}


def test_corpus_pipeline_to_training_set_verifies(spark, tmp_path):
    """Terminal action: the full chain (gates -> epochs -> pack) writes
    shard=K parquet whose recomputed manifest matches — ok on every
    shard — and the written docs are exactly the upsampled survivors."""
    from etl_staging_spark.llmdata import trainset
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    rows = [(i, f"clean document body {i} " + "word " * (5 + i % 7), "web")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    path = str(tmp_path / "ts")

    pipe = CorpusPipeline(docs).dedup_exact().epochs({"web": 2})
    survivors = pipe.frame().count()
    manifest = pipe.to_training_set(path, n_shards=4, seq_len=64)
    ver = trainset.verify_training_set(spark, path, manifest, n_shards=4)
    rows_v = ver.collect()
    assert len(rows_v) == 4 and all(r.ok for r in rows_v)
    written = spark.read.parquet(path)
    assert written.count() == survivors == 80
    assert written.select("doc_id").distinct().count() == 80
    # curriculum schedule: same survivors, same manifest verify loop,
    # stage column present and non-increasing per shard
    path_c = str(tmp_path / "ts_cur")
    manifest_c = pipe.to_training_set(
        path_c, n_shards=4, seq_len=64, schedule="curriculum"
    )
    ver_c = trainset.verify_training_set(spark, path_c, manifest_c, 4)
    assert all(r.ok for r in ver_c.collect())
    wc = spark.read.parquet(path_c)
    assert wc.count() == 80 and "stage" in wc.columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown schedule"):
        pipe.to_training_set(path_c, 4, 64, schedule="random")
    pipe.release()


def test_source_overlap_matrix_planted(spark):
    """Cross-source duplication matrix on a planted corpus: one
    near-dup pair spanning web<->cc, one within-source (diagonal) web
    pair, and a books corpus with no dups anywhere."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.tables import release_pinned

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen "
             "eighteen nineteen twenty twentyone twentytwo twentythree")
    rows = [
        (1, base + " end1", "web"),          # near-dup with 2 (cross) and 3 (diag)
        (2, base + " end2", "cc"),
        (3, base + " end3", "web"),
        (4, other + " tail", "books"),       # no partner
        (5, "totally different short text about rivers", "cc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = stats.source_overlap_matrix(docs, threshold=0.7)
    got = {(r.source_a, r.source_b):
           (r.n_pairs, r.docs_a, r.docs_b, r.frac_a, r.frac_b)
           for r in out.collect()}
    release_pinned(out)

    # cc<->web: pairs (1,2) and (2,3); cc side = {2}, web side = {1,3}
    assert got[("cc", "web")][0] == 2
    assert got[("cc", "web")][1] == 1 and got[("cc", "web")][2] == 2
    assert got[("cc", "web")][3] == 0.5          # 1 of 2 cc docs
    assert got[("cc", "web")][4] == 1.0          # 2 of 2 web docs
    # web diagonal: pair (1,3), both docs counted once on each side
    assert got[("web", "web")] == (1, 2, 2, 1.0, 1.0)
    assert ("books", "books") not in got and len(got) == 2


def test_corpus_pipeline_dedup_semantic_stage(spark):
    """Semantic-dedup stage: planted embedding clusters — docs 1,2
    near-identical vectors (cluster, canonical 1), doc 3 orthogonal,
    doc 4 has no vector at all; doc 5 was already dropped upstream so
    its vector must not resurrect it or drag doc 1 out."""
    import numpy as np
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    rng = np.random.RandomState(7)
    v1 = rng.randn(64); v2 = v1 + rng.randn(64) * 0.01
    v3 = rng.randn(64); v5 = v1 + rng.randn(64) * 0.01
    docs = spark.createDataFrame(
        [(i, f"text {i}", "web") for i in (1, 2, 3, 4)],
        "doc_id long, text string, source string",
    )
    emb = spark.createDataFrame(
        [(1, v1.tolist()), (2, v2.tolist()), (3, v3.tolist()),
         (5, v5.tolist())],
        "doc_id long, embedding array<float>",
    )
    pipe = CorpusPipeline(docs).dedup_semantic(emb, threshold=0.9)
    got = {r.doc_id for r in pipe.frame().collect()}
    pipe.release()
    assert got == {1, 3, 4}


def test_corpus_pipeline_lm_gate_abstains_on_short_docs(spark):
    """The LM gate is TOTAL: a doc too short for any bigram has no
    score row and must SURVIVE the gate (abstain), not vanish — only
    scored docs below the floor drop."""
    from etl_staging_spark.llmdata import lm
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    body = "the river carried silt from the mountains toward the delta plains"
    corpus = spark.createDataFrame(
        [(10, body + " " + body)], "doc_id long, text string")
    lm.write_lm_model(corpus, "pipe_lm_abstain", n_buckets=2)
    try:
        docs = spark.createDataFrame(
            [(1, body, "web"),                       # scores above floor
             (2, "zz qq xx vv kk jj pp ww", "web"),  # scores below floor
             (3, "hello", "web")],                   # one token: no bigram
            "doc_id long, text string, source string",
        )
        kept = CorpusPipeline(docs).lm_quality_gate(
            "pipe_lm_abstain", 0.15).frame().collect()
        assert {r.doc_id for r in kept} == {1, 3}
    finally:
        for t in ("pipe_lm_abstain_uni", "pipe_lm_abstain_big",
                  "pipe_lm_abstain_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_quality_threshold_for_keep_rate(spark):
    """The calibrated cut keeps AT LEAST the requested fraction under
    the RAW-score filter quality_gate actually applies, and a tighter
    rate never lowers the threshold."""
    from etl_staging_spark.llmdata import stats, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    scored = textstats.quality_scores(docs).select("doc_id", "quality")
    for rate in (0.3, 0.7, 1.0):
        t = stats.quality_threshold_for_keep_rate(docs, rate)
        # raw >= t: the quality_gate convention the cut is built for
        kept = scored.where(F.col("quality") >= t).count()
        assert kept >= rate * n, (rate, t, kept, n)
    t_loose = stats.quality_threshold_for_keep_rate(docs, 0.9)
    t_tight = stats.quality_threshold_for_keep_rate(docs, 0.2)
    assert t_tight >= t_loose
    assert stats.quality_threshold_for_keep_rate(docs.where("doc_id < 0"), 0.5) == 0.0


def test_corpus_pipeline_quality_gate_keep_rate(spark):
    """The calibrated quality stage keeps at least the requested
    fraction of the chain's SURVIVORS (calibration happens after the
    upstream stages narrow, not on the raw corpus)."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pipe = CorpusPipeline(docs).dedup_exact()
    n_before = pipe.frame().count()
    kept = pipe.quality_gate_keep_rate(0.6).frame().count()
    assert kept >= 0.6 * n_before
    assert kept < n_before  # the gate actually cut something


def test_quality_threshold_null_text_docs_excluded(spark):
    """NULL/empty-text docs score NULL quality; the calibrator must
    neither crash on the None bucket nor count them in the rate's
    denominator (no threshold could ever keep them)."""
    from etl_staging_spark.llmdata import stats

    good = [(i, f"some reasonable document text number {i} here", "web")
            for i in range(10)]
    docs = spark.createDataFrame(
        good + [(90, None, "web"), (91, "", "web")],
        "doc_id long, text string, source string",
    )
    t = stats.quality_threshold_for_keep_rate(docs, 1.0)
    # keep-all over the SCORED docs: the lowest scored bucket wins
    # (the NULL-text doc is unscored; the empty-string doc still
    # scores, so it stays inside the rate)
    from etl_staging_spark.llmdata import textstats
    scored = textstats.quality_scores(docs).where("quality is not null")
    n_scored = scored.count()
    assert n_scored >= 10
    assert scored.where(F.col("quality") >= t).count() == n_scored


def test_corpus_pipeline_release_does_not_clobber_caller_pins(spark):
    """release() must not touch the kept frame's own pins: a
    caller-owned result frame wrapped in a pipeline keeps its pin
    record (and its cache) after the pipeline releases its stages."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.tables import pin, pins_of

    docs = spark.createDataFrame(
        [(1, "alpha text", "web")], "doc_id long, text string, source string")
    pinned = spark.createDataFrame([(1,)], "x long").persist()
    pinned.count()
    pin(docs, pinned)
    pipe = CorpusPipeline(docs)
    pipe.release()
    assert pins_of(docs) == (pinned,)
    assert pinned.storageLevel.useMemory  # still cached
    pinned.unpersist()


def test_split_by_cluster_matches_duckdb_oracle(spark):
    """Dry-run of the r10 leakage-safe-split entry: the Spark
    assignment hash-matches the DuckDB twin on the real documents
    tables at BOTH parity scales (cluster labels, nullable for
    unclustered docs, and the re-keyed split)."""
    import duckdb

    from etl_staging_spark.llmdata import cluster, dedup
    from etl_staging_spark.queries.catalog_llm import o_split_by_cluster

    fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        pairs = dedup.jaccard_pairs(docs, threshold=0.8).select("d1", "d2")
        out = cluster.split_by_cluster(
            docs.select("doc_id"), pairs, fractions
        )
        got = sorted(
            (r.doc_id, r.cluster_id, r.split) for r in out.collect()
        )

        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r) for r in con.sql(o_split_by_cluster(fractions)).fetchall()
        )
        assert got == want and got
        # the fix is not vacuous: some docs really are re-keyed
        assert any(c is not None for _, c, _ in got)


def test_split_by_cluster_heals_leaky_pairs(spark):
    """Planted near-dup edges: every cluster's members land in ONE
    split (the canonical's), per-doc splitting would have leaked at
    least one of the planted pairs across splits, and unclustered docs
    keep their ordinary per-doc assignment untouched."""
    from etl_staging_spark.llmdata import cluster
    from etl_staging_spark.llmdata.sampling import hash_split

    fractions = {"train": 0.5, "val": 0.25, "test": 0.25}
    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    # chain {1,2,3} plus nine disjoint pairs — enough draws that the
    # deterministic per-doc hash must disagree inside some pair
    edges = [(1, 2), (2, 3)] + [(10 + 2 * k, 11 + 2 * k) for k in range(9)]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")

    out = cluster.split_by_cluster(docs, pairs, fractions)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == set(range(60))

    plain = {
        r.doc_id: r.split
        for r in hash_split(docs, fractions).collect()
    }
    clustered = {d for e in edges for d in e}
    # members of one cluster share the canonical's split
    assert {rows[d].cluster_id for d in (1, 2, 3)} == {1}
    assert {rows[d].split for d in (1, 2, 3)} == {plain[1]}
    for a, b in edges[2:]:
        assert rows[a].cluster_id == rows[b].cluster_id == a
        assert rows[a].split == rows[b].split == plain[a]
    # the operator actually changed something a per-doc split got wrong
    assert any(plain[a] != plain[b] for a, b in edges)
    # unclustered docs: NULL label, ordinary per-doc assignment
    for d in set(range(60)) - clustered:
        assert rows[d].cluster_id is None and rows[d].split == plain[d]


def test_source_overlap_matrix_matches_duckdb_oracle(spark):
    """Dry-run of the r10 oracle entry: the Spark matrix hash-matches
    the DuckDB twin on the real sf0.001 documents table (same rows,
    same pround'd fractions)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_source_overlap_matrix
    from etl_staging_spark.tables import release_pinned

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = stats.source_overlap_matrix(docs, threshold=0.8)
    got = sorted(
        (r.source_a, r.source_b, r.n_pairs, r.docs_a, r.docs_b,
         r.frac_a, r.frac_b)
        for r in out.collect()
    )
    release_pinned(out)

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            "'/root/testdata/sf0.001/documents.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(o_source_overlap_matrix(0.8)).fetchall())
    assert got == want and got


def test_source_overlap_matrix_null_source_genuine_null(spark):
    """NULL-source docs surface as a GENUINE-NULL audit row sorting
    after every real source (r11 ADVICE fix — the sibling cards'
    convention, no sentinel collision), on BOTH engines: a planted
    cross pair spanning a NULL source and 'web' yields a
    ('web', NULL) row with NULL-safe-keyed totals."""
    import duckdb
    import pandas as pd

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_source_overlap_matrix
    from etl_staging_spark.tables import release_pinned

    ta = "the river carried silt from the mountains toward the delta plains"
    tb = "a quiet library keeps old maps of roads that no longer exist"
    rows = [
        (1, ta, None),     # cross pair with doc 2
        (2, ta, "web"),
        (3, tb, "web"),    # diagonal web pair
        (4, tb, "web"),
        (5, "completely unrelated text about glacier moraines", "wiki"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = stats.source_overlap_matrix(docs, threshold=0.8)
    nkey = lambda r: (r[0] is None, r[0] or "", r[1] is None, r[1] or "")
    got = sorted(
        ((r.source_a, r.source_b, r.n_pairs, r.docs_a, r.docs_b,
          r.frac_a, r.frac_b)
         for r in out.collect()),
        key=nkey,
    )
    release_pinned(out)
    # totals: NULL=1, web=3, wiki=1; NULL sorts after 'web' on the
    # a<=b axis, so the cross pair lands on ('web', NULL)
    assert got == [
        ("web", "web", 1, 2, 2, 0.666667, 0.666667),
        ("web", None, 1, 1, 1, 0.333333, 1.0),
    ]

    con = duckdb.connect()
    con.register(
        "planted_docs",
        pd.DataFrame(rows, columns=["doc_id", "text", "source"]),
    )
    con.sql("CREATE VIEW documents AS SELECT * FROM planted_docs")
    want = sorted(
        (tuple(r) for r in con.sql(o_source_overlap_matrix(0.8)).fetchall()),
        key=nkey,
    )
    assert got == want


def test_quality_calibration_card_matches_duckdb_oracle(spark):
    """Dry-run of the r10 calibration-card entry: Spark card equals the
    DuckDB twin on the real sf0.001 documents table, and every row
    keeps at least its target rate."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_quality_calibration_card

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        (r.keep_rate, r.threshold, r.n_scored, r.n_kept, r.actual_rate)
        for r in stats.quality_calibration_card(docs).collect()
    )
    assert all(r[4] >= r[0] for r in got)
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            "'/root/testdata/sf0.001/documents.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(o_quality_calibration_card()).fetchall())
    assert got == want and len(got) == 4


def test_corpus_pipeline_funnel_counts(spark):
    """funnel() reports per-stage survivor counts in chain order, and a
    fork's history diverges from its parent's after the fork point."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    good = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    docs = spark.createDataFrame(
        [(i, good + f" tail{i}", "web") for i in range(6)]
        + [(21, good + " tail1", "web")],       # exact dup of doc 1
        "doc_id long, text string, source string",
    )
    pipe = CorpusPipeline(docs).dedup_exact()
    child = pipe.fork().quality_gate(0.99)      # gate that drops all
    f = pipe.funnel()
    cf = child.funnel()
    assert f == [("input", 7), ("dedup_exact", 6)]
    assert cf[:2] == f and cf[2] == ("quality_gate", 0)
    assert len(pipe.funnel()) == 2              # parent history untouched


def test_canonicals_by_score_election(spark):
    """Score-elected canonicals: the highest-scored member wins its
    cluster, ties fall to the smallest doc_id, unscored members lose to
    any scored one, and an all-unscored cluster falls back to the
    minimum id — exactly one canonical per cluster, every member
    keeps its row."""
    from etl_staging_spark.llmdata import cluster

    clusters = spark.createDataFrame(
        [(1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False),
         (10, 10, 2, True), (11, 10, 2, False),
         (20, 20, 2, True), (21, 20, 2, False)],
        "doc_id long, cluster_id long, cluster_size long, is_canonical boolean",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9),     # tie at 0.9 -> doc 2 wins
         (11, 0.5)],                        # 10 unscored -> 11 wins
        "doc_id long, quality double",      # cluster 20: all unscored
    )
    out = cluster.canonicals_by_score(clusters, scores)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 7  # every member keeps its row
    winners = {r.doc_id for r in rows.values() if r.is_canonical}
    assert winners == {2, 11, 20}
    assert rows[2].cluster_size == 3  # carried columns survive


def test_corpus_pipeline_dedup_keep_quality(spark):
    """keep="quality" re-elects each near-dup cluster's survivor as its
    highest-quality member: a planted 3-doc near-dup cluster keeps the
    richest copy (not the minimum id), while the default policy keeps
    the minimum id on the same corpus."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    # doc 3 is the longest, most lexically diverse copy -> best quality
    docs = spark.createDataFrame(
        [(1, base, "web"),
         (2, base + " extra", "web"),
         (3, base + " extra rich unique ending words here", "web"),
         (9, "completely different standalone text about nothing "
             "in particular with plenty of its own unique words", "web")],
        "doc_id long, text string, source string",
    )
    kept_q = {r.doc_id for r in CorpusPipeline(docs)
              .dedup_near(threshold=0.7, keep="quality")
              .frame().select("doc_id").collect()}
    kept_min = {r.doc_id for r in CorpusPipeline(docs)
                .dedup_near(threshold=0.7)
                .frame().select("doc_id").collect()}
    assert kept_min == {1, 9}
    assert kept_q == {3, 9}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        CorpusPipeline(docs).dedup_near(keep="longest")


def test_corpus_pipeline_decontaminate_semantic(spark):
    """The semantic-decontamination stage drops exactly the survivors
    whose embedding nears a benchmark vector; docs WITHOUT a vector
    pass untouched (anti-join convention), and the stage records its
    funnel entry."""
    import numpy as np

    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    rng = np.random.RandomState(11)
    base = rng.randn(64)
    near = base + 0.01 * rng.randn(64)   # cosine ~0.9999 -> leak
    other = rng.randn(64)                # random: cosine ~0 -> clean
    docs = spark.createDataFrame(
        [(1, "a leaked benchmark document", "web"),
         (2, "an ordinary clean document", "web"),
         (3, "a doc that never got embedded", "web")],
        "doc_id long, text string, source string",
    )
    eschema = "doc_id long, embedding array<float>"
    emb = spark.createDataFrame(
        [(1, [float(x) for x in near]), (2, [float(x) for x in other])],
        eschema,
    )
    bench = spark.createDataFrame(
        [(1000, [float(x) for x in base])], eschema
    )
    pipe = CorpusPipeline(docs).decontaminate_semantic(
        emb, bench, threshold=0.9
    )
    kept = {r.doc_id for r in pipe.frame().select("doc_id").collect()}
    assert kept == {2, 3}  # the leak is gone, the vectorless doc stays
    assert pipe.funnel()[-1] == ("decontaminate_semantic", 2)
    pipe.release()


def test_quality_calibration_card_rejects_bad_rates(spark):
    """Both twins validate rates identically and BEFORE any scan: an
    out-of-range, duplicate, or empty rate tuple raises on the Spark
    card (even over an empty corpus, where the old early-return used
    to skip validation) and on the oracle builder (where duplicates
    would GROUP-BY-collapse and an empty tuple is a syntax error)."""
    import pytest as _pytest

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_quality_calibration_card

    docs = spark.createDataFrame(
        [(1, "some text here", "web")],
        "doc_id long, text string, source string",
    )
    empty = docs.where("doc_id < 0")
    for bad in ((0.5, 1.2), (0.5, 0.5), ()):
        with _pytest.raises(ValueError):
            stats.quality_calibration_card(docs, rates=bad).collect()
        with _pytest.raises(ValueError):
            stats.quality_calibration_card(empty, rates=bad).collect()
        with _pytest.raises(ValueError):
            o_quality_calibration_card(rates=bad)


def test_threshold_is_raw_score_gate_floor(spark):
    """The calibrated cut is the winning bucket's LOWER EDGE: a raw
    ``quality >= t`` filter (quality_gate's convention) keeps exactly
    the docs the histogram counted — including a doc whose 6-decimal
    score sits precisely on the half-quantum boundary of the cut
    bucket (0.6815 quantizes up into bucket 0.682 at 3 decimals and
    must survive the raw-score gate the calibrator advertises)."""
    from etl_staging_spark.llmdata import stats

    scored = spark.createDataFrame(
        [(1, 0.6815), (2, 0.682), (3, 0.9), (4, 0.2)],
        "doc_id long, quality double",
    )
    # need = 3 of 4: CDF walk lands on bucket 0.682 -> edge 0.6815
    t = stats.threshold_from_scores(scored, 0.75)
    assert t == 0.6815
    kept = scored.where(F.col("quality") >= t).count()
    assert kept == 3  # the boundary doc (0.6815) is kept, 0.2 is cut


def test_clean_text_planted(spark):
    """The normalization chain: CRLF/CR -> LF, zero-width and control
    chars deleted, exotic unicode spaces -> ASCII space, space runs
    collapsed, newline-hugging spaces trimmed, 3+ newlines -> paragraph
    break, ends trimmed; NULL propagates and already-clean text is a
    fixed point."""
    from etl_staging_spark.llmdata import textclean as tc

    rows = [
        (1, "hello​world\r\nsecond\rline"),
        (2, "a b\tc   　d"),
        (3, "  lead and trail  \n\n\n\nnext para  "),
        (4, "ctrl\x01\x02chars\x7fgone"),
        (5, None),
        (6, "already clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.c for r in
           df.select("doc_id", tc.clean_text(F.col("text")).alias("c"))
           .collect()}
    assert out[1] == "helloworld\nsecond\nline"
    assert out[2] == "a b c d"
    assert out[3] == "lead and trail\n\nnext para"
    assert out[4] == "ctrlcharsgone"
    assert out[5] is None
    assert out[6] == "already clean"
    report = {r.doc_id: r for r in tc.clean_report(df).collect()}
    assert report[3].n_removed == 8 and report[3].changed
    assert report[6].n_removed == 0 and not report[6].changed
    assert report[5].n_raw_chars is None and not report[5].changed


def test_fold_key_accent_case_fold(spark):
    """fold_key folds case and Latin-1 accents (through clean_text) so
    visually-equal variants share one exact-dedup hash key — while
    clean_text alone never touches case or accents."""
    from etl_staging_spark.llmdata import textclean as tc

    df = spark.createDataFrame(
        [(1, "Café  À GRANDE"), (2, "cafe a grande")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.k, r.c) for r in df.select(
        "doc_id",
        tc.fold_key(F.col("text")).alias("k"),
        tc.clean_text(F.col("text")).alias("c"),
    ).collect()}
    assert out[1][0] == out[2][0] == "cafe a grande"
    assert out[1][1] == "Café À GRANDE"  # text keeps its face


def test_clean_text_matches_duckdb(spark, tmp_path):
    """Cross-engine agreement of the full cleaning chain: Java regex
    (Spark) and RE2 (DuckDB) produce byte-identical cleaned text and
    length accounting on planted noisy docs — the property that makes
    the pass oracle-checkable (explicit code-point classes, no \\p{..})."""
    import duckdb

    from etl_staging_spark.llmdata import textclean as tc

    rows = [
        (1, "hello​world\r\nsecond\rline"),
        (2, "a b\tc   　d  e"),
        (3, "  lead  \n \n\n\nnext  "),
        (4, "ctrl\x01chars\x7fgone⁠done"),
        (5, None),
        (6, "already clean"),
        (7, "tabs\t\tand  more\n\n\n\n\nend"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "noisy.parquet")
    df.coalesce(1).write.parquet(pq)
    got = sorted(
        tuple(r)
        for r in tc.clean_report(df)
        .join(df.select("doc_id", tc.clean_text(F.col("text")).alias("clean")),
              "doc_id")
        .collect()
    )
    chain = tc.o_clean_sql("text")  # the SAME CLEAN_STEPS table
    want = sorted(tuple(r) for r in duckdb.sql(f"""
        WITH cl AS (SELECT doc_id, text, {chain} AS clean
                    FROM '{pq}/*.parquet')
        SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS n_raw_chars,
               CAST(LENGTH(clean) AS BIGINT) AS n_clean_chars,
               CAST(LENGTH(text) - LENGTH(clean) AS BIGINT) AS n_removed,
               COALESCE(text != clean, FALSE) AS changed,
               clean
        FROM cl
    """).fetchall())
    assert got == want


def test_lang_id_zero_evidence_is_null(spark):
    """ZERO evidence is NOT a language: empty, whitespace-only and
    digit-only docs hit no profile bigram, so pred_lang is NULL (not
    the alphabetical tie-break's arbitrary 'de') and a language gate
    drops them as unidentified; a real doc keeps its label."""
    from etl_staging_spark.llmdata import textstats

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "12345 67890"), (4, None),
         (5, "the weather here is rather fine this evening")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.pred_lang, r.best_score) for r in
           textstats.lang_id(docs).collect()}
    assert out[1][0] is None and out[1][1] == 0
    assert out[2][0] is None and out[3][0] is None
    assert out[4][0] is None
    assert out[5][0] == "en" and out[5][1] > 0


def test_corpus_pipeline_lang_filter(spark):
    """lang_filter keeps docs whose bigram-profile language ID lands in
    the wanted set and drops NULL-text docs (no language, no trainable
    text); the funnel records the stage."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.llmdata import textstats

    rows = [
        (1, "the weather here is rather fine and the evening theatre "
            "begins later than another evening", "web"),
        (2, "la casa de los cuentos es el lugar que ue ar en los dias "
            "de la escuela", "web"),
        (3, None, "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ids = {r.doc_id: r.pred_lang for r in textstats.lang_id(docs).collect()}
    assert ids[1] == "en" and ids[2] == "es"  # fixture sanity
    pipe = CorpusPipeline(docs).lang_filter(("en",))
    kept = {r.doc_id for r in pipe.frame().select("doc_id").collect()}
    assert kept == {1}
    assert pipe.funnel() == [("input", 3), ("lang_filter", 1)]


def test_corpus_pipeline_clean_stage(spark):
    """clean() normalizes in place (count unchanged, funnel records the
    stage) and makes encoding-noise twins collapse in the downstream
    exact dedup — the order-matters property the stage exists for."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [(1, "same doc content here", "web"),
         (2, "same​ doc  content here ", "web"),   # noise twin
         (3, "a different document entirely", "web")],
        "doc_id long, text string, source string",
    )
    # without clean: the noise twin survives exact dedup
    assert CorpusPipeline(docs).dedup_exact().frame().count() == 3
    pipe = CorpusPipeline(docs).clean().dedup_exact()
    assert pipe.funnel() == [("input", 3), ("clean", 3), ("dedup_exact", 2)]
    kept = {r.doc_id for r in pipe.frame().select("doc_id").collect()}
    assert kept == {1, 3}


def test_clean_text_python_reference_and_idempotent(spark):
    """clean_text against an independent pure-Python replay of
    CLEAN_STEPS (patterns translated \\x{hhhh} -> chr) on seeded random
    noisy strings, and the fixed-point property: cleaning a cleaned
    string changes nothing — the invariant that makes the pass safe to
    re-run on partially-cleaned corpora."""
    import random
    import re

    from etl_staging_spark.llmdata import textclean as tc

    def py_pat(pat):
        return re.sub(
            r"\\x\{([0-9a-fA-F]+)\}",
            lambda m: re.escape(chr(int(m.group(1), 16))),
            pat,
        )

    def py_clean(s):
        for pat, rep in tc.CLEAN_STEPS:
            s = re.sub(py_pat(pat), rep.replace("\\", "\\\\"), s)
        return s

    alphabet = (
        list("abc XY.")
        + ["\r", "\n", "\t", "\u200b", "\u2060", "\ufeff", "\x01",
           "\x7f", "\u00a0", "\u3000", "\u2003", "  "]
    )
    rng = random.Random(23)
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.c for r in df.select(
        "doc_id", tc.clean_text(F.col("text")).alias("c")).collect()}
    for i, raw in rows:
        assert got[i] == py_clean(raw), (i, repr(raw), repr(got[i]))
        assert py_clean(got[i]) == got[i], (i, repr(got[i]))  # fixed point


def test_domain_token_budget_greedy_rule(spark):
    """The token budget admits each domain's docs in quality order
    until the budget fills: the crossing doc is KEPT (overshoot by at
    most one doc), later docs drop, domains budget independently, and
    NULL-text docs sit outside the selection."""
    from etl_staging_spark.llmdata import sampling, textstats

    rich = ("unique alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima mike november oscar papa quebec")
    mid = "plain words repeated words repeated words repeated here now"
    poor = "aa aa aa aa aa"
    docs = spark.createDataFrame(
        [(1, rich + " one", "a"), (2, mid + " two", "a"),
         (3, poor + " three", "a"),
         (10, rich + " ten", "b"),
         (20, None, "a")],
        "doc_id long, text string, source string",
    )
    toks = {r.doc_id: (r.quality, r.n_tokens) for r in
            textstats.quality_scores(docs).collect()}
    # fixture sanity: quality strictly orders 1 > 2 > 3 in domain a
    assert toks[1][0] > toks[2][0] > toks[3][0]
    # budget = doc1's tokens: doc1 fills it exactly; doc2's tok_before
    # == budget -> dropped; doc3 likewise; domain b keeps its one doc
    budget = toks[1][1]
    out = {r.doc_id: r for r in
           sampling.domain_token_budget(docs, budget).collect()}
    assert set(out) == {1, 10}
    assert out[1].tok_before == 0 and out[10].tok_before == 0
    # one more token of budget admits doc2 (the crossing doc is kept)
    out2 = {r.doc_id for r in
            sampling.domain_token_budget(docs, budget + 1).collect()}
    assert out2 == {1, 2, 10}


def test_domain_token_budget_matches_duckdb_oracle(spark):
    """Dry-run of the r10 token-budget entry: Spark equals the DuckDB
    twin on the real documents table at a budget that actually cuts,
    and every domain's spend (tok_before of its last kept doc) is
    under budget."""
    import duckdb

    from etl_staging_spark.llmdata import sampling
    from etl_staging_spark.queries.catalog_llm import o_domain_token_budget

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sampling.domain_token_budget(docs, 800)
    got = sorted(tuple(r) for r in out.collect())
    assert 0 < len(got) < docs.count()  # the budget actually cuts
    assert all(r[4] < 800 for r in got)
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            "'/root/testdata/sf0.001/documents.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(o_domain_token_budget(800)).fetchall())
    assert got == want


def test_exact_dedup_folded_key(spark):
    """folded=True groups case/accent/noise variants under one fold key
    while the default keeps them distinct; the kept canonical's text is
    untouched (only the KEY folds). Pipeline passthrough included."""
    from etl_staging_spark.llmdata import dedup
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [(1, "Café  GRANDE opens"), (2, "cafe grande opens"),
         (3, "a different text entirely")],
        "doc_id long, text string",
    )
    assert dedup.exact_dup_groups(docs).count() == 3
    folded = dedup.exact_dup_groups(docs, folded=True).collect()
    assert len(folded) == 2
    groups = {r.canonical_doc_id: r.n_copies for r in folded}
    assert groups == {1: 2, 3: 1}
    docs3 = docs.withColumn("source", F.lit("web"))
    pipe_out = CorpusPipeline(docs3).dedup_exact(folded=True).frame()
    kept = {r.doc_id: r.text for r in pipe_out.collect()}
    assert set(kept) == {1, 3}
    # canonical keeps its face: the PIPELINE OUTPUT carries the raw
    # text, not the folded key
    assert kept[1] == "Café  GRANDE opens"


def test_corpus_pipeline_token_budget_stage(spark):
    """token_budget keeps each domain's best docs until the token
    budget fills, as a lazy pipeline stage; the funnel records it."""
    from etl_staging_spark.llmdata import sampling, textstats
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    rich = ("unique alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima mike november oscar papa quebec")
    docs = spark.createDataFrame(
        [(1, rich + " one", "a"), (2, "plain words here now two", "a"),
         (10, rich + " ten", "b")],
        "doc_id long, text string, source string",
    )
    budget = {r.doc_id: r.n_tokens for r in
              textstats.quality_scores(docs).collect()}[1]
    pipe = CorpusPipeline(docs).token_budget(budget)
    kept = {r.doc_id for r in pipe.frame().select("doc_id").collect()}
    assert kept == {1, 10}
    assert pipe.funnel() == [("input", 3), ("token_budget", 2)]
    # stage equals the library operator on the same frame
    lib = {r.doc_id for r in
           sampling.domain_token_budget(docs, budget).collect()}
    assert lib == kept


def test_fold_key_pre_cleaned_same_key(spark):
    """pre_cleaned=True skips the fold's normalization pass but yields
    the IDENTICAL fold key on already-clean text (clean_text is
    idempotent), so pipeline clean() -> dedup_exact(folded=True)
    groups exactly like the unchained fold on raw text."""
    from etl_staging_spark.llmdata import dedup, textclean

    raw = spark.createDataFrame(
        [(1, "Café​  GRANDE\r\nopens"), (2, "cafe grande\nopens"),
         (3, "different text")],
        "doc_id long, text string",
    )
    cleaned = textclean.with_clean_text(raw)
    a = sorted(tuple(r) for r in
               dedup.exact_dup_groups(raw, folded=True).collect())
    b = sorted(tuple(r) for r in dedup.exact_dup_groups(
        cleaned, folded=True, pre_cleaned=True).collect())
    assert a == b
    assert {r[2] for r in a} == {1, 3} and {r[1] for r in a} == {2, 1}


def test_source_profile_null_lang_tiebreak(spark):
    """With zero-evidence docs now scoring NULL pred_lang, the modal-
    language election must rank NULL LAST on both engines: a source
    split evenly between NULL and 'en' elects 'en', matching the
    DuckDB oracle's ASC default. Locks the cross-engine NULL-ordering
    convention the registered corpus_source_profile card relies on."""
    from pyspark.sql import Window

    from etl_staging_spark.llmdata import textstats

    good = "the weather here is rather fine another evening theatre"
    docs = spark.createDataFrame(
        [(i, good + f" tail{i}", "web") for i in range(5)]
        + [(10 + i, "12345 67890", "web") for i in range(5)],
        "doc_id long, text string, source string",
    )
    langc = (
        textstats.lang_id(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "pred_lang").agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("c"), F.asc_nulls_last("pred_lang")
    )
    top = (langc.withColumn("rk", F.row_number().over(w))
           .where("rk = 1").collect())
    assert len(top) == 1 and top[0].pred_lang == "en"


def test_quality_calibration_by_domain(spark):
    """Per-domain cuts: each domain keeps at least the target fraction
    of ITS scored docs under a raw >= threshold filter, a clean domain
    and a noisy domain get different cuts, NULL domains and NULL-text
    docs are excluded, and invalid rates reject up front."""
    import pytest as _pytest

    from etl_staging_spark.llmdata import stats, textstats

    rich = ("unique alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima mike november oscar papa quebec")
    rows = ([(i, rich + f" variant {i} extra words", "clean")
             for i in range(10)]
            + [(100 + i, "aa " * (3 + i % 3) + f"x{i}", "noisy")
               for i in range(10)]
            + [(200, rich, None), (201, None, "clean")])
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.domain: r for r in
           stats.quality_calibration_by_domain(docs, 0.7).collect()}
    assert set(out) == {"clean", "noisy"}  # NULL domain excluded
    assert out["clean"].n_scored == 10     # NULL-text doc excluded
    assert out["clean"].threshold != out["noisy"].threshold
    scored = textstats.quality_scores(docs, keep=("source",))
    for dom, r in out.items():
        kept = scored.where(
            (F.col("source") == dom) & (F.col("quality") >= r.threshold)
        ).count()
        assert kept == r.n_kept and kept >= 0.7 * r.n_scored
    with _pytest.raises(ValueError):
        stats.quality_calibration_by_domain(docs, 1.2)


def test_quality_calibration_by_domain_matches_duckdb(spark):
    """Dry-run of the queued per-domain calibration entry: Spark equals
    the DuckDB twin on the real documents table at the default rate."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_quality_calibration_by_domain,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(tuple(r) for r in
                 stats.quality_calibration_by_domain(docs, 0.7).collect())
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            "'/root/testdata/sf0.001/documents.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(o_quality_calibration_by_domain(0.7)).fetchall())
    assert got == want and len(got) == 20
    import pytest as _pytest
    with _pytest.raises(ValueError):
        o_quality_calibration_by_domain(0.0)


def test_corpus_pipeline_keep_rate_by_domain(spark):
    """The per-domain calibrated gate keeps at least the rate of EACH
    source's scored survivors — where the global calibrated gate
    satisfies the rate only corpus-wide and can gut the noisy domain;
    NULL-domain docs drop (no cut exists for them)."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    rich = ("unique alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima mike november oscar papa quebec")
    rows = ([(i, rich + f" variant {i} extra words", "clean")
             for i in range(10)]
            + [(100 + i, "aa " * (3 + i % 3) + f"x{i}", "noisy")
               for i in range(10)]
            + [(200, rich, None)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pipe = CorpusPipeline(docs).quality_gate_keep_rate_by_domain(0.7)
    kept = [r for r in pipe.frame().select("doc_id", "source").collect()]
    per_dom = {"clean": 0, "noisy": 0}
    for r in kept:
        per_dom[r.source] += 1
    assert per_dom["clean"] >= 7 and per_dom["noisy"] >= 7
    assert all(r.source is not None for r in kept)  # NULL domain dropped
    assert pipe.funnel()[-1][0] == "quality_gate_keep_rate_by_domain"
    # the global gate at the same rate keeps fewer of the noisy domain
    glob = CorpusPipeline(docs).quality_gate_keep_rate(0.7)
    g_noisy = glob.frame().where("source = 'noisy'").count()
    assert g_noisy < per_dom["noisy"]
    glob.release()


def test_by_domain_oracle_need_is_double(spark):
    """The per-domain oracle must compute its need in IEEE doubles like
    the Spark driver: DuckDB parses a bare rate literal as exact
    DECIMAL whose knife edges (0.07 * 100 = 7.00 exactly) diverge from
    Python's 7.000000000000001 — the cast is the parity guarantee."""
    import duckdb

    from etl_staging_spark.queries.catalog_llm import (
        o_quality_calibration_by_domain,
    )

    sql = o_quality_calibration_by_domain(0.07)
    assert "CAST(0.07 AS DOUBLE) * t.n" in sql
    # engine semantics: the DOUBLE need matches Python's IEEE product,
    # the DECIMAL need would not
    con = duckdb.connect()
    dbl = con.sql("SELECT 7 >= CAST(0.07 AS DOUBLE) * 100").fetchone()[0]
    dec = con.sql("SELECT 7 >= 0.07 * 100").fetchone()[0]
    assert dbl == (7 >= 0.07 * 100) == False  # noqa: E712
    assert dec is True  # the trap the cast avoids


def test_corpus_pipeline_decontaminate_fuzzy(spark):
    """The fuzzy-decontamination stage drops the paraphrased eval leak
    (1-token edit: shares few exact 5-grams, most 3-gram shingles) and
    keeps the unrelated doc — the middle rung of the stage ladder,
    matching the library operator on the same frame."""
    from etl_staging_spark.llmdata.decontam import fuzzy_contamination
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    bench = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, NEAR, "web"), (2, OTHER, "web")],
        "doc_id long, text string, source string",
    )
    pipe = CorpusPipeline(docs).decontaminate_fuzzy(bench, threshold=0.7)
    kept = {r.doc_id for r in pipe.frame().select("doc_id").collect()}
    assert kept == {2}
    assert pipe.funnel() == [("input", 2), ("decontaminate_fuzzy", 1)]
    lib = {r.doc_id for r in
           fuzzy_contamination(docs, bench, threshold=0.7).collect()
           if not r.contaminated}
    assert lib == kept
    pipe.release()


def test_corpus_pipeline_full_hygiene_chain(spark):
    """Kitchen-sink integration of the r9 stage family: clean ->
    lang_filter -> folded exact dedup (pre_cleaned kicks in) ->
    fuzzy + semantic decontamination -> per-domain calibrated gate ->
    token budget -> split. Each planted offender is removed by exactly
    the stage built for it, the funnel tells the story stage by stage,
    and release() leaves no cached frames behind."""
    import numpy as np

    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    good = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "the weather here is rather fine another evening theatre")
    rows = (
        # 8 clean English docs across two sources
        [(i, good + f" tail{i}", "a") for i in range(4)]
        + [(10 + i, good + f" more{i}", "b") for i in range(4)]
        # noise twin of doc 0: survives clean+dedup only as one copy
        + [(20, good.replace(" ", "  ") + " tail0\r\n", "a")]
        # Spanish doc: lang_filter removes
        + [(30, "la casa de los cuentos es el lugar que ue ar en los "
                "dias de la escuela para los amigos", "a")]
        # fuzzy eval leak: 1-token paraphrase of the benchmark doc
        + [(40, BASE, "b")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(900, NEAR)], "doc_id long, text string")
    # embeddings: doc 11 is a near-copy of the eval embedding -> semantic leak
    rng = np.random.RandomState(3)
    base_v = rng.randn(64)
    eschema = "doc_id long, embedding array<float>"
    emb = spark.createDataFrame(
        [(11, [float(x) for x in (base_v + 0.01 * rng.randn(64))])], eschema)
    bench_emb = spark.createDataFrame(
        [(901, [float(x) for x in base_v])], eschema)

    # Earlier tests in a shared session may legitimately leave pinned
    # caches behind (unreleased pinned results); assert on the DELTA
    # this pipeline creates, not on a globally empty cache.
    def _persisted_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    pre_persisted = _persisted_ids()

    pipe = (
        CorpusPipeline(docs)
        .clean()
        .lang_filter(("en",))
        .dedup_exact(folded=True)
        .decontaminate_fuzzy(bench, threshold=0.7)
        .decontaminate_semantic(emb, bench_emb, threshold=0.9)
        .quality_gate_keep_rate_by_domain(0.5)
        .token_budget(10_000)
        .split({"train": 0.8, "val": 0.2})
    )
    out = {r.doc_id: r.split for r in pipe.frame().collect()}
    labels = [label for label, _ in pipe.funnel()]
    assert labels == ["input", "clean", "lang_filter", "dedup_exact",
                      "decontaminate_fuzzy", "decontaminate_semantic",
                      "quality_gate_keep_rate_by_domain", "token_budget",
                      "split"]
    assert 30 not in out          # Spanish: lang gate
    assert 20 not in out          # noise twin: clean + folded dedup
    assert 40 not in out          # fuzzy eval leak
    assert 11 not in out          # semantic eval leak
    assert 0 in out               # the twin's canonical survives
    kept = set(out)
    assert kept <= set(range(4)) | {10, 12, 13}
    assert len(kept) >= 5         # the 0.5-rate gate keeps most
    assert set(out.values()) <= {"train", "val"}
    pipe.release()
    assert _persisted_ids() <= pre_persisted


def test_decontamination_report_all_rungs(spark):
    """One evidence row per corpus doc with every rung's numbers: the
    verbatim eval copy shows exact+fuzzy evidence, the paraphrase
    fuzzy-only, the embedding leak semantic-only, the vectorless clean
    doc NULL semantic evidence (unknown, flag unset), and the any-rung
    OR matches each stage's own decision."""
    import numpy as np

    from etl_staging_spark.llmdata.decontam import decontamination_report

    rng = np.random.RandomState(5)
    base_v = rng.randn(64)
    bench = spark.createDataFrame([(900, BASE)], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, BASE, "web"),      # verbatim copy: exact + fuzzy
         (2, NEAR, "web"),      # paraphrase: fuzzy (few exact 5-grams)
         (3, OTHER, "web"),     # lexically clean, embedding leak
         (4, OTHER + " extra words here", "web")],  # clean, no vector
        "doc_id long, text string, source string",
    )
    eschema = "doc_id long, embedding array<float>"
    emb = spark.createDataFrame(
        [(3, [float(x) for x in (base_v + 0.01 * rng.randn(64))])], eschema)
    bench_emb = spark.createDataFrame(
        [(901, [float(x) for x in base_v])], eschema)
    out = {r.doc_id: r for r in decontamination_report(
        docs, bench, emb, bench_emb, fuzzy_threshold=0.7).collect()}
    assert len(out) == 4
    assert out[1].contaminated and out[1].n_overlap > 0 and out[1].n_fuzzy == 1
    assert out[2].contaminated and out[2].n_fuzzy == 1
    assert 0.7 <= out[2].max_jaccard < 1.0
    assert out[3].contaminated and out[3].n_semantic == 1
    assert out[3].max_cosine > 0.99 and out[3].n_fuzzy == 0
    assert not out[4].contaminated
    assert out[4].n_semantic is None and out[4].max_cosine is None
    # without embeddings: semantic columns NULL, lexical flags intact
    out2 = {r.doc_id: r for r in decontamination_report(
        docs, bench, fuzzy_threshold=0.7).collect()}
    assert out2[3].n_semantic is None and not out2[3].contaminated
    assert out2[1].contaminated and out2[2].contaminated


def test_decontamination_report_half_pair_raises(spark):
    """A half-supplied embedding pair is a caller mistake, not a
    skip-the-rung request: the report refuses instead of silently
    emitting NULL semantic evidence that looks embedding-screened."""
    import pytest as _pytest

    from etl_staging_spark.llmdata.decontam import decontamination_report

    bench = spark.createDataFrame([(900, BASE)], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, BASE, "web")], "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(1, [1.0] * 8)], "doc_id long, embedding array<float>")
    for kwargs in ({"corpus_emb": emb}, {"bench_emb": emb}):
        with _pytest.raises(ValueError, match="BOTH"):
            decontamination_report(docs, bench, **kwargs)


def test_lang_filter_rejects_bare_string(spark):
    """langs="en" would isin() against the CHARACTERS {'e','n'} and
    drop everything; the gate refuses the bare string up front."""
    import pytest as _pytest

    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [(1, "hello there", "web")],
        "doc_id long, text string, source string")
    with _pytest.raises(TypeError, match="bare string"):
        CorpusPipeline(docs).lang_filter("en")


def test_split_by_cluster_replaces_preexisting_label(spark):
    """A docs frame that already carries cluster_id (e.g. straight out
    of near_dup_clusters) must not trip an ambiguous-reference error:
    the operator replaces the stale label with the one derived from
    THESE pairs."""
    from etl_staging_spark.llmdata import cluster

    docs = spark.createDataFrame(
        [(i, 999) for i in range(6)], "doc_id long, cluster_id long")
    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    rows = {r.doc_id: r for r in cluster.split_by_cluster(
        docs, pairs, {"train": 0.5, "test": 0.5}).collect()}
    assert rows[1].cluster_id == rows[2].cluster_id == 1
    assert rows[1].split == rows[2].split
    # the stale 999 label is gone, unclustered docs are NULL again
    assert rows[4].cluster_id is None


def test_domain_token_budget_null_domain_excluded(spark):
    """NULL-source docs sit outside the selection (the per-domain
    calibrator posture) instead of forming a phantom domain granted a
    full token budget."""
    from etl_staging_spark.llmdata.sampling import domain_token_budget

    text = "some reasonably ordinary words for scoring quality here"
    docs = spark.createDataFrame(
        [(1, text, "web"), (2, text, None), (3, text + " more", None)],
        "doc_id long, text string, source string")
    out = domain_token_budget(docs, budget=10_000)
    assert {r.doc_id for r in out.collect()} == {1}


def test_ngram_freq_spectrum_matches_duckdb_oracle(spark):
    """Dry-run of the r10/r11 Zipf-card entry: the Spark spectrum
    hash-matches the DuckDB twin on the real documents tables at BOTH
    parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_ngram_freq_spectrum

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        got = sorted(
            (r.freq, r.n_grams)
            for r in stats.ngram_freq_spectrum(docs, n=2).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r) for r in con.sql(o_ngram_freq_spectrum(2)).fetchall()
        )
        assert got == want and got
        # sanity: hapax grams exist and the spectrum is non-degenerate
        # (the templated synthetic corpus is NOT Zipf-shaped — its
        # repeated-phrase mass can out-count the hapax bucket)
        assert got[0][0] == 1 and len(got) > 1


def test_ngram_freq_spectrum_planted_counts(spark):
    """Planted corpus with known totals: occurrences count EVERY
    adjacent window (not per-doc distinct), short/NULL docs contribute
    nothing."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),     # "a b" x2, "b a" x1
            (2, "a b c"),       # "a b", "b c"
            (3, "x"),           # < n tokens: nothing
            (4, None),          # NULL: nothing
        ],
        "doc_id long, text string",
    )
    freq = {
        r.freq: r.n_grams
        for r in stats.ngram_freq_spectrum(docs, n=2).collect()
    }
    # "a b" occurs 3x; "b a" and "b c" once each
    assert freq == {3: 1, 1: 2}


def test_dup_rate_by_source_matches_duckdb_oracle(spark):
    """Dry-run of the r10/r11 duplication-card entry: the Spark card
    hash-matches the DuckDB twin on the real documents tables at BOTH
    parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_dup_rate_by_source

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        got = sorted(
            (r.source, r.n_docs, r.n_with_text, r.n_texts, r.dup_docs,
             r.dup_rate)
            for r in stats.dup_rate_by_source(docs).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r) for r in con.sql(o_dup_rate_by_source()).fetchall()
        )
        assert got == want and got


def test_dup_rate_by_source_planted_and_folded(spark):
    """Planted fixture: exact copies count, NULL text carries no
    identity (rate over text-bearing docs only), NULL source is its
    own audit row, and folded=True collapses encoding-noise twins."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "same text", "web"),
            (2, "same text", "web"),
            (3, "other text", "web"),
            (4, None, "web"),
            (5, "Café  X", "wiki"),
            (6, "cafe x", "wiki"),
            (7, "only doc", None),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in stats.dup_rate_by_source(docs).collect()}
    web = rows["web"]
    assert (web.n_docs, web.n_with_text, web.n_texts, web.dup_docs) == (
        4, 3, 2, 1)
    assert web.dup_rate == 0.333333
    assert rows["wiki"].dup_docs == 0
    none_row = rows[None]
    assert (none_row.n_docs, none_row.dup_docs) == (1, 0)

    folded = {
        r.source: r for r in stats.dup_rate_by_source(docs, folded=True).collect()
    }
    assert folded["wiki"].dup_docs == 1
    assert folded["wiki"].dup_rate == 0.5


def test_token_drift_card_matches_duckdb_oracle(spark):
    """Dry-run of the r10/r11 drift-card entry: the Spark card
    hash-matches the DuckDB twin on the real documents tables at BOTH
    parity scales, including the deterministic top-n cut."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_token_drift_card
    from etl_staging_spark.tables import release_pinned

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        out = stats.token_drift_card(docs, "src0", "src1", top_n=20)
        got = sorted(
            (r.token, r.count_a, r.count_b, r.rate_a, r.rate_b, r.delta)
            for r in out.collect()
        )
        release_pinned(out)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r)
            for r in con.sql(o_token_drift_card("src0", "src1", 20)).fetchall()
        )
        assert got == want and len(got) == 20


def test_token_drift_card_planted(spark):
    """Planted two-source corpus with hand-computed rates: the biggest
    absolute rate mover ranks first, shared-rate tokens carry delta 0,
    and a side-missing token still reports both rates."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.tables import release_pinned

    docs = spark.createDataFrame(
        [
            (1, "x x x y", "a"),     # a: x 3/4, y 1/4
            (2, "x y y y", "b"),     # b: x 1/4, y 3/4
            (3, "ignored words", "c"),
        ],
        "doc_id long, text string, source string",
    )
    out = stats.token_drift_card(docs, "a", "b", top_n=10)
    rows = [
        (r.token, r.count_a, r.count_b, r.rate_a, r.rate_b, r.delta)
        for r in out.collect()
    ]
    release_pinned(out)
    assert len(rows) == 2
    # |delta| ties at 0.5: token ASC breaks them -> x before y
    assert rows[0] == ("x", 3, 1, 0.75, 0.25, 0.5)
    assert rows[1] == ("y", 1, 3, 0.25, 0.75, -0.5)


def test_embedding_stats_card_matches_duckdb_oracle(spark):
    """Dry-run of the r10/r11 embedding-QA entry: the Spark card
    hash-matches the DuckDB twin on the real embeddings tables at
    BOTH parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_embedding_stats_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        got = [
            tuple(r)
            for r in stats.embedding_stats_card(
                spark.read.parquet(path)
            ).collect()
        ]
        con = duckdb.connect()
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        want = [tuple(r) for r in con.sql(o_embedding_stats_card()).fetchall()]
        assert got == want and len(got) == 10


def test_embedding_stats_card_planted(spark):
    """Planted degenerate shapes: NULL vector (counted, no stats),
    NULL-ELEMENT vector (counted in n_nullelem, excluded from every
    norm stat on BOTH engines), empty array (dim 0, norm 0), all-zero
    vector, ragged dims, and an all-NULL group whose norm stats stay
    NULL instead of dividing by zero."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_embedding_stats_card

    data = [
        (1, [3.0, 4.0], "a"),
        (2, [0.0, 0.0], "a"),
        (3, [], "a"),
        (4, None, "a"),
        (5, None, "b"),
        (6, [1.0], "c"),
        (7, [0.5, 0.5, 0.5, 0.5], "c"),
        (8, [1.0, None], "c"),
    ]
    embs = spark.createDataFrame(
        data, "vec_id long, embedding array<float>, label string"
    )
    rows = [tuple(r) for r in stats.embedding_stats_card(embs).collect()]
    expected = [
        # norm_mean(a) = (5 + 0 + 0) / 3 -> 1.666667 after pround-6
        ("a", 4, 1, 0, 2, 0, 2, 0.0, 5.0, 1.666667),
        ("b", 1, 1, 0, 0, None, None, None, None, None),
        # vec 8 is corrupt: dims still count it, norms exclude it
        ("c", 3, 0, 1, 0, 1, 4, 1.0, 1.0, 1.0),
    ]
    assert rows == expected
    # the DuckDB twin agrees on the same degenerate fixture (this is
    # the divergence a partial-norm SUM would hide)
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            "({}, {}, {})".format(
                i,
                "NULL" if v is None else
                "CAST([" + ", ".join(
                    "NULL" if x is None else repr(x) for x in v
                ) + "] AS FLOAT[])",
                f"'{s}'",
            )
            for i, v, s in data
        )
        + ") t(vec_id, embedding, label)"
    )
    want = [tuple(r) for r in con.sql(o_embedding_stats_card()).fetchall()]
    assert want == expected


def test_source_novelty_card_matches_duckdb_oracle(spark):
    """Dry-run of the r10/r11 novelty entry: the Spark card
    hash-matches the DuckDB twin on the real documents tables at BOTH
    parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_source_novelty_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        got = [
            tuple(r)
            for r in stats.source_novelty_card(
                spark.read.parquet(path)
            ).collect()
        ]
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = [tuple(r) for r in con.sql(o_source_novelty_card()).fetchall()]
        assert got == want and len(got) == 20


def test_source_novelty_card_planted(spark):
    """Planted corpus with hand-computed memberships: per-doc repeated
    grams count once, a gram shared across sources is not novel, a
    NULL source keeps its own audit row, and NULL text contributes
    nothing."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "p q p q", "a"),   # distinct bigrams: {p q, q p}
            (2, "p q x", "a"),     # {p q, q x}
            (3, "p q", "b"),       # {p q}
            (4, "z z z", None),    # {z z}
            (5, None, "b"),        # nothing
        ],
        "doc_id long, text string, source string",
    )
    rows = [tuple(r) for r in stats.source_novelty_card(docs, n=2).collect()]
    assert rows == [
        ("a", 3, 2, 0.666667),  # q p / q x unique; p q shared with b
        ("b", 1, 0, 0.0),
        (None, 1, 1, 1.0),
    ]


def test_corpus_pipeline_dedup_exact_null_text_passthrough(spark):
    """NULL-text docs carry no identity (the dup_rate_by_source
    convention): all of them survive .dedup_exact() instead of
    collapsing into one sha2(NULL) group, while real copies still
    dedup to one canonical."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [
            (1, "same text", "web"),
            (2, "same text", "web"),
            (3, None, "web"),
            (4, None, "web"),
            (5, None, "books"),
        ],
        "doc_id long, text string, source string",
    )
    kept = sorted(
        r.doc_id for r in CorpusPipeline(docs).dedup_exact().frame().collect()
    )
    assert kept == [1, 3, 4, 5]


def test_corpus_pipeline_epochs_negative_default_raises(spark):
    """A negative default_epochs must raise (shared epoch_reps guard),
    never silently vanish every unmapped domain — in the pipeline
    stage AND the certified operator."""
    import pytest as _pytest

    from etl_staging_spark.llmdata import sampling
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        [(1, "t", "web")], "doc_id long, text string, source string"
    )
    with _pytest.raises(ValueError, match="default_epochs"):
        CorpusPipeline(docs).epochs({"books": 3}, default_epochs=-1)
    with _pytest.raises(ValueError, match="default_epochs"):
        sampling.epoch_upsample(docs, {"books": 3}, default_epochs=-1)


def test_corpus_pipeline_fork_release_is_refcounted(spark):
    """release() on one branch must NOT unpersist caches a forked
    sibling's plan still references: the shared pool frees only when
    the LAST branch releases (and per-branch release is idempotent)."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.tables import pins_of

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 30, "web") for i in range(8)],
        "doc_id long, text string, source string",
    )
    parent = CorpusPipeline(docs).quality_gate_keep_rate(0.9)
    assert pins_of(parent._pins), "the calibrated gate should pin its scored frame"
    pinned = pins_of(parent._pins)[0]
    child = parent.fork().quality_gate(0.0)
    parent.release()
    parent.release()  # idempotent: must not double-decrement
    assert pinned.storageLevel.useMemory  # child still alive -> cached
    child.release()
    assert not pinned.storageLevel.useMemory  # last branch -> freed
    assert not pins_of(child._pins)


def test_token_drift_card_rejects_self_comparison(spark):
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [(1, "a b", "web")], "doc_id long, text string, source string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="source_a == source_b"):
        stats.token_drift_card(docs, "web", "web")


def test_exact_dup_groups_null_text_singletons_twin_parity(spark):
    """The operator's null:<id> sentinel gives every NULL-text doc its
    own singleton group, on BOTH engines (the registered dedup_exact
    oracle carries the same COALESCE) — never one sha2(NULL) bucket."""
    import duckdb

    from etl_staging_spark.llmdata import dedup

    data = [(1, "same"), (2, "same"), (3, None), (4, None)]
    docs = spark.createDataFrame(data, "doc_id long, text string")
    got = sorted(
        (r.text_sha256, r.n_copies, r.canonical_doc_id)
        for r in dedup.exact_dup_groups(docs).collect()
    )
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    # run the REGISTERED oracle verbatim, so an edit to the catalog
    # entry's NULL handling fails here — not only when the shared
    # testdata someday gains NULL-text rows
    want = sorted(
        tuple(r)
        for r in con.sql(entrymod.oracle_sql()["dedup_exact"]).fetchall()
    )
    assert got == want
    assert ("null:3", 1, 3) in got and ("null:4", 1, 4) in got
    assert [g for g in got if g[1] == 2][0][2] == 1  # real copies dedup


def test_corpus_pipeline_release_drains_post_release_pins(spark):
    """A builder that keeps chaining after its release() must free the
    NEW pins on its next release() — not leak them for the session."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.tables import pins_of

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 30, "web") for i in range(8)],
        "doc_id long, text string, source string",
    )
    pipe = CorpusPipeline(docs).quality_gate_keep_rate(0.9)
    pipe.release()
    pipe.quality_gate_keep_rate(0.8)  # chained AFTER the release
    assert pins_of(pipe._pins)
    late_pin = pins_of(pipe._pins)[0]
    pipe.release()
    assert not late_pin.storageLevel.useMemory and not pins_of(pipe._pins)


def test_corpus_pipeline_rearmed_branch_survives_sibling_release(spark):
    """A branch that pins again AFTER releasing re-arms itself as live:
    a sibling's redundant release() must not drain its in-use cache;
    its own next release() does."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.tables import pins_of

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 30, "web") for i in range(8)],
        "doc_id long, text string, source string",
    )
    a = CorpusPipeline(docs)
    b = a.fork()
    a.release()
    b.release()  # live count 0, pool empty so far
    b.quality_gate_keep_rate(0.9)  # b re-arms with a fresh pin
    pin = pins_of(b._pins)[0]
    a.release()  # redundant sibling release: must NOT yank b's cache
    assert pin.storageLevel.useMemory
    b.release()
    assert not pin.storageLevel.useMemory and not pins_of(b._pins)


def test_corpus_pipeline_pinless_stage_does_not_rearm(spark):
    """A post-release stage that pins NOTHING must not re-arm the
    branch: the sibling's pool drain stays unblocked."""
    from etl_staging_spark.llmdata.pipeline import CorpusPipeline
    from etl_staging_spark.tables import pins_of

    docs = spark.createDataFrame(
        [(1, "alpha beta", "web")], "doc_id long, text string, source string"
    )
    a = CorpusPipeline(docs)
    b = a.fork()
    b.release()
    b.quality_gate(0.0)  # pins nothing
    assert b._released and b._live_branches[0] == 1
    a.release()  # must drain: only pin-less work happened after b left
    assert a._live_branches[0] == 0 and not pins_of(a._pins)


def test_length_histogram_card_planted(spark):
    """Planted corpus with hand-computed buckets: TOKEN_RE tokens land
    on power-of-two edges (1 tok -> [1,1], 3 -> [2,3], 5 -> [4,7]),
    an empty string is a genuine zero-token doc in bucket [0,0],
    NULL text contributes nothing, a NULL source keeps its audit row,
    and shares divide within the source."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "alpha", "a"),                 # 1 token  -> [1,1]
            (2, "x y z", "a"),                 # 3 tokens -> [2,3]
            (3, "a b c d e", "a"),             # 5 tokens -> [4,7]
            (4, "", "a"),                      # 0 tokens -> [0,0]
            (5, None, "a"),                    # excluded
            (6, "q", None),                    # NULL-source audit row
        ],
        "doc_id long, text string, source string",
    )
    rows = sorted(
        (tuple(r) for r in stats.length_histogram_card(docs).collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )
    assert rows == [
        (None, 1, 1, 1, 1.0),
        ("a", 0, 0, 1, 0.25),
        ("a", 1, 1, 1, 0.25),
        ("a", 2, 3, 1, 0.25),
        ("a", 4, 7, 1, 0.25),
    ]


def test_length_histogram_card_matches_duckdb_oracle(spark):
    """Dry-run of the queued `length_histogram_card` entry: Spark
    equals the DuckDB twin on the real documents tables at BOTH parity
    scales (the bucket ladders are generated from the same
    constant)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_length_histogram_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        got = sorted(
            tuple(r)
            for r in stats.length_histogram_card(
                spark.read.parquet(path)
            ).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r) for r in con.sql(o_length_histogram_card()).fetchall()
        )
        assert got == want and got


def test_ttr_card_planted(spark):
    """Planted corpus with hand-computed type/token arithmetic:
    repeated types collapse, hapax counts singletons within the
    source, an empty string is one ''-token (the whitespace-split
    convention), NULL text contributes nothing, and a NULL source
    keeps its audit row."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "a a b", "s1"),    # tokens a,a,b
            (2, "b c", "s1"),      # b twice in s1 now; c hapax
            (3, "", "s2"),         # one '' token
            (4, None, "s2"),       # excluded
            (5, "z", None),        # NULL-source audit row
        ],
        "doc_id long, text string, source string",
    )
    rows = sorted(
        (tuple(r) for r in stats.ttr_card(docs).collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )
    # s1: tokens=5 (a,a,b,b,c), types=3, hapax=1 (c)
    assert rows == [
        (None, 1, 1, 1, 1.0, 1.0),
        ("s1", 5, 3, 1, 0.6, 0.333333),
        ("s2", 1, 1, 1, 1.0, 1.0),
    ]


def test_ttr_card_matches_duckdb_oracle(spark):
    """Dry-run of the queued `ttr_card` entry at BOTH parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_ttr_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        got = sorted(
            tuple(r)
            for r in stats.ttr_card(spark.read.parquet(path)).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(tuple(r) for r in con.sql(o_ttr_card()).fetchall())
        assert got == want and got


def test_lang_source_matrix_planted(spark):
    """Planted corpus with hand-checkable predictions: an en-profile
    text and a de-profile text split one source's shares, digit-only
    text has zero bigram evidence and lands in the NULL-language row,
    NULL text joins it, and a NULL source keeps its audit row."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "that there", "s1"),    # en bigrams th,he,er,re,at -> en
            (2, "schein unter", "s1"),  # de bigrams sc,ch,ei,un,er -> de
            (3, "12345", "s2"),         # zero profile evidence -> NULL
            (4, None, "s2"),            # NULL text -> NULL lang
            (5, "that there", None),    # NULL-source audit row
        ],
        "doc_id long, text string, source string",
    )
    rows = sorted(
        (tuple(r) for r in stats.lang_source_matrix(docs).collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )
    assert rows == [
        (None, "en", 1, 1.0),
        ("s1", "de", 1, 0.5),
        ("s1", "en", 1, 0.5),
        ("s2", None, 2, 1.0),
    ]


def test_lang_source_matrix_matches_duckdb_oracle(spark):
    """Dry-run of the queued `lang_source_matrix` entry at BOTH parity
    scales (the oracle replays the certified lang_id_ngram prediction
    fragments with source carried through)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_lang_source_matrix

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        got = sorted(
            tuple(r)
            for r in stats.lang_source_matrix(
                spark.read.parquet(path)
            ).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r) for r in con.sql(o_lang_source_matrix()).fetchall()
        )
        assert got == want and got


def test_lang_id_keep_columns_pass_through(spark):
    """lang_id(keep=...) carries extra columns through the projection
    unchanged (the lang_source_matrix contract: no doc_id re-join),
    and the default projection is unchanged for existing callers."""
    from etl_staging_spark.llmdata import textstats

    docs = spark.createDataFrame(
        [(1, "that there", "s1")],
        "doc_id long, text string, source string",
    )
    kept = textstats.lang_id(docs, keep=("source",))
    assert kept.columns == ["doc_id", "source", "pred_lang", "best_score"]
    assert kept.head().source == "s1"
    assert textstats.lang_id(docs).columns == [
        "doc_id", "pred_lang", "best_score",
    ]


def test_length_bucket_open_top_bucket_both_engines(spark):
    """The open top bucket (lo = 2^24, hi = NULL) is unreachable from
    any realistic test corpus, so exercise the ACTUAL ladder
    expressions both cards deploy — `stats.length_bucket_lo/hi` and
    the generated SQL from `o_length_bucket_ladder` — on literal
    token counts spanning every branch class: zero, interior edges,
    the last closed bucket's top, and counts at/above the saturation
    point."""
    import duckdb

    from etl_staging_spark.llmdata.stats import (
        LENGTH_BUCKET_MAX_POW,
        length_bucket_hi,
        length_bucket_lo,
    )
    from etl_staging_spark.queries.catalog_llm import o_length_bucket_ladder

    top = 2 ** LENGTH_BUCKET_MAX_POW
    ns = [None, 0, 1, 2, 3, 7, top - 1, top, top + 12345]
    want = [
        (None, None, None),  # NULL count propagates, never the open bucket
        (0, 0, 0),
        (1, 1, 1),
        (2, 2, 3),
        (3, 2, 3),
        (7, 4, 7),
        (top - 1, top // 2, top - 1),
        (top, top, None),
        (top + 12345, top, None),
    ]
    frame = spark.createDataFrame([(n,) for n in ns], "n long")
    lo = length_bucket_lo(F.col("n"))
    got = sorted(
        (tuple(r)
         for r in frame.select(
             "n", lo.alias("lo"), length_bucket_hi(lo).alias("hi")
         ).collect()),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    assert got == want
    lo_sql, hi_sql = o_length_bucket_ladder()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT n, lo, {hi_sql} AS hi FROM ("
        f"  SELECT n, {lo_sql} AS lo FROM (VALUES "
        + ", ".join("(NULL)" if n is None else f"({n})" for n in ns)
        + " ) t(n))"
        " ORDER BY n NULLS FIRST"
    ).fetchall()
    assert [tuple(r) for r in rows] == want


def test_vocab_coverage_by_source_planted(spark):
    """Planted corpus with a hand-computed top-k cut: k=2 selects the
    global max token plus the tie-break winner (count desc, token
    asc), per-source coverage divides within the source, a NULL
    source keeps its audit row, and NULL text contributes nothing."""
    from etl_staging_spark.llmdata import vocab
    from etl_staging_spark.tables import release_pinned

    docs = spark.createDataFrame(
        [
            (1, "a a b c", "s1"),   # a:2 b:1 c:1
            (2, "a d", "s2"),       # a:1 d:1
            (3, "a", None),         # NULL-source audit row
            (4, None, "s2"),        # excluded
        ],
        "doc_id long, text string, source string",
    )
    out = vocab.vocab_coverage_by_source(docs, k=2)
    rows = sorted(
        (tuple(r) for r in out.collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )
    release_pinned(out)
    # global: a:4, b:1, c:1, d:1 -> top-2 = {a, b} (tie-break token asc)
    assert rows == [
        (None, 1, 1, 1.0, 0.0),
        ("s1", 4, 3, 0.75, 0.25),
        ("s2", 2, 1, 0.5, 0.5),
    ]


def test_vocab_coverage_by_source_matches_duckdb_oracle(spark):
    """Dry-run of the queued `vocab_coverage_by_source` entry at BOTH
    parity scales, at a k that actually cuts (k=20 over the 31-token
    fixture vocabulary: coverage ~0.64-0.71, never saturated)."""
    import duckdb

    from etl_staging_spark.llmdata import vocab
    from etl_staging_spark.tables import release_pinned

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        out = vocab.vocab_coverage_by_source(spark.read.parquet(path), k=20)
        got = sorted(tuple(r) for r in out.collect())
        release_pinned(out)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r)
            for r in con.sql(vocab.o_vocab_coverage_by_source(20)).fetchall()
        )
        assert got == want and got
        assert any(r[3] < 1.0 for r in got)  # the cut binds


def test_lang_confusion_card_planted(spark):
    """Planted corpus with hand-checkable confusion cells: a correct
    en prediction, a de-text mislabeled en (off-diagonal), a
    zero-evidence doc in the NULL-prediction column, and a NULL label
    as its own audit row."""
    from etl_staging_spark.llmdata import stats

    docs = spark.createDataFrame(
        [
            (1, "that there", "en"),    # pred en -> diagonal
            (2, "schein unter", "en"),  # pred de -> off-diagonal
            (3, "12345", "xx"),         # zero evidence -> NULL pred
            (4, None, None),            # NULL label audit row
        ],
        "doc_id long, text string, lang string",
    )
    rows = sorted(
        (tuple(r) for r in stats.lang_confusion_card(docs).collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )
    assert rows == [
        (None, None, 1, 1.0),
        ("en", "de", 1, 0.5),
        ("en", "en", 1, 0.5),
        ("xx", None, 1, 1.0),
    ]


def test_lang_confusion_card_matches_duckdb_oracle(spark):
    """Dry-run of the queued `lang_confusion_card` entry at BOTH
    parity scales (labeled lang vs the certified lang_id_ngram
    prediction fragments)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_lang_confusion_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        got = sorted(
            tuple(r)
            for r in stats.lang_confusion_card(
                spark.read.parquet(path)
            ).collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = sorted(
            tuple(r) for r in con.sql(o_lang_confusion_card()).fetchall()
        )
        assert got == want and got


def test_exact_corpus_stats_null_text_matches_oracle(spark):
    """NULL-text semantics of the certified exact-stats entry, which
    the real fixture (zero NULL texts) never exercises: NULL texts
    count toward n_docs and the quantile RANK but are not distinct
    texts nor quantile candidates — a rank past the text-bearing mass
    yields NULL, not the max (the pre-fix Spark twin crashed sorting a
    None histogram key and over-counted distinct texts by one)."""
    import duckdb

    from etl_staging_spark.llmdata import stats

    rows = [
        (1, "a b c", "s"),
        (2, "a b c", "s"),
        (3, None, "s"),
        (4, None, "s"),
        (5, None, "s"),
        (6, None, "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = [tuple(r) for r in stats.exact_corpus_stats(docs).collect()]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = [
        tuple(r)
        for r in con.sql("WITH " + stats.o_exact_corpus_stats()).fetchall()
    ]
    # n_docs 6, one distinct text, p50 rank 3 unreachable in the
    # 2-doc text-bearing mass -> NULL
    assert got == want == [(6, 1, None, None)]


from tests.conftest import nsafe_sorted as _nsafe_sorted  # noqa: E402


def _duck_on(planted_rows, sql):
    """Run a card oracle over a planted (doc_id, text, source) frame."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(planted_rows, columns=["doc_id", "text", "source"]),
    )
    return _nsafe_sorted(tuple(r) for r in con.sql(sql).fetchall())


def test_pii_rate_by_source_planted_and_duckdb(spark):
    """pii_rate_by_source (r14 queue): hand-computed incidence on a
    planted corpus — email + phone in one doc, two long ids in
    another, a clean doc, NULL text counted in n_docs but never in
    matches, a NULL source keeping its own audit row — and exact
    row-set parity with the DuckDB twin on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_pii_rate_by_source

    rows = [
        (0, "contact me at bob@example.com or 555-123-4567", "a"),
        (1, None, "a"),
        (2, "ref 123456789 and 9876543210", "a"),
        (3, "no personal info here", "b"),
        (4, "a@b.co", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: tuple(r)[1:] for r in stats.pii_rate_by_source(docs).collect()}
    assert got["a"] == (3, 1, 1, 2, 2, 0.666667)
    assert got["b"] == (1, 0, 0, 0, 0, 0.0)
    assert got[None] == (1, 1, 0, 0, 1, 1.0)
    want = _duck_on(rows, o_pii_rate_by_source())
    assert _nsafe_sorted(
        tuple(r) for r in stats.pii_rate_by_source(docs).collect()
    ) == want


def test_dup_token_rate_by_source_planted_and_duckdb(spark):
    """dup_token_rate_by_source (r14 queue): token-weighted excess on
    a planted corpus — a 3-token text duplicated within one source
    (3 excess tokens of 8), the SAME text in another source NOT a dup
    there (identity is per-source), an all-empty source with a NULL
    rate, NULL text carrying no identity — and DuckDB parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_dup_token_rate_by_source,
    )

    rows = [
        (0, "w x y", "a"),
        (1, "w x y", "a"),
        (2, "zz", "a"),
        (3, "", "b"),
        (4, None, "b"),
        (5, "w x y", "c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: tuple(r)[1:] for r in stats.dup_token_rate_by_source(docs).collect()}
    assert got["a"] == (3, 7, 3, 0.428571)  # 3+3+1 tokens, 3 excess
    assert got["b"] == (1, 0, 0, None)
    assert got["c"] == (1, 3, 0, 0.0)
    want = _duck_on(rows, o_dup_token_rate_by_source())
    assert _nsafe_sorted(
        tuple(r) for r in stats.dup_token_rate_by_source(docs).collect()
    ) == want


def test_charclass_profile_card_planted_and_duckdb(spark):
    """charclass_profile_card (r14 queue): exact class arithmetic on a
    planted corpus — mixed alpha/digit/space/punct doc, a newline+tab
    doc pinning that the space class is ASCII whitespace (a
    newline-flooded crawl must read as a whitespace flood, not inflate
    other_frac), an accented doc pinning that BOTH engines count
    length() in code points (the oracle docstring's claim), an empty
    doc folded into its source's totals, an all-empty source with NULL
    fractions, NULL text excluded — and DuckDB parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_charclass_profile_card,
    )

    rows = [
        (0, "ab 12!", "a"),
        (1, "", "a"),
        (5, "x\ny\tz", "a"),
        (2, "héé", "b"),
        (3, None, "b"),
        (4, "", "c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: tuple(r)[1:] for r in stats.charclass_profile_card(docs).collect()}
    # a: 11 chars = 5 alpha + 2 digit + 3 whitespace (space, \n, \t) + 1 punct
    assert got["a"] == (3, 11, 0.454545, 0.181818, 0.272727, 0.090909)
    assert got["b"] == (1, 3, 0.333333, 0.0, 0.0, 0.666667)
    assert got["c"] == (1, 0, None, None, None, None)
    want = _duck_on(rows, o_charclass_profile_card())
    assert _nsafe_sorted(
        tuple(r) for r in stats.charclass_profile_card(docs).collect()
    ) == want


def test_r14_queue_cards_match_duckdb_on_real_tables(spark):
    """The three r14-queue cards hash-match their DuckDB twins on the
    REAL documents tables at BOTH parity scales — the registration
    dry-run (each card's planted-fixture test pins the arithmetic;
    this pins the engines against each other at corpus shape)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_charclass_profile_card,
        o_dup_token_rate_by_source,
        o_pii_rate_by_source,
    )

    pairs = [
        (stats.pii_rate_by_source, o_pii_rate_by_source()),
        (stats.dup_token_rate_by_source, o_dup_token_rate_by_source()),
        (stats.charclass_profile_card, o_charclass_profile_card()),
    ]
    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        for fn, sql in pairs:
            got = sorted(tuple(r) for r in fn(docs).collect())
            want = sorted(tuple(r) for r in con.sql(sql).fetchall())
            assert got == want and len(got) > 0, (sf, fn.__name__)


def test_sentence_stats_card_planted_and_duckdb(spark):
    """sentence_stats_card (r15 queue): hand-computed sentence/token
    arithmetic on a planted corpus — multi-terminator prose, a
    terminator-free doc (one sentence), an empty doc (zero), NULL text
    counted in n_docs only, a dots-only doc (zero sentences, NULL
    tokens-per-sentence for its source unless another doc supplies
    one), and the phantom-newline pin: a '\\n' tail after a period is
    NOT a sentence (non-whitespace rule, not trim) — plus DuckDB
    parity on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_sentence_stats_card

    rows = [
        (0, "One fish. Two fish! Red fish?", "a"),
        (1, "no terminator here", "a"),
        (2, "", "a"),
        (3, None, "a"),
        (4, "...", "b"),
        (5, "Hi.\n", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: tuple(r)[1:] for r in stats.sentence_stats_card(docs).collect()}
    # a: 4 docs, 3+1+0 sentences, 9+3+0 tokens -> 12/4 tokens/sentence
    assert got["a"] == (4, 4, 1.0, 3.0)
    # b: '...' is 0 sentences / 3 punct tokens; 'Hi.\n' is 1 sentence
    # (the \n segment is whitespace-only) but 3 tokens — TOKEN_RE
    # counts the newline as a symbol token -> (3+3)/1
    assert got["b"] == (2, 1, 0.5, 6.0)
    want = _duck_on(rows, o_sentence_stats_card())
    assert _nsafe_sorted(
        tuple(r) for r in stats.sentence_stats_card(docs).collect()
    ) == want


def test_dup_similarity_histogram_planted_and_duckdb(spark):
    """dup_similarity_histogram (r15 queue): a planted spectrum — an
    identical pair (bin 10), a high-overlap pair, and a ~0.3-overlap
    pair (the 25+-token fixtures the 3-shingle geometry needs) — lands
    in DISTINCT bins with the identical pair pinned to bin 10, total
    pair count preserved, and exact DuckDB parity on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_dup_similarity_histogram,
    )
    from etl_staging_spark.tables import release_pinned

    w = [f"uniq{i}token" for i in range(60)]
    rows = [
        (0, " ".join(w[0:30]), "a"),       # base
        (1, " ".join(w[0:30]), "a"),       # identical -> bin 10
        (2, " ".join(w[0:28] + w[55:57]), "a"),  # high overlap with 0/1
        (3, " ".join(w[15:45]), "a"),      # ~0.3 overlap with 0/1
        (4, " ".join(w[30:60]), "b"),      # overlaps 3, disjoint from 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = stats.dup_similarity_histogram(docs, threshold=0.1)
    got = sorted(tuple(r) for r in out.collect())
    release_pinned(out)
    bins = {r[0]: r[2] for r in got}
    assert bins.get(10, 0) >= 1          # the identical pair
    assert len(bins) >= 3                # a real spectrum, not one bucket
    assert sum(bins.values()) >= 5       # every overlapping pair counted
    want = _duck_on(rows, o_dup_similarity_histogram(0.1))
    assert got == want


def test_r15_queue_cards_match_duckdb_on_real_tables(spark):
    """The two r15-queue cards hash-match their DuckDB twins on the
    REAL documents tables at BOTH parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_dup_similarity_histogram,
        o_sentence_stats_card,
    )
    from etl_staging_spark.tables import release_pinned

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        for fn, sql in (
            (stats.dup_similarity_histogram, o_dup_similarity_histogram(0.2)),
            (stats.sentence_stats_card, o_sentence_stats_card()),
        ):
            out = fn(docs)
            got = _nsafe_sorted(tuple(r) for r in out.collect())
            release_pinned(out)
            want = _nsafe_sorted(tuple(r) for r in con.sql(sql).fetchall())
            assert got == want and len(got) > 0, (sf, fn.__name__)


def test_token_fertility_by_lang_planted_and_duckdb(spark):
    """token_fertility_by_lang (r15 queue): hand-computed chars/token
    arithmetic on a planted corpus — an en-profile doc, a de-profile
    doc, a digit-only doc (zero bigram evidence -> NULL language but
    REAL chars/tokens), NULL text riding the NULL row with no mass —
    and DuckDB parity on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_token_fertility_by_lang,
    )

    rows = [
        (1, "that there", "x"),    # en; 10 chars / 2 tokens
        (2, "schein unter", "x"),  # de; 12 chars / 2 tokens
        (3, "12345", "x"),         # zero evidence -> NULL lang
        (4, None, "x"),            # NULL text -> NULL lang, no mass
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.pred_lang: tuple(r)[1:] for r in stats.token_fertility_by_lang(docs).collect()}
    assert got["en"] == (1, 10, 2, 5.0)
    assert got["de"] == (1, 12, 2, 6.0)
    assert got[None] == (2, 5, 1, 5.0)
    want = _duck_on(rows, o_token_fertility_by_lang())
    assert _nsafe_sorted(
        tuple(r) for r in stats.token_fertility_by_lang(docs).collect()
    ) == want


def test_length_quality_joint_card_planted_and_duckdb(spark):
    """length_quality_joint_card (r15 queue): a planted corpus pinning
    the cell arithmetic — a 3-token mid-quality doc (quality 0.618 ->
    tenth 6, length bucket 2), an empty doc (zero-ish quality mass in
    bucket 0), a PERFECT doc (50 distinct long words -> quality
    exactly 1.0 -> the bin-10 top cell the micro-integer binning
    reserves), NULL text excluded — and DuckDB parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_length_quality_joint_card,
    )

    perfect = " ".join(f"w{i:04d}xx" for i in range(50))  # q = 1.0 exactly
    rows = [
        (0, "aa bb cc", "a"),   # q=0.3*0.06+0.4+0.15+0.15*(2/6)=0.618
        (1, "", "a"),           # 1 empty space-token, 0 bpe tokens
        (2, perfect, "a"),      # len/distinct/stop/shape all maxed
        (3, None, "a"),         # NULL quality -> excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.lo_tokens, r.q_bin): tuple(r)[2:] for r in
           stats.length_quality_joint_card(docs).collect()}
    assert got[(2, 6)] == (0.6, 1, 0.333333)
    assert got[(32, 10)] == (1.0, 1, 0.333333)
    assert len(got) == 3 and sum(v[1] for v in got.values()) == 3
    want = _duck_on(rows, o_length_quality_joint_card())
    assert _nsafe_sorted(
        tuple(r) for r in stats.length_quality_joint_card(docs).collect()
    ) == want


def test_dup_ngram_coverage_planted_and_duckdb(spark):
    """dup_ngram_coverage (r15 queue): hand-computed duplicated-span
    arithmetic on a planted corpus — a trigram shared across two docs
    of one source (duplicated), a cross-SOURCE share (duplication is
    corpus-wide, the source is just the reporting grain), same-doc
    repetition NOT counted as duplication, sub-n docs and NULL text
    contributing nothing — and DuckDB parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_dup_ngram_coverage

    rows = [
        (0, "a b c d", "s1"),        # grams: "a b c", "b c d"
        (1, "a b c", "s1"),          # "a b c" -> dup with doc 0
        (2, "x y z", "s2"),          # dup with doc 5 (cross-source)
        (3, "a b", "s2"),            # < 3 tokens -> nothing
        (4, None, "s2"),             # NULL text -> nothing
        (5, "x y z w", "s3"),        # "x y z" dup, "y z w" unique
        (6, "p q r p q r", "s4"),    # "p q r" x2 SAME doc -> not dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: tuple(r)[1:] for r in stats.dup_ngram_coverage(docs).collect()}
    assert got["s1"] == (3, 2, 0.666667)
    assert got["s2"] == (1, 1, 1.0)
    assert got["s3"] == (2, 1, 0.5)
    assert got["s4"] == (4, 0, 0.0)
    want = _duck_on(rows, o_dup_ngram_coverage(3))
    assert _nsafe_sorted(
        tuple(r) for r in stats.dup_ngram_coverage(docs).collect()
    ) == want


def _duck_on_emb(planted_rows, sql):
    """Run an embedding-card oracle over a planted (vec_id, embedding,
    label) frame — float32-exact literals only, so the DOUBLE[] the
    oracle sees equals the float the Spark side stores."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[],"
        " label INTEGER)"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", planted_rows)
    return _nsafe_sorted(tuple(r) for r in con.sql(sql).fetchall())


def test_curriculum_order_planted_semantics(spark):
    """curriculum_order (r16): within every shard, higher quality
    stages strictly precede lower ones, NULL-quality rows take stage
    -1 and sort last, positions are contiguous from 1, and the stage
    cut uses the exact floor(q * stages) boundary (q=0.25 -> stage 1,
    q=0.249999 -> stage 0, q=1.0 caps at stages-1)."""
    from etl_staging_spark.llmdata import sampling

    rows = [
        (1, 0.9), (2, 0.1), (3, None), (4, 0.25), (5, 0.249999),
        (6, 1.0), (7, 0.5), (8, 0.75),
    ]
    scored = spark.createDataFrame(rows, "doc_id long, quality double")
    out = sampling.curriculum_order(scored, n_shards=2, stages=4).collect()
    stage = {r.doc_id: r.stage for r in out}
    assert stage[4] == 1 and stage[5] == 0          # exact boundary
    assert stage[6] == 3 and stage[1] == 3          # cap at stages-1
    assert stage[3] == -1                           # unscored last
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r.position)
        assert [m.position for m in members] == list(
            range(1, len(members) + 1)
        )
        stages_seq = [m.stage for m in members]
        assert stages_seq == sorted(stages_seq, reverse=True), (
            shard, stages_seq,
        )


def test_cluster_share_state_fold_matches_batch_card(spark):
    """The incremental cluster-share path: states built from arbitrary
    batch splits (including an EMPTY batch) fold to the batch card
    bit-for-bit — pinned centroids keep the geometry, the additive
    (cell, n_vecs) + (source, cell, n_docs) states carry everything
    the finish needs, and no vector is re-scanned at finish time."""
    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.streaming.ingest import _fold

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = sorted(tuple(r) for r in simsearch.cluster_share_mixture(
        docs.select("doc_id", "source"), emb, 200
    ).collect())

    cent_arrs, _ = simsearch._resolve_centroids(
        emb, None, 8, "vec_id", "embedding"
    )
    cents = [cent_arrs[i] for i in sorted(cent_arrs)]
    # lopsided split incl. an empty third batch
    splits = [
        (F.col("doc_id") < 100, F.col("vec_id") < 100),
        (F.col("doc_id") >= 100, F.col("vec_id") >= 100),
        (F.lit(False), F.lit(False)),
    ]
    cell_parts, mat_parts = [], []
    for dp, vp in splits:
        cell_parts.append(simsearch.cluster_cell_counts(
            emb.where(vp), centroids=cents
        ))
        mat_parts.append(simsearch.cluster_source_cell_matrix(
            docs.where(dp).select("doc_id", "source"),
            emb.where(vp),
            centroids=cents,
        ))
    cells = _fold(
        cell_parts[0].unionByName(cell_parts[1]).unionByName(cell_parts[2]),
        ("cell",), ("n_vecs",),
    )
    matrix = _fold(
        mat_parts[0].unionByName(mat_parts[1]).unionByName(mat_parts[2]),
        ("source", "cell"), ("n_docs",),
    )
    got = sorted(tuple(r) for r in simsearch.cluster_share_mixture_from_state(
        docs.select("doc_id", "source"), cells, matrix, 200
    ).collect())
    assert got == want and got


def test_cluster_ops_empty_embeddings_fail_loudly(spark):
    """An empty embeddings table cannot define a cell geometry: every
    centroid-family operator must raise the clear no-centroids
    ValueError, not the opaque INVALID_EXTRACT_BASE_FIELD_TYPE the
    empty scores array used to surface; explicit centroids= still
    work on the same (empty) frame."""
    import pytest as _pytest

    from etl_staging_spark.llmdata import simsearch

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    docs = spark.createDataFrame([], "doc_id long, source string")
    with _pytest.raises(ValueError, match="no centroids"):
        simsearch.cluster_profile(emb)
    with _pytest.raises(ValueError, match="no centroids"):
        simsearch.cluster_balanced_sample(emb, target_total=10)
    with _pytest.raises(ValueError, match="no centroids"):
        simsearch.cluster_share_mixture(docs, emb, target_total=10)
    # explicit centroids define the geometry even over an empty corpus
    out = simsearch.cluster_profile(emb, centroids=[[1.0, 0.0], [0.0, 1.0]])
    assert out.collect() == []


def test_cluster_share_mixture_planted_semantics(spark):
    """cluster_share_mixture (r16): a source living in the DOMINANT
    topic cell is downweighted relative to one living in the rare cell
    — the rare-cell source keeps a strictly larger fraction — and the
    card's avg_cell_share is the exact mean of member cell shares."""
    from etl_staging_spark.llmdata import simsearch

    # centroids = first 2 vec_ids: [1,0] and [0,1]; cell 0 gets
    # {0, 2..7} (share .7), cell 1 gets {1, 8, 9} (share .3)
    emb_rows = ([(0, [1.0, 0.0], None), (1, [0.0, 1.0], None)]
                + [(i, [1.0, 0.0], None) for i in range(2, 8)]
                + [(8, [0.0, 1.0], None), (9, [0.0, 1.0], None)])
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label int"
    )
    # src_big: docs 2-7 all in the dominant cell; src_rare: docs 8-9
    # in the rare cell; the centroid docs (0, 1) get their own source
    docs = spark.createDataFrame(
        [(i, "src_seed" if i < 2 else ("src_big" if i < 8 else "src_rare"))
         for i in range(10)],
        "doc_id long, source string",
    )
    out = {r.source: r for r in simsearch.cluster_share_mixture(
        docs, emb, target_total=6, n_centroids=2
    ).collect()}
    assert out["src_big"].n_docs == 6 and out["src_rare"].n_docs == 2
    assert out["src_big"].avg_cell_share == 0.7
    assert out["src_rare"].avg_cell_share == 0.3
    # rare-cell source keeps a strictly larger FRACTION of its docs
    frac_big = out["src_big"].n_kept / out["src_big"].n_docs
    frac_rare = out["src_rare"].n_kept / out["src_rare"].n_docs
    assert frac_rare > frac_big
    # quotas never upsample
    for r in out.values():
        assert 0 <= r.n_kept <= r.n_docs


def test_cluster_profile_planted_and_duckdb(spark):
    """cluster_profile (r15 queue): hand-checkable assignment on a
    planted 2-centroid corpus — the equidistant vector ties to the
    LOWER cell, the modal label ties toward the LOWER label with NULL
    sorting last, avg_cos is the exact-decimal mean of prounded
    cosines — and DuckDB parity on the same frame."""
    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.queries.catalog_llm import o_cluster_profile

    rows = [
        (0, [1.0, 0.0], 7),      # centroid 0
        (1, [0.0, 1.0], 1),      # centroid 1
        (2, [0.75, 0.25], 3),    # cell 0, cos 0.948683
        (3, [0.25, 0.75], None), # cell 1; NULL label loses the tie
        (4, [0.5, 0.5], 3),      # EXACT tie -> lower cell (0)
    ]
    docs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = simsearch.cluster_profile(docs, n_centroids=2)
    got = {r.cell: tuple(r)[1:] for r in out.collect()}
    # cell 0: members {0, 2, 4}; labels {7, 3, 3} -> modal 3
    # avg_cos = (1.0 + 0.948683 + 0.707107) / 3 -> 0.885263
    assert got[0] == (3, 0.6, 0.885263, 3, 0.666667)
    # cell 1: members {1, 3}; labels {1, NULL} tie -> 1 (NULLS LAST)
    n1, share1, _avg1, modal1, mshare1 = got[1]
    assert (n1, share1, modal1, mshare1) == (2, 0.4, 1, 0.5)
    want = _duck_on_emb(rows, o_cluster_profile(2))
    assert _nsafe_sorted(tuple(r) for r in out.collect()) == want


def test_r15_wave2_cards_match_duckdb_on_real_tables(spark):
    """The four r15-wave-2 cards hash-match their DuckDB twins on the
    REAL tables at BOTH parity scales — the registration dry-run (the
    planted tests pin the arithmetic; this pins the engines against
    each other at corpus shape)."""
    import duckdb

    from etl_staging_spark.llmdata import simsearch, stats
    from etl_staging_spark.queries.catalog_llm import (
        o_cluster_profile,
        o_dup_ngram_coverage,
        o_length_quality_joint_card,
        o_token_fertility_by_lang,
    )

    doc_pairs = [
        (stats.token_fertility_by_lang, o_token_fertility_by_lang()),
        (stats.length_quality_joint_card, o_length_quality_joint_card()),
        (stats.dup_ngram_coverage, o_dup_ngram_coverage(3)),
    ]
    for sf in ("sf0.001", "sf0.01"):
        dpath = f"/root/testdata/{sf}/documents.parquet"
        epath = f"/root/testdata/{sf}/embeddings.parquet"
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{dpath}'")
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{epath}'")
        docs = spark.read.parquet(dpath)
        for fn, sql in doc_pairs:
            got = _nsafe_sorted(tuple(r) for r in fn(docs).collect())
            want = _nsafe_sorted(tuple(r) for r in con.sql(sql).fetchall())
            assert got == want and len(got) > 0, (sf, fn.__name__)
        emb = spark.read.parquet(epath)
        got = _nsafe_sorted(
            tuple(r) for r in simsearch.cluster_profile(emb).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_cluster_profile(8)).fetchall()
        )
        assert got == want and len(got) > 0, (sf, "cluster_profile")


def test_source_vocab_cosine_matrix_planted_and_duckdb(spark):
    """source_vocab_cosine_matrix (r15 queue): hand-computed cosines on
    a planted corpus — a 0.948683 partial overlap, a MIRROR pair
    (same distribution at 3x the size) pinning scale-invariance at
    exactly 1.0, a zero-overlap source with no row, NULL source/text
    excluded — and DuckDB parity on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_source_vocab_cosine_matrix,
    )

    rows = [
        (0, "a b", "s1"),
        (1, "a", "s1"),            # s1: a:2 b:1, norm sqrt(5)
        (2, None, "s1"),           # NULL text -> nothing
        (3, "a a b b", "s2"),      # s2: a:2 b:2, norm sqrt(8)
        (4, "c", "s3"),            # zero overlap -> no pair rows
        (5, "d e d e d e", "s4"),  # s4: d:3 e:3
        (6, "d e", "s5"),          # s5 = s4 / 3 -> cosine exactly 1
        (7, "a", None),            # NULL source -> excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): tuple(r)[2:] for r in
           stats.source_vocab_cosine_matrix(docs).collect()}
    # dot = 2*2 + 1*2 = 6; 6 / (sqrt(5)*sqrt(8)) = 0.948683
    assert got[("s1", "s2")] == (2, 0.948683)
    assert got[("s4", "s5")] == (2, 1.0)
    assert len(got) == 2
    want = _duck_on(rows, o_source_vocab_cosine_matrix())
    assert _nsafe_sorted(
        tuple(r) for r in stats.source_vocab_cosine_matrix(docs).collect()
    ) == want


def test_source_vocab_cosine_matrix_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `source_vocab_cosine_matrix` at BOTH
    parity scales on the real documents tables."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_source_vocab_cosine_matrix,
    )

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(
            tuple(r)
            for r in stats.source_vocab_cosine_matrix(docs).collect()
        )
        want = _nsafe_sorted(
            tuple(r)
            for r in con.sql(o_source_vocab_cosine_matrix()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_truncation_loss_card_planted_and_duckdb(spark):
    """truncation_loss_card (r15 queue): hand-computed loss arithmetic
    at max_len=4 on a planted corpus — a 6-token doc losing exactly 2,
    an under-limit doc, an empty doc (a real zero-token doc), NULL
    text excluded, an all-empty source with a NULL loss rate, a NULL
    source keeping its audit row — and DuckDB parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_truncation_loss_card

    rows = [
        (0, "a b c d e f", "s1"),  # 6 tokens -> lost 2
        (1, "a b", "s1"),
        (2, "", "s1"),
        (3, None, "s1"),           # excluded
        (4, "", "s2"),             # all-empty source
        (5, "x y z w v", None),    # NULL-source audit row, lost 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: tuple(r)[1:] for r in
           stats.truncation_loss_card(docs, max_len=4).collect()}
    assert got["s1"] == (3, 8, 1, 2, 0.333333, 0.25)
    assert got["s2"] == (1, 0, 0, 0, 0.0, None)
    assert got[None] == (1, 5, 1, 1, 1.0, 0.2)
    want = _duck_on(rows, o_truncation_loss_card(4))
    assert _nsafe_sorted(
        tuple(r) for r in stats.truncation_loss_card(docs, max_len=4).collect()
    ) == want


def test_truncation_loss_card_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `truncation_loss_card` at BOTH parity
    scales — max_len=64 so the cut actually bites the fixture corpus
    (the default 512 exceeds every testdata doc)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_truncation_loss_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(
            tuple(r)
            for r in stats.truncation_loss_card(docs, max_len=64).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_truncation_loss_card(64)).fetchall()
        )
        assert got == want and len(got) > 0, sf
        # the cut must actually bite for the parity to mean anything
        assert any(r[4] > 0 for r in got), sf


def test_source_signature_terms_planted_and_duckdb(spark):
    """source_signature_terms (r15 queue): hand-computed lifts on a
    planted corpus — a source-dominant token tops its list, an
    equal-lift pair pins the token-ASC tie-break, NULL text and NULL
    source contribute nothing — and DuckDB parity on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_source_signature_terms,
    )

    rows = [
        (0, "apple apple banana", "s1"),
        (1, "banana banana cherry banana", "s2"),
        (2, None, "s1"),
        (3, "x", None),      # NULL source -> excluded entirely
        (4, "p q", "s3"),    # equal lifts -> tie to the smaller token
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(
        tuple(r)
        for r in stats.source_signature_terms(docs, k=2, min_cnt=1).collect()
    )
    # N=9; s1: apple 2*9/(3*2)=3.0, banana 9/12=0.75; s2: cherry
    # 9/4=2.25, banana 27/16=1.6875; s3: p=q=9/2 -> tie -> p first
    assert got == [
        ("s1", 1, "apple", 2, 3.0),
        ("s1", 2, "banana", 1, 0.75),
        ("s2", 1, "cherry", 1, 2.25),
        ("s2", 2, "banana", 3, 1.6875),
        ("s3", 1, "p", 1, 4.5),
        ("s3", 2, "q", 1, 4.5),
    ]
    want = _duck_on(rows, o_source_signature_terms(2, 1))
    assert _nsafe_sorted(
        tuple(r)
        for r in stats.source_signature_terms(docs, k=2, min_cnt=1).collect()
    ) == want


def test_source_signature_terms_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `source_signature_terms` at BOTH parity
    scales with the default k/min_cnt."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_source_signature_terms,
    )

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(
            tuple(r) for r in stats.source_signature_terms(docs).collect()
        )
        want = _nsafe_sorted(
            tuple(r)
            for r in con.sql(o_source_signature_terms()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_cluster_profile_with_trained_centroids(spark):
    """cluster_profile composes with train_ivf_centroids (the 100 TB
    path: k-means on a bounded deterministic sample, centroid literals
    broadcast): every vector lands in exactly one cell, shares sum to
    1, purity is a valid share, and the trained partition is no worse
    than a single-cell grab-bag (>= 2 populated cells on the real
    embeddings)."""
    from etl_staging_spark.llmdata import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = simsearch.train_ivf_centroids(emb, n_centroids=4, n_iter=3)
    out = simsearch.cluster_profile(emb, centroids=cents).collect()
    assert sum(r.n_members for r in out) == emb.count()
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4
    assert len(out) >= 2
    for r in out:
        assert 0.0 < r.modal_share <= 1.0
        assert -1.000001 <= r.avg_cos <= 1.000001


def test_mm_usability_card_planted_and_duckdb(spark):
    """mm_usability_card (r16 queue): a planted corpus splitting the
    three populations — a normal payload (usable), an empty payload
    (zero vector), a NULL payload (NULL vector) — lands each in its own
    counter with the right format, and the card matches its DuckDB twin
    on the same frame."""
    from etl_staging_spark.llmdata import multimodal
    from etl_staging_spark.queries.catalog_llm import o_mm_usability_card

    rows = [
        (0, "abc", "s"),    # 3 bytes  -> img, usable
        (1, "", "s"),       # 0 bytes  -> img, ZERO vector
        (2, "abcd", "s"),   # 4 bytes  -> audio, usable
        (3, None, "s"),     # NULL payload -> NULL vector
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    feats = multimodal.feature_table(docs, dim=16)
    out = [tuple(r) for r in multimodal.usability_card(feats).collect()]
    got = {r[0]: r[1:] for r in out}
    assert got["img"] == (2, 0, 1, 1, 0.5)
    assert got["audio"] == (1, 0, 0, 1, 1.0)
    want = _duck_on(rows, o_mm_usability_card(16))
    assert _nsafe_sorted(out) == want


def test_mm_usability_card_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `mm_usability_card` at BOTH parity
    scales over the real documents tables (dim=16, the certified
    mm_feature_hist configuration)."""
    import duckdb

    from etl_staging_spark.llmdata import multimodal
    from etl_staging_spark.queries.catalog_llm import o_mm_usability_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        feats = multimodal.feature_table(docs, dim=16)
        got = _nsafe_sorted(
            tuple(r) for r in multimodal.usability_card(feats).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_mm_usability_card(16)).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_events_volume_card_planted_and_duckdb(spark):
    """events volume card (r16 queue): exact-cents arithmetic on a
    planted stream — a half-up 2-dp rounding pin (1.005 -> 1.01), a
    NULL value counted in n_events but not n_value, a NULL event_type
    audit row — and DuckDB parity on the same frame."""
    import duckdb
    from datetime import datetime

    from etl_staging_spark.operators import events as ev

    rows = [
        (1, datetime(2024, 1, 1, 10), 1, "view", 1.005, None),
        (2, datetime(2024, 1, 1, 11), 1, "view", 2.0, None),
        (3, datetime(2024, 1, 1, 12), 2, "click", None, None),
        (4, datetime(2024, 1, 1, 13), 2, None, 0.4, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    events = spark.createDataFrame(rows, schema)
    got = {r.event_type: tuple(r)[1:] for r in ev.volume_card(events).collect()}
    assert got["view"] == (2, 2, 3.01)
    assert got["click"] == (1, 0, 0.0)
    assert got[None] == (1, 1, 0.4)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    want = _nsafe_sorted(tuple(r) for r in con.sql(ev.o_volume_card()).fetchall())
    assert _nsafe_sorted(
        tuple(r) for r in ev.volume_card(events).collect()
    ) == want


def test_events_volume_card_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of the events volume card at BOTH parity
    scales on the real events tables."""
    import duckdb

    from etl_staging_spark.operators import events as ev

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/events.parquet"
        events = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(tuple(r) for r in ev.volume_card(events).collect())
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(ev.o_volume_card()).fetchall()
        )
        assert got == want and len(got) > 0, sf


# ---------------------------------------------------------------------------
# r14 new builds: concentration card, boilerplate top-k, decontam rates
# ---------------------------------------------------------------------------


def test_source_concentration_card_planted_and_duckdb(spark):
    """source_concentration_card (new r14): hand-computed HHIs on a
    planted corpus — two sources with 3:1 docs and 9:1 tokens (token
    HHI far above doc HHI, the long-docs-dominate signal), a NULL
    source bucket, NULL text carrying zero tokens — the dominant
    source pinned by the token tie-break, and DuckDB parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_source_concentration_card,
    )

    rows = [
        (0, "a b c d e f g h i", "big"),    # 9 tokens
        (1, "x", "small"),                   # 1 token
        (2, None, "big"),                    # NULL text: doc, no tokens
        (3, "y z", None),                    # NULL-source bucket, 2 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [tuple(r) for r in stats.source_concentration_card(docs).collect()]
    assert len(got) == 1
    (n_sources, n_docs, n_tokens, doc_hhi, token_hhi,
     top_source, top_doc_share, top_token_share) = got[0]
    assert (n_sources, n_docs, n_tokens) == (3, 4, 12)
    # doc shares 2/4, 1/4, 1/4 -> HHI = (4+1+1)/16 = 0.375
    assert doc_hhi == 0.375
    # token shares 9/12, 1/12, 2/12 -> (81+1+4)/144 = 0.597222
    assert token_hhi == 0.597222
    assert (top_source, top_doc_share, top_token_share) == ("big", 0.5, 0.75)
    want = _duck_on(rows, o_source_concentration_card())
    assert _nsafe_sorted(tuple(r) for r in
                         stats.source_concentration_card(docs).collect()) == want


def test_source_concentration_token_free_corpus(spark):
    """A token-free corpus keeps the doc-side numbers and reports NULL
    token HHI / top token share (never a division by zero)."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_source_concentration_card,
    )

    rows = [(0, None, "a"), (1, "", "a"), (2, None, "b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [tuple(r) for r in stats.source_concentration_card(docs).collect()]
    assert got[0][2] == 0 and got[0][4] is None and got[0][7] is None
    assert got[0][3] == 0.555556  # (4+1)/9
    assert _nsafe_sorted(got) == _duck_on(rows, o_source_concentration_card())


def test_boilerplate_ngrams_topk_planted_and_duckdb(spark):
    """boilerplate_ngrams_topk (new r14): a 3-gram stamped across three
    docs (twice in one of them) tops the list over a 2-doc gram and
    single-doc grams; rank ties break (docs desc, occurrences desc,
    gram ASC); the k cut binds; DuckDB parity on the same frame."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        o_boilerplate_ngrams_topk,
    )

    boiler = "all rights reserved"
    rows = [
        (0, f"{boiler} alpha beta gamma", "a"),
        (1, f"{boiler} delta {boiler}", "a"),
        (2, f"epsilon {boiler}", "b"),
        (3, "zeta eta theta", "b"),
        (4, None, "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = stats.boilerplate_ngrams_topk(docs, k=3, n=3)
    got = sorted(tuple(r) for r in out.collect())
    assert got[0] == (1, boiler, 3, 4)
    assert len(got) == 3
    want = _duck_on(rows, o_boilerplate_ngrams_topk(3, 3))
    assert _nsafe_sorted(tuple(r) for r in out.collect()) == want


def test_decontam_rate_by_source_planted_and_duckdb(spark):
    """decontam_rate_by_source (new r14): a corpus doc sharing an exact
    5-gram with the eval set flags the exact rung; a near-identical
    (3-gram Jaccard >= 0.8) corpus doc flags the fuzzy rung; a clean
    source reports rate 0; any-rung never double-counts a doc flagged
    by both; per-source rates hand-checked and DuckDB parity at the
    registry's %20 split."""
    from etl_staging_spark.llmdata import decontam
    from etl_staging_spark.queries.catalog_llm import (
        o_decontam_rate_by_source,
    )
    from etl_staging_spark.tables import release_pinned

    w = [f"tok{i}" for i in range(40)]
    eval_text = " ".join(w[0:30])
    near_dup = " ".join(w[0:29] + ["zzz"])   # jaccard ~0.9 on 3-grams
    rows = [
        (20, eval_text, "eval"),             # doc_id % 20 == 0 -> eval side
        (1, eval_text, "dirty"),             # exact + fuzzy hit
        (2, near_dup, "dirty"),              # fuzzy hit (and exact: shares 5-grams)
        (3, " ".join(w[30:40]), "clean"),    # disjoint
        (4, None, "clean"),                  # NULL text: counted, never flagged
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    out = decontam.decontam_rate_by_source(corpus, bench)
    got = {r.source: tuple(r)[1:] for r in out.collect()}
    release_pinned(out)
    assert got["dirty"][0] == 2 and got["dirty"][3] == 2      # both flagged
    assert got["dirty"][4] == 1.0
    assert got["clean"] == (2, 0, 0, 0, 0.0)
    want = _duck_on(rows, o_decontam_rate_by_source())
    out2 = decontam.decontam_rate_by_source(corpus, bench)
    assert _nsafe_sorted(tuple(r) for r in out2.collect()) == want
    release_pinned(out2)


def test_r14_new_cards_match_duckdb_on_real_tables(spark):
    """The three r14 new-build cards hash-match their DuckDB twins on
    the REAL documents tables at BOTH parity scales (the registration
    dry-run)."""
    import duckdb

    from etl_staging_spark.llmdata import decontam, stats
    from etl_staging_spark.queries.catalog_llm import (
        o_boilerplate_ngrams_topk,
        o_decontam_rate_by_source,
        o_source_concentration_card,
    )
    from etl_staging_spark.tables import release_pinned

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        for fn, sql in (
            (stats.source_concentration_card, o_source_concentration_card()),
            (lambda d: stats.boilerplate_ngrams_topk(d, k=20, n=3),
             o_boilerplate_ngrams_topk(20, 3)),
        ):
            got = _nsafe_sorted(tuple(r) for r in fn(docs).collect())
            want = _nsafe_sorted(tuple(r) for r in con.sql(sql).fetchall())
            assert got == want and len(got) > 0, (sf, sql[:40])
        bench = docs.where(F.col("doc_id") % 20 == 0)
        corpus = docs.where(F.col("doc_id") % 20 != 0)
        out = decontam.decontam_rate_by_source(corpus, bench)
        got = _nsafe_sorted(tuple(r) for r in out.collect())
        release_pinned(out)
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_decontam_rate_by_source()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_embedding_dim_stats_planted_and_duckdb(spark):
    """embedding_dim_stats (new r14): hand-computed per-dim min/max/
    mean/int8-scale on a planted frame — a NULL vector and a
    NULL-element vector contribute nothing, a ragged short vector
    shows up as a smaller n on the missing dim, the scale is the
    symmetric max(|min|, |max|)/127 — and DuckDB parity."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.queries.catalog_llm import o_embedding_dim_stats

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    rows = [
        (0, [1.0, -2.0], 1),
        (1, [3.0, 0.5], 1),
        (2, [0.25], 2),          # ragged: dim 1 missing here
        (3, None, 2),            # NULL vector: excluded
        (4, [1.0, None], 2),     # NULL element: whole vector excluded
    ]
    docs = spark.createDataFrame(rows, schema)
    got = {r.dim: tuple(r)[1:] for r in
           simsearch.embedding_dim_stats(docs).collect()}
    # dim 0: n=3 over {1.0, 3.0, 0.25} -> mean 4.25/3, scale 3/127
    assert got[0] == (3, 0.25, 3.0, 1.416667, 0.023622)
    # dim 1: n=2 over {-2.0, 0.5} -> mean -0.75, scale 2/127
    assert got[1] == (2, -2.0, 0.5, -0.75, 0.015748)
    want = _duck_on_emb(rows, o_embedding_dim_stats())
    assert _nsafe_sorted(
        tuple(r) for r in simsearch.embedding_dim_stats(docs).collect()
    ) == want


def test_embedding_dim_stats_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `embedding_dim_stats` at BOTH parity
    scales on the real embeddings tables."""
    import duckdb

    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.queries.catalog_llm import o_embedding_dim_stats

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        emb = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(
            tuple(r) for r in simsearch.embedding_dim_stats(emb).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_embedding_dim_stats()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_events_interarrival_card_planted_and_duckdb(spark):
    """events interarrival card (new r14): hand-computed gap stats on a
    planted stream — a metronome user (gaps 10, 10: Fano 0), a bursty
    type (gaps 1 and 599 -> Fano = variance/mean >> 1), a single-event
    type with no gaps (NULL mean/max/Fano), a NULL event_type audit
    row, same-type gaps never crossing users — and DuckDB parity."""
    import duckdb
    from datetime import datetime, timedelta

    from etl_staging_spark.operators import events as ev

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # user 1, 'tick': gaps 10, 10 -> mean 10, fano 0
        (1, t0, 1, "tick", None, None),
        (2, t0 + timedelta(seconds=10), 1, "tick", None, None),
        (3, t0 + timedelta(seconds=20), 1, "tick", None, None),
        # user 2, 'burst': gaps 1, 599 -> mean 300, var 89401, fano 298.003333
        (4, t0, 2, "burst", None, None),
        (5, t0 + timedelta(seconds=1), 2, "burst", None, None),
        (6, t0 + timedelta(seconds=600), 2, "burst", None, None),
        # user 3, 'tick': single event -> no gap; must NOT chain to user 1
        (7, t0 + timedelta(seconds=5), 3, "tick", None, None),
        # NULL event_type audit row
        (8, t0, 1, None, None, None),
        (9, t0 + timedelta(seconds=7), 1, None, None, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    events = spark.createDataFrame(rows, schema)
    got = {r.event_type: tuple(r)[1:] for r in
           ev.interarrival_card(events).collect()}
    assert got["tick"] == (4, 2, 10.0, 10, 0.0)
    # burst: n*sg2 - sg^2 = 2*(1+358801) - 600^2 = 357604; /(2*600)
    assert got["burst"] == (3, 2, 300.0, 599, 298.003333)
    assert got[None] == (2, 1, 7.0, 7, 0.0)  # one gap: population var 0
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    want = _nsafe_sorted(
        tuple(r) for r in con.sql(ev.o_interarrival_card()).fetchall()
    )
    assert _nsafe_sorted(
        tuple(r) for r in ev.interarrival_card(events).collect()
    ) == want


def test_events_interarrival_card_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of the interarrival card at BOTH parity
    scales on the real events tables."""
    import duckdb

    from etl_staging_spark.operators import events as ev

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/events.parquet"
        events = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(
            tuple(r) for r in ev.interarrival_card(events).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(ev.o_interarrival_card()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_decontam_matrix_planted_and_duckdb(spark):
    """decontam_matrix (new r14): a corpus doc colliding with eval set
    A only flags the (source, A) cell; the (source, B) zero cell is
    REPORTED; a clean source reports two zero cells; a NULL-source doc
    keeps its audit row through the null-safe grid join — and DuckDB
    parity at the registry's %40 split."""
    from etl_staging_spark.llmdata import decontam
    from etl_staging_spark.queries.catalog_llm import o_decontam_matrix

    w = [f"tok{i}" for i in range(30)]
    rows = [
        (0, " ".join(w[0:10]), "eval"),     # %40=0  -> holdout_a
        (20, " ".join(w[10:20]), "eval"),   # %40=20 -> holdout_b
        (1, " ".join(w[0:10]), "dirty"),    # collides with A only
        (2, " ".join(w[20:30]), "clean"),   # disjoint
        (3, " ".join(w[10:20]), None),      # NULL source, collides with B
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    m40 = F.pmod("doc_id", F.lit(40))
    bench = docs.where((m40 == 0) | (m40 == 20)).withColumn(
        "eval_set",
        F.when(m40 == 0, F.lit("holdout_a")).otherwise(F.lit("holdout_b")),
    )
    corpus = docs.where((m40 != 0) & (m40 != 20))
    got = {(r.source, r.eval_set): tuple(r)[2:] for r in
           decontam.decontam_matrix(corpus, bench).collect()}
    assert len(got) == 6  # 3 sources x 2 sets, zero cells present
    assert got[("dirty", "holdout_a")] == (1, 1, 1.0)
    assert got[("dirty", "holdout_b")] == (1, 0, 0.0)
    assert got[("clean", "holdout_a")] == (1, 0, 0.0)
    assert got[(None, "holdout_b")] == (1, 1, 1.0)
    assert got[(None, "holdout_a")] == (1, 0, 0.0)
    want = _duck_on(rows, o_decontam_matrix())
    assert _nsafe_sorted(
        tuple(r) for r in decontam.decontam_matrix(corpus, bench).collect()
    ) == want


def test_decontam_matrix_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `decontam_matrix` at BOTH parity scales."""
    import duckdb

    from etl_staging_spark.llmdata import decontam
    from etl_staging_spark.queries.catalog_llm import o_decontam_matrix

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        m40 = F.pmod("doc_id", F.lit(40))
        bench = docs.where((m40 == 0) | (m40 == 20)).withColumn(
            "eval_set",
            F.when(m40 == 0, F.lit("holdout_a")).otherwise(
                F.lit("holdout_b")
            ),
        )
        corpus = docs.where((m40 != 0) & (m40 != 20))
        got = _nsafe_sorted(
            tuple(r)
            for r in decontam.decontam_matrix(corpus, bench).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_decontam_matrix()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_snapshot_drift_card_planted_and_duckdb(spark):
    """snapshot_drift_card (new r14): hand-computed drift on planted
    snapshots — a NULL-rate jump, a token-length collapse, a source
    present only in the NEW drop (old side NULL — the appearing-source
    finding), the NULL-source bucket landing on ONE row with both
    sides — and DuckDB parity at the registry's even/odd split."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_snapshot_drift_card

    rows = [
        # even doc_id = old snapshot, odd = new
        (0, "a b c d", "s1"),     # old s1: 4 tokens
        (2, "e f g h", "s1"),     # old s1: 4 tokens, 0 nulls
        (1, "a b", "s1"),         # new s1: 2 tokens
        (3, None, "s1"),          # new s1: null-rate 0 -> 0.5
        (5, "x y z", "fresh"),    # appears only in new
        (4, "q", None),           # old NULL-source bucket
        (7, "q r", None),         # new NULL-source bucket
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    old = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
    new = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
    got = {r.source: r for r in stats.snapshot_drift_card(old, new).collect()}
    assert len(got) == 3
    s1 = got["s1"]
    assert (s1.old_docs, s1.new_docs) == (2, 2)
    assert (s1.old_null_rate, s1.new_null_rate, s1.null_rate_delta) == (
        0.0, 0.5, 0.5)
    assert (s1.old_mean_tokens, s1.new_mean_tokens,
            s1.mean_tokens_delta) == (4.0, 2.0, -2.0)
    fresh = got["fresh"]
    assert fresh.old_docs is None and fresh.new_docs == 1
    assert fresh.old_mean_tokens is None and fresh.mean_tokens_delta is None
    nul = got[None]
    assert (nul.old_docs, nul.new_docs) == (1, 1)
    assert (nul.old_mean_tokens, nul.new_mean_tokens) == (1.0, 2.0)
    want = _duck_on(rows, o_snapshot_drift_card())
    assert _nsafe_sorted(
        tuple(r) for r in stats.snapshot_drift_card(old, new).collect()
    ) == want


def test_snapshot_drift_card_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `snapshot_drift_card` at BOTH parity
    scales (even/odd doc_id snapshots of the real documents tables)."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_snapshot_drift_card

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        old = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
        new = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
        got = _nsafe_sorted(
            tuple(r) for r in stats.snapshot_drift_card(old, new).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_snapshot_drift_card()).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_quality_by_lang_planted_and_duckdb(spark):
    """quality_by_lang (new r14): a clearly-English doc and a
    clearly-German doc land on their language rows with their exact
    prounded scores; a digit-only doc (zero bigram evidence) and a
    NULL-text doc share the NULL-language row with NULL quality mass;
    the low cut counts prounded scores strictly below it — and DuckDB
    parity."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_quality_by_lang

    rows = [
        (0, "the quick brown fox and the lazy dog were here", "a"),
        (1, "der schnelle braune fuchs und der faule hund", "a"),
        (2, "12345", "b"),
        (3, None, "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.pred_lang: tuple(r)[1:] for r in
           stats.quality_by_lang(docs).collect()}
    assert got[None][0] == 2           # digit-only + NULL text
    # the digit doc DOES carry a quality (unidentified != unscored);
    # the NULL-text doc contributes no quality mass
    assert got[None][1] is not None
    langs = [k for k in got if k is not None]
    assert len(langs) >= 2             # en and de rows both present
    for k in langs:
        n, mq, lowd, lowr = got[k]
        assert n >= 1 and mq is not None and 0.0 <= lowr <= 1.0
    want = _duck_on(rows, o_quality_by_lang(0.5))
    assert _nsafe_sorted(
        tuple(r) for r in stats.quality_by_lang(docs).collect()
    ) == want


def test_quality_by_lang_matches_duckdb_on_real_tables(spark):
    """Registration dry-run of `quality_by_lang` at BOTH parity
    scales."""
    import duckdb

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import o_quality_by_lang

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        docs = spark.read.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        got = _nsafe_sorted(
            tuple(r) for r in stats.quality_by_lang(docs).collect()
        )
        want = _nsafe_sorted(
            tuple(r) for r in con.sql(o_quality_by_lang(0.5)).fetchall()
        )
        assert got == want and len(got) > 0, sf


def test_cluster_balanced_sample_flattens_and_matches_duckdb(spark):
    """cluster_balanced_sample (r15 — the actuator cluster_profile
    reads for): on the real embeddings table, the uniform-target
    sample (1) keeps at most ceil(target/n_cells) per cell up to each
    cell's population, (2) flattens the cell distribution (max/min
    kept ratio <= the unsampled ratio), (3) never exceeds the target
    by more than bucket-rounding slack, and (4) per-cell kept counts
    hash-match the DuckDB oracle chain; temperature alpha composes via
    the shared integer-weight rule."""
    import duckdb

    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.queries.catalog_llm import (
        o_cluster_balanced_sample,
    )

    path = "/root/testdata/sf0.01/embeddings.parquet"
    emb = spark.read.parquet(path)
    target = 120
    kept = simsearch.cluster_balanced_sample(emb, target_total=target)
    per = {r.cell: r.n for r in kept.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    pop = {
        r.cell: r.n
        for r in simsearch.cluster_profile(emb)
        .select(F.col("cell"), F.col("n_members").alias("n"))
        .collect()
    }
    n_cells = len(pop)
    assert sum(per.values()) <= target + n_cells  # bucket rounding slack
    # every cell lands near its uniform quota (bucket-hash sampling
    # noise is binomial around rate*n; +-40% covers it at n~15)
    quota = target / n_cells
    for c, n in per.items():
        assert n <= min(pop[c], quota * 1.4 + 2)
        if pop[c] >= quota:
            assert n >= quota * 0.6 - 2
    # DuckDB parity on the registered per-cell counts
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = sorted(tuple(r) for r in con.sql(
        o_cluster_balanced_sample(8, target)).fetchall())
    got = sorted((r.cell, r.n) for r in kept.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect())
    assert got == want
    # alpha path: temperature weights change quotas deterministically
    kept_t = simsearch.cluster_balanced_sample(
        emb, target_total=target, alpha=0.5
    )
    assert kept_t.count() <= target + n_cells
    # FLATTENING, on a corpus that is actually skewed: 120 vectors in
    # cell 0's neighbourhood vs 12 near cell 1 (10:1). Uniform target
    # 40 -> quota 20 each: the kept ratio must collapse toward 1:1.
    import random

    rng = random.Random(7)
    planted = [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 0)]  # the centroids
    for i in range(2, 122):
        planted.append((i, [1.0, rng.uniform(0.0, 0.2)], 0))
    for i in range(122, 134):
        planted.append((i, [rng.uniform(0.0, 0.2), 1.0], 0))
    skewed = spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label int"
    )
    kept_s = simsearch.cluster_balanced_sample(
        skewed, target_total=40, n_centroids=2
    )
    per_s = {r.cell: r.n for r in kept_s.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # cell 1 keeps (nearly) all 12; cell 0 is cut to ~20 of 122
    assert per_s[1] >= 10
    assert per_s[0] <= 30
    assert per_s[0] / per_s[1] < 4  # was >10:1 before reweighting


def test_pq_code_balance_planted_semantics(spark):
    """pq_code_balance (r16 late): hand-computable codebook — seed
    vectors 0/1 give subspace books {0: axis-a, 1: axis-b}; every
    planted vector's per-subspace argmax-dot code is known, an exact
    dot TIE resolves to the lower code id, shares per subspace sum to
    1 and count the full vector population."""
    from etl_staging_spark.llmdata import simsearch

    # dim 4, m=2 -> sub_dim 2. Books: sub0 {0:[1,0], 1:[0,1]},
    # sub1 {0:[0,1], 1:[1,0]}.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 1.0]),
            (1, [0.0, 1.0, 1.0, 0.0]),
            # sub0 leans code0 (0.9 vs 0.1); sub1 leans code0 (0.8)
            (2, [0.9, 0.1, 0.2, 0.8]),
            # sub0 leans code1; sub1 leans code1
            (3, [0.1, 0.9, 0.7, 0.3]),
            # exact tie in BOTH subspaces -> lower code id 0
            (4, [0.5, 0.5, 0.5, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = simsearch.pq_code_balance(emb, m=2, n_codes=2)
    rows = {(r.sub, r.code): r for r in out.collect()}
    # seeds assign to themselves: vec0 -> (sub0 c0, sub1 c0),
    # vec1 -> (sub0 c1, sub1 c1); vec2 -> c0/c0, vec3 -> c1/c1,
    # vec4 tie -> c0/c0
    assert rows[(0, 0)].n_vecs == 3 and rows[(0, 1)].n_vecs == 2
    assert rows[(1, 0)].n_vecs == 3 and rows[(1, 1)].n_vecs == 2
    assert rows[(0, 0)].share == 0.6 and rows[(0, 1)].share == 0.4
    # avg_dot of (sub0, code0): dots 1.0 (vec0), 0.9 (vec2), 0.5
    # (vec4) -> mean 0.8
    assert rows[(0, 0)].avg_dot == 0.8
    # population/share invariants per subspace
    for s in (0, 1):
        assert sum(r.n_vecs for k, r in rows.items() if k[0] == s) == 5
    # dim not divisible by m fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simsearch.pq_codebooks(emb, m=3, n_codes=2)
    # missing seed vectors fail loudly
    with _pytest.raises(ValueError):
        simsearch.pq_codebooks(emb.where("vec_id >= 4"), m=2, n_codes=2)


def test_pq_adc_topk_planted_semantics(spark):
    """pq_adc_topk (r16 late): with the same planted codebook as the
    balance test, every candidate's ADC score is the hand-computed
    sum of its codes' LUT entries — exact-tie candidates rank by
    lower id, the query never returns itself, and the quantized score
    of an off-codebook vector differs from its exact dot (the
    quantization residual is real, not hidden)."""
    from etl_staging_spark.llmdata import simsearch

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 1.0]),   # query 0; codes (0, 0)
            (1, [0.0, 1.0, 1.0, 0.0]),   # query 1; codes (1, 1)
            (2, [0.9, 0.1, 0.2, 0.8]),   # codes (0, 0)
            (3, [0.1, 0.9, 0.7, 0.3]),   # codes (1, 1)
            (4, [0.5, 0.5, 0.5, 0.5]),   # exact ties -> codes (0, 0)
        ],
        "vec_id long, embedding array<float>",
    )
    out = simsearch.pq_adc_topk(emb, k=5, n_queries=2, m=2, n_codes=2)
    rows = [
        (r.qid, r.cid, r.adc, r.rank)
        for r in out.orderBy("qid", "rank").collect()
    ]
    # q0 LUT: sub0 {c0:1, c1:0}, sub1 {c0:1, c1:0} -> code-(0,0)
    # candidates score 2.0, code-(1,1) candidates 0.0; ties by cid
    assert rows[:4] == [
        (0, 2, 2.0, 1),
        (0, 4, 2.0, 2),
        (0, 1, 0.0, 3),
        (0, 3, 0.0, 4),
    ]
    # q1 mirrors: code-(1,1) candidates score 2.0
    assert rows[4:] == [
        (1, 3, 2.0, 1),
        (1, 0, 0.0, 2),
        (1, 2, 0.0, 3),
        (1, 4, 0.0, 4),
    ]
    # no self-matches anywhere
    assert all(q != c for q, c, _, _ in rows)
    # the ADC score is the QUANTIZED dot: vec2's exact dot with q0 is
    # 0.9 + 0.8 = 1.7, its ADC score 2.0 — the residual is visible
    assert rows[0][2] != 1.7


def test_pq_ivf_topk_planted_routing(spark):
    """pq_ivf_topk (r16 late): with the planted geometry, 1-probe
    routing returns ONLY same-cell candidates (the out-of-cell
    candidates ADC would rank are gone), full-probe routing equals
    the unrouted ADC result exactly, and an exact centroid-cosine tie
    assigns the lower cell id."""
    from etl_staging_spark.llmdata import simsearch

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 1.0]),   # centroid/query 0 -> cell 0
            (1, [0.0, 1.0, 1.0, 0.0]),   # centroid/query 1 -> cell 1
            (2, [0.9, 0.1, 0.2, 0.8]),   # cell 0
            (3, [0.1, 0.9, 0.7, 0.3]),   # cell 1
            (4, [0.5, 0.5, 0.5, 0.5]),   # centroid-cosine tie -> cell 0
        ],
        "vec_id long, embedding array<float>",
    )
    kw = dict(k=5, n_queries=2, n_centroids=2, m=2, n_codes=2)
    routed = simsearch.pq_ivf_topk(emb, n_probe=1, **kw)
    got = [
        (r.qid, r.cid, r.adc, r.rank)
        for r in routed.orderBy("qid", "rank").collect()
    ]
    # q0 (cell 0) sees only {2, 4}; q1 (cell 1) only {3} — candidates
    # 1/3 (scored 0.0 by ADC but in the other cell) are ROUTED OUT
    assert got == [
        (0, 2, 2.0, 1),
        (0, 4, 2.0, 2),
        (1, 3, 2.0, 1),
    ]
    # probing every cell recovers the unrouted ADC result exactly
    full = simsearch.pq_ivf_topk(emb, n_probe=2, **kw)
    adc = simsearch.pq_adc_topk(emb, k=5, n_queries=2, m=2, n_codes=2)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(full) == key(adc)
