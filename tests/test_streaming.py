"""Streaming tests: drive the streams end-to-end with availableNow
triggers into memory sinks and assert parity with batch equivalents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_staging_spark.tables import release_pinned
from etl_staging_spark.streaming.events import (
    run_available_now,
    stateful_user_totals,
    stream_source,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    return stream_source(spark, SF_DIR, glob="events.parquet")


def test_windowed_counts_match_batch(spark, events_stream):
    run_available_now(windowed_counts(events_stream), "win_counts")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    from etl_staging_spark.tables import load

    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
        .collect()
    )
    assert got
    for r in batch:
        assert got[(r.win.start, r.event_type)] == (r.n, r.tv)


def test_stateful_user_totals_match_batch(spark, events_stream):
    run_available_now(stateful_user_totals(events_stream), "user_totals", "update")
    # update-mode memory sink: keep the LAST emitted row per user
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM user_totals").collect()
    }
    from etl_staging_spark.tables import load

    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    )
    assert got
    for r in batch:
        n, tv = got[r.user_id]
        assert n == r.n
        assert tv == pytest.approx(r.tv, abs=0.05)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Redelivered event_ids (at-least-once feed) collapse to one row;
    state is watermark-bounded."""
    from etl_staging_spark.streaming.events import EVENT_SCHEMA_NANOS, dedup_events

    base_ns = 1_700_000_000_000_000_000
    rows = [
        (i % 150, base_ns + i * 1_000_000_000, i % 7, "click", 1.0, None)
        for i in range(200)  # ids 0..149, the first 50 redelivered
    ]
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(rows, EVENT_SCHEMA_NANOS).write.parquet(feed_dir)
    stream = stream_source(spark, feed_dir)
    run_available_now(dedup_events(stream), "dedup_sink", "append")
    got = spark.sql("SELECT event_id FROM dedup_sink").collect()
    assert len(got) == 150
    assert len({r.event_id for r in got}) == 150


def test_stream_source_micros_nanos_parity(spark, tmp_path):
    """The same events encoded as TIMESTAMP(MICROS) and as raw-nanos
    int64 must stream to identical wall-clock rows — the unit-detection
    regression guard (a testdata re-encode must not shift windows)."""
    import datetime

    from etl_staging_spark.streaming.events import EVENT_SCHEMA, EVENT_SCHEMA_NANOS

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    micros_rows = [
        (i, base + datetime.timedelta(minutes=17 * i), i % 5, "view", float(i), None)
        for i in range(40)
    ]
    base_ns = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**9
    nanos_rows = [
        (i, base_ns + 17 * i * 60 * 10**9, i % 5, "view", float(i), None)
        for i in range(40)
    ]
    micros_dir = str(tmp_path / "micros")
    nanos_dir = str(tmp_path / "nanos")
    spark.createDataFrame(micros_rows, EVENT_SCHEMA).write.parquet(micros_dir)
    spark.createDataFrame(nanos_rows, EVENT_SCHEMA_NANOS).write.parquet(nanos_dir)

    run_available_now(windowed_counts(stream_source(spark, micros_dir)), "par_micros")
    run_available_now(windowed_counts(stream_source(spark, nanos_dir)), "par_nanos")
    micros = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM par_micros").collect()
    }
    nanos = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM par_nanos").collect()
    }
    assert micros and micros == nanos
    # and the windows are where the wall clock says, not 1970
    assert min(k[0] for k in micros).year == 2024


def test_session_windows_match_batch(spark, events_stream):
    from etl_staging_spark.streaming.events import session_windows

    run_available_now(session_windows(events_stream), "sess_counts")
    got = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }
    from etl_staging_spark.tables import load

    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
        .collect()
    )
    assert got and len(got) == len(batch)
    for r in batch:
        assert got[(r.sess.start, r.sess.end, r.user_id)] == (r.n, r.tv)


def test_purchase_attribution_matches_batch(spark):
    from etl_staging_spark.streaming.events import purchase_attribution

    s1 = stream_source(spark, SF_DIR, glob="events.parquet")
    s2 = stream_source(spark, SF_DIR, glob="events.parquet")
    run_available_now(
        purchase_attribution(s1, s2), "attrib", "append"
    )
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    from etl_staging_spark.tables import load

    ev = load(spark, SF_DIR, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert want, "fixture has no click->purchase pairs within the horizon"
    assert got == want


def test_streaming_dedup_against_persisted_index(spark, tmp_path):
    """The day-2 ingest story end to end: corpus signature index written
    once as bucketed tables; incoming documents arrive as a file stream
    in two drops; every micro-batch's matches against the corpus equal
    the batch operator's answer for the same documents."""
    from etl_staging_spark.llmdata import dedup
    from etl_staging_spark.streaming.ingest import dedup_ingest_stream, doc_stream

    base = (
        "the quick brown fox jumps over the lazy dog near the old river bank "
        "while a cold wind blows through the tall dark trees of the silent forest"
    )
    other = (
        "completely different words about spark catalyst tungsten shuffle "
        "partitions broadcast joins adaptive execution and columnar parquet scans"
    )
    corpus = spark.createDataFrame(
        [(0, base), (3, other)], "doc_id long, text string"
    )
    dedup.write_signature_index(corpus, "stream_ix_test", n_buckets=4)

    drop_dir = str(tmp_path / "drops")
    incoming = spark.createDataFrame(
        [
            (1, base),                                   # dup of corpus 0
            (2, base.replace("cold wind", "warm wind")), # near dup of 0
            (4, other + " x"),                           # near dup of 3
            (5, "tiny doc"),                             # no shingles
        ],
        "doc_id long, text string",
    )
    incoming.coalesce(1).write.mode("overwrite").parquet(drop_dir)

    seen: list[tuple[int, int]] = []
    q = dedup_ingest_stream(
        doc_stream(spark, drop_dir),
        "stream_ix_test",
        lambda bid, m: seen.extend((r.d1, r.d2) for r in m.collect()),
        threshold=0.7,
    )
    q.awaitTermination()

    want_frame = dedup.incremental_lsh_matches_indexed(
        spark, incoming, "stream_ix_test", threshold=0.7
    )
    want = {(r.d1, r.d2) for r in want_frame.collect()}
    release_pinned(want_frame)
    assert set(seen) == want
    assert (1, 0) in want and (2, 0) in want and (4, 3) in want
    assert all(d2 in (0, 3) for _, d2 in want)


def test_gated_ingest_matches_batch(spark, tmp_path):
    """The streaming assembly gate (quality + repetition + split) per
    micro-batch equals the batch operators on the same documents, and
    split assignment is batch-boundary independent (content hash)."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import sampling, textstats
    from etl_staging_spark.streaming.ingest import doc_stream, gated_ingest_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen "
        "sixteen seventeen eighteen nineteen twenty twentyone twentytwo"
    )
    spam = "spam ham spam ham spam ham spam ham spam ham spam ham spam ham"
    rows = [(i, good + f" tail{i}") for i in range(20)] + [
        (100 + i, spam) for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    drop_dir = str(tmp_path / "drops")
    docs.coalesce(2).write.mode("overwrite").parquet(drop_dir)

    got: dict[int, tuple] = {}

    def sink(bid, frame):
        for r in frame.collect():
            got[r.doc_id] = (r.split,)

    q = gated_ingest_stream(doc_stream(spark, drop_dir), sink, quality_min=0.5)
    q.awaitTermination()

    # batch reference: same gates, same split
    qual = textstats.quality_scores(docs).where(F.col("quality") >= 0.5).select("doc_id")
    rep_flags = textstats.repetition_stats(docs).persist()
    rep = rep_flags.where(~F.col("repetitive")).select("doc_id")
    kept = docs.join(qual, "doc_id", "left_semi").join(rep, "doc_id", "left_semi")
    want = {
        r.doc_id: (r.split,)
        for r in sampling.hash_split(
            kept, {"train": 0.9, "val": 0.05, "test": 0.05}
        ).collect()
    }
    rep_flags.unpersist()
    assert got == want
    assert got, "gate must keep something"
    assert all(100 + i not in got for i in range(5)), "spam must be dropped"


def test_segment_clean_stream_against_persisted_hot_index(spark, tmp_path):
    """Boilerplate removal as an ingest service: the hot-segment index
    is written once from the corpus; streamed documents arrive with the
    corpus boilerplate planted and leave with it scrubbed, matching the
    batch `segment_clean` on the same documents."""
    from etl_staging_spark.llmdata import linedup
    from etl_staging_spark.streaming.ingest import doc_stream, segment_clean_stream

    boiler = "all rights reserved click here to subscribe now"  # 8 tokens
    corpus = spark.createDataFrame(
        [(i, f"{boiler} corpus{i}a corpus{i}b") for i in range(5)],
        "doc_id long, text string",
    )
    linedup.write_hot_segment_index(corpus, "hot_seg_test", k=8, max_df=2, n_buckets=4)

    drop_dir = str(tmp_path / "segdrops")
    incoming = spark.createDataFrame(
        [
            (100, f"{boiler} fresh alpha beta gamma"),
            (101, "entirely novel words only here"),
        ],
        "doc_id long, text string",
    )
    incoming.coalesce(1).write.mode("overwrite").parquet(drop_dir)

    got: dict[int, tuple] = {}
    q = segment_clean_stream(
        doc_stream(spark, drop_dir),
        "hot_seg_test",
        lambda bid, df: got.update(
            {r.doc_id: (r.n_removed, r.clean_text) for r in df.collect()}
        ),
        k=8,
    )
    q.awaitTermination()

    assert got[100] == (1, "fresh alpha beta gamma")
    assert got[101] == (0, "entirely novel words only here")
    want = {
        r.doc_id: (r.n_removed, r.clean_text)
        for r in linedup.segment_clean(
            incoming, spark.table("hot_seg_test"), k=8
        ).collect()
    }
    assert got == want


def test_lm_score_stream_batch_boundary_independent(spark, tmp_path):
    """Streaming LM scoring against the persisted model equals batch
    scoring of the same docs, and is independent of how the docs are
    split across micro-batch drops (the smoothing denominator comes
    from the model's meta table, not the batch)."""
    from etl_staging_spark.llmdata import lm
    from etl_staging_spark.streaming.ingest import doc_stream, lm_score_stream

    corpus = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c"), (2, "b a b c")],
        "doc_id long, text string",
    )
    lm.write_lm_model(corpus, "lmstream", min_count=2, n_buckets=2)

    incoming = spark.createDataFrame(
        [(10, "a b c"), (11, "b a z"), (12, "c c")],
        "doc_id long, text string",
    )
    drop_dir = str(tmp_path / "lmdrops")
    # two separate files -> the file stream may batch them separately
    incoming.where("doc_id <= 11").coalesce(1).write.mode("overwrite").parquet(drop_dir)
    incoming.where("doc_id = 12").coalesce(1).write.mode("append").parquet(drop_dir)

    got: dict[int, tuple] = {}
    q = lm_score_stream(
        doc_stream(spark, drop_dir),
        "lmstream",
        lambda bid, df: got.update(
            {r.doc_id: (r.n_bigrams, r.avg_prob) for r in df.collect()}
        ),
    )
    q.awaitTermination()
    want = {
        r.doc_id: (r.n_bigrams, r.avg_prob)
        for r in lm.score_with_model(incoming, "lmstream").collect()
    }
    assert got == want and set(got) == {10, 11, 12}


def test_assembly_ingest_stream_matches_batch(spark, tmp_path):
    """The COMPOSED assembly front-end (quality + repetition gates ->
    benchmark decontamination -> persisted-index dedup scrub -> hash
    split) run as a multi-micro-batch stream equals the same stages
    applied batch-wise to the identical documents — and every gate
    demonstrably fires (spam, a contaminated doc, and a corpus near-dup
    are each dropped by their own stage)."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import decontam, dedup, sampling, textstats
    from etl_staging_spark.streaming.ingest import DOC_SCHEMA, assembly_ingest_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen "
        "sixteen seventeen eighteen nineteen twenty twentyone twentytwo"
    )
    spam = "spam ham spam ham spam ham spam ham spam ham spam ham spam ham"
    bench_text = (
        "held out benchmark question about the seven wonders of the "
        "ancient world and their architects with enough tokens to shingle"
    )
    corpus_text = (
        "entirely separate corpus resident document describing harvest "
        "seasons crop rotation irrigation channels terraced fields and "
        "the yearly almanac of planting schedules across river valleys"
    )
    rows = (
        [(i, good + f" tail{i}") for i in range(12)]
        + [(50, spam)]                                  # repetition gate
        + [(51, good + " " + bench_text)]               # decontamination
        + [(52, corpus_text + " x")]                    # near-dup of corpus
    )
    incoming = spark.createDataFrame(rows, "doc_id long, text string")

    # persisted state: corpus signature index + benchmark table
    corpus = spark.createDataFrame([(1000, corpus_text)], "doc_id long, text string")
    dedup.write_signature_index(corpus, "asm_ix_test", n_buckets=4)
    bench = spark.createDataFrame([(2000, bench_text)], "doc_id long, text string")
    bench.createOrReplaceTempView("asm_bench_test")

    drop_dir = str(tmp_path / "drops")
    incoming.repartition(3).write.mode("overwrite").parquet(drop_dir)

    got: dict[int, str] = {}
    n_batches = []

    def sink(bid, frame):
        n_batches.append(bid)
        for r in frame.collect():
            got[r.doc_id] = r.split

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)   # force multi-batch arrival
        .parquet(drop_dir)
    )
    funnel: dict[str, int] = {"n_in": 0, "n_gated": 0, "n_decontam": 0, "n_kept": 0}

    def stats(bid, f):
        for k in funnel:
            funnel[k] += f[k]

    q = assembly_ingest_stream(
        stream, "asm_ix_test", "asm_bench_test", sink,
        quality_min=0.5, threshold=0.6, on_stats=stats,
    )
    q.awaitTermination()
    assert len(n_batches) >= 2, "fixture must actually arrive in several batches"
    # funnel telemetry sums across batches to the planted expectations:
    # 15 in, spam(50) out at the gate, 51 out at decontamination,
    # 52 out at the dedup scrub
    assert funnel == {"n_in": 15, "n_gated": 14, "n_decontam": 13, "n_kept": 12}

    # batch reference: identical stages on the whole frame at once
    qual = textstats.quality_scores(incoming).where(
        F.col("quality") >= 0.5).select("doc_id")
    rep = textstats.repetition_stats(incoming).persist()
    gated = (incoming.join(qual, "doc_id", "left_semi")
             .join(rep.where(~F.col("repetitive")).select("doc_id"),
                   "doc_id", "left_semi"))
    clean = (decontam.ngram_overlap(gated, bench, n=5, min_hits=1)
             .where(~F.col("contaminated")).select("doc_id"))
    survivors = gated.join(clean, "doc_id", "left_semi")
    raw_dups = dedup.incremental_lsh_matches_indexed(
        spark, survivors, "asm_ix_test", threshold=0.6
    )
    dups = raw_dups.select(F.col("d1").alias("doc_id")).distinct()
    kept = survivors.join(dups, "doc_id", "left_anti")
    want = {r.doc_id: r.split for r in sampling.hash_split(
        kept, {"train": 0.9, "val": 0.05, "test": 0.05}).collect()}
    release_pinned(raw_dups)
    rep.unpersist()
    spark.sql("DROP TABLE IF EXISTS asm_ix_test_bands")
    spark.sql("DROP TABLE IF EXISTS asm_ix_test_arrays")

    assert got == want
    assert set(range(12)) <= set(got), "good docs must survive"
    assert 50 not in got and 51 not in got and 52 not in got


def test_assembly_ingest_stream_on_stats_keeps_one_plan(spark, tmp_path):
    """``on_stats`` adds no job: inside ``on_batch`` the session caches
    the same number of frames with and without it, and the kept ids
    match. The sink appends what it receives to the signature index, as
    the self-maintaining loop does; the handler's frame is frozen, so
    that append cannot re-run the match against an index that already
    holds the batch. The ``good + tail{i}`` docs are near-dups of each
    other: re-matched, they would drop one another, and the funnel's
    ``n_kept`` would undercount what the sink appended. Nothing stays
    cached or persisted after the stream."""
    from etl_staging_spark.llmdata import dedup
    from etl_staging_spark.streaming.ingest import assembly_ingest_stream, doc_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    corpus_text = (
        "entirely separate corpus resident document describing harvest "
        "seasons crop rotation irrigation channels terraced fields"
    )
    rows = (
        [(i, good + f" tail{i}") for i in range(6)]
        + [(50, "spam ham spam ham spam ham spam ham spam ham spam ham")]
        + [(52, corpus_text + " x")]
    )
    drop_dir = str(tmp_path / "drops")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        drop_dir
    )
    spark.createDataFrame(
        [(2000, "held out benchmark question text")], "doc_id long, text string"
    ).createOrReplaceTempView("asm_stats_bench")
    cache = spark._jsparkSession.sharedState().cacheManager()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    spark.catalog.clearCache()
    for rdd in persistent().values():
        rdd.unpersist()

    def index_ids():
        return {
            part: {r.doc_id for r in spark.table(f"asm_stats_ix_{part}").collect()}
            for part in ("bands", "arrays")
        }

    def run(on_stats):
        dedup.write_signature_index(
            spark.createDataFrame([(1000, corpus_text)], "doc_id long, text string"),
            "asm_stats_ix", n_buckets=4,
        )
        seen = {"cached": [], "ids": set()}

        def sink(bid, frame):
            seen["cached"].append(cache.numCachedEntries())
            seen["ids"] |= {r.doc_id for r in frame.collect()}
            dedup.append_signature_index(
                frame.select("doc_id", "text"), "asm_stats_ix", n_buckets=4
            )

        assembly_ingest_stream(
            doc_stream(spark, drop_dir), "asm_stats_ix", "asm_stats_bench", sink,
            quality_min=0.5, threshold=0.6, on_stats=on_stats,
        ).awaitTermination()
        seen["index"] = index_ids()
        return seen

    funnels = []
    with_stats = run(lambda bid, f: funnels.append(f))
    without = run(None)
    spark.sql("DROP TABLE IF EXISTS asm_stats_ix_bands")
    spark.sql("DROP TABLE IF EXISTS asm_stats_ix_arrays")

    assert with_stats["cached"] == without["cached"]
    assert with_stats["ids"] == without["ids"] == set(range(6))
    assert funnels == [{"n_in": 8, "n_gated": 7, "n_decontam": 7, "n_kept": 6}]
    assert funnels[0]["n_kept"] == len(with_stats["ids"])
    for seen in (with_stats, without):
        assert seen["index"] == {
            "bands": {1000} | seen["ids"], "arrays": {1000} | seen["ids"]
        }
    assert cache.isEmpty()
    assert persistent().isEmpty()


def test_assembly_ingest_stream_counts_each_doc_at_its_first_failed_gate(
    spark, tmp_path
):
    """A doc that fails several gates is counted at the FIRST one it
    fails, so the funnel stays nested: a low-quality doc and a
    contaminated doc that are each also a near-dup of an index doc stop
    at the quality gate and at decontamination, not at the dedup scrub;
    a clean near-dup stops at the scrub."""
    from etl_staging_spark.llmdata import dedup, textstats
    from etl_staging_spark.streaming.ingest import assembly_ingest_stream, doc_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    low = "of the of a to the in a of the to a in the of a to the in a"
    bench_text = (
        "held out benchmark question about the seven wonders of the "
        "ancient world and their architects with enough tokens to shingle"
    )
    corpus_text = (
        "entirely separate corpus resident document describing harvest "
        "seasons crop rotation irrigation channels terraced fields"
    )
    leak = good + " " + bench_text
    rows = [(i, good + f" tail{i}") for i in range(4)] + [
        (50, low), (51, leak), (52, corpus_text),
    ]
    incoming = spark.createDataFrame(rows, "doc_id long, text string")
    # the planted doc 50 fails the quality gate itself, not repetition
    flags = {
        r.doc_id: (r.quality, r.repetitive)
        for r in textstats.quality_scores(incoming).join(
            textstats.repetition_stats(incoming), "doc_id"
        ).collect()
    }
    assert flags[50][0] < 0.5 and not flags[50][1]
    incoming.coalesce(1).write.parquet(str(tmp_path / "drops"))
    spark.createDataFrame(
        [(2000, bench_text)], "doc_id long, text string"
    ).createOrReplaceTempView("asm_first_bench")
    # every planted doc has a near-dup in the index
    dedup.write_signature_index(
        spark.createDataFrame(
            [(1050, low), (1051, leak), (1052, corpus_text)], "doc_id long, text string"
        ),
        "asm_first_ix", n_buckets=4,
    )
    got, funnels = set(), []
    assembly_ingest_stream(
        doc_stream(spark, str(tmp_path / "drops")), "asm_first_ix", "asm_first_bench",
        lambda bid, frame: got.update(r.doc_id for r in frame.collect()),
        quality_min=0.5, threshold=0.6, on_stats=lambda bid, f: funnels.append(f),
    ).awaitTermination()
    spark.sql("DROP TABLE IF EXISTS asm_first_ix_bands")
    spark.sql("DROP TABLE IF EXISTS asm_first_ix_arrays")

    assert funnels == [{"n_in": 7, "n_gated": 6, "n_decontam": 5, "n_kept": 4}]
    f = funnels[0]
    assert f["n_in"] >= f["n_gated"] >= f["n_decontam"] >= f["n_kept"]
    assert got == set(range(4))


def test_assembly_ingest_stream_semantic_rung_matches_batch(spark, tmp_path):
    """The OPTIONAL semantic-decontamination rung completes ladder
    parity between the streaming front door and CorpusPipeline: a
    lexically-clean paraphrase whose embedding sits next to a benchmark
    vector is dropped by the rung (and ONLY by it) in both the forced
    multi-batch stream and the batch reference; docs without a vector
    pass untouched; the half-supplied table pair raises up front."""
    import pytest
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import decontam, dedup, sampling, textstats
    from etl_staging_spark.streaming.ingest import DOC_SCHEMA, assembly_ingest_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five"
    )
    rows = [(i, good + f" tail{i}") for i in range(6)] + [(53, good + " tail53x")]
    incoming = spark.createDataFrame(rows, "doc_id long, text string")

    corpus = spark.createDataFrame(
        [(1000, "unrelated corpus text about glacier moraines and eskers "
                "left behind by retreating ice sheets across the plains")],
        "doc_id long, text string",
    )
    dedup.write_signature_index(corpus, "asm_sem_ix", n_buckets=4)
    bench = spark.createDataFrame(
        [(2000, "held out benchmark question on ancient aqueducts with "
                "enough planted tokens to shingle five grams")],
        "doc_id long, text string",
    )
    bench.createOrReplaceTempView("asm_sem_bench")

    # embeddings: doc 53 sits next to the benchmark vector (the
    # paraphrase leak n-grams can't see); 0-2 far away; 3-5 NO vector
    near = [1.0, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    far = [[0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
           [0.0, 0.0, 1.0, 0.5, 0.0, 0.0, 0.0, 0.0],
           [-1.0, 0.0, 0.0, 0.0, 0.3, 0.0, 0.0, 0.0]]
    spark.createDataFrame(
        [(53, near)] + [(i, far[i]) for i in range(3)],
        "doc_id long, embedding array<double>",
    ).createOrReplaceTempView("asm_sem_emb")
    spark.createDataFrame(
        [(3000, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "doc_id long, embedding array<double>",
    ).createOrReplaceTempView("asm_sem_bench_emb")

    with pytest.raises(ValueError, match="BOTH emb_table"):
        assembly_ingest_stream(
            None, "asm_sem_ix", "asm_sem_bench", lambda *_: None,
            emb_table="asm_sem_emb",
        )

    drop_dir = str(tmp_path / "drops")
    incoming.repartition(3).write.mode("overwrite").parquet(drop_dir)
    got: dict[int, str] = {}
    n_batches = []
    funnel = {"n_in": 0, "n_gated": 0, "n_decontam": 0,
              "n_semantic": 0, "n_kept": 0}

    def sink(bid, frame):
        n_batches.append(bid)
        for r in frame.collect():
            got[r.doc_id] = r.split

    def stats(bid, f):
        for k in funnel:
            funnel[k] += f[k]

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )
    q = assembly_ingest_stream(
        stream, "asm_sem_ix", "asm_sem_bench", sink,
        quality_min=0.5, threshold=0.6, on_stats=stats,
        emb_table="asm_sem_emb", bench_emb_table="asm_sem_bench_emb",
        semantic_threshold=0.9, dim=8,
    )
    q.awaitTermination()
    assert len(n_batches) >= 2, "fixture must actually arrive in several batches"
    # only the semantic rung fires: 7 in, 7 through the gates and the
    # n-gram rung, 53 out at the semantic rung, nothing at the scrub
    assert funnel == {"n_in": 7, "n_gated": 7, "n_decontam": 7,
                      "n_semantic": 6, "n_kept": 6}
    assert set(got) == set(range(6))

    # batch reference: identical stages on the whole frame at once
    qual = textstats.quality_scores(incoming).where(
        F.col("quality") >= 0.5).select("doc_id")
    rep = textstats.repetition_stats(incoming).persist()
    gated = (incoming.join(qual, "doc_id", "left_semi")
             .join(rep.where(~F.col("repetitive")).select("doc_id"),
                   "doc_id", "left_semi"))
    clean = (decontam.ngram_overlap(gated, bench, n=5, min_hits=1)
             .where(~F.col("contaminated")).select("doc_id"))
    survivors = gated.join(clean, "doc_id", "left_semi")
    emb = spark.table("asm_sem_emb").join(
        survivors.select("doc_id"), "doc_id", "left_semi")
    flagged = decontam.semantic_contamination(
        emb, spark.table("asm_sem_bench_emb"),
        threshold=0.9, dim=8, id_col="doc_id",
    )
    survivors = survivors.join(
        flagged.where(F.col("contaminated")).select("doc_id"),
        "doc_id", "left_anti")
    raw_dups = dedup.incremental_lsh_matches_indexed(
        spark, survivors, "asm_sem_ix", threshold=0.6
    )
    dups = raw_dups.select(F.col("d1").alias("doc_id")).distinct()
    kept = survivors.join(dups, "doc_id", "left_anti")
    want = {r.doc_id: r.split for r in sampling.hash_split(
        kept, {"train": 0.9, "val": 0.05, "test": 0.05}).collect()}
    release_pinned(raw_dups)
    rep.unpersist()
    spark.sql("DROP TABLE IF EXISTS asm_sem_ix_bands")
    spark.sql("DROP TABLE IF EXISTS asm_sem_ix_arrays")
    assert got == want


def test_embedding_dedup_stream_matches_batch(spark, tmp_path):
    """Continuous embedding near-dup scrub: vectors arrive as a
    multi-drop file stream, every micro-batch's matches against the
    persisted sign-LSH index equal the batch operator's answer for the
    same vectors (batch-boundary independent — each decision depends
    only on the vector and the persisted index)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.streaming.ingest import embedding_dedup_stream

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    simsearch.write_embedding_index(corpus, "emb_six_test", dim=64, n_buckets=4)
    b3, b5 = {r.vec_id: r.embedding
              for r in corpus.where("vec_id in (3, 5)").collect()}.values()
    incoming = spark.createDataFrame(
        [(20001, [3.0 * float(v) for v in b3]),     # dup of corpus 3
         (20002, [-1.0 * float(v) for v in b5]),    # anti-parallel: no match
         (20003, [0.5 * float(v) for v in b5])],    # dup of corpus 5
        "vec_id long, embedding array<double>",
    )
    drop_dir = str(tmp_path / "vec_drops")
    incoming.repartition(3).write.mode("overwrite").parquet(drop_dir)

    seen: set = set()
    bids = []
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(drop_dir))
    q = embedding_dedup_stream(
        stream, "emb_six_test",
        lambda bid, m: (bids.append(bid),
                        seen.update((r.d1, r.d2, r.cosine) for r in m.collect())),
        threshold=0.9, dim=64,
    )
    q.awaitTermination()
    assert len(bids) >= 2

    want_frame = simsearch.incremental_embedding_matches(
        spark, incoming, "emb_six_test", threshold=0.9, dim=64
    )
    want = {(r.d1, r.d2, r.cosine) for r in want_frame.collect()}
    release_pinned(want_frame)
    spark.sql("DROP TABLE IF EXISTS emb_six_test_keys")
    spark.sql("DROP TABLE IF EXISTS emb_six_test_vecs")
    assert seen == want
    assert (20001, 3, 1.0) in seen and (20003, 5, 1.0) in seen
    assert all(d1 != 20002 for d1, _, _ in seen)


def test_multimodal_dedup_stream_matches_batch(spark, tmp_path):
    """Continuous byte-level multimodal dedup: payload docs arrive as a
    multi-drop file stream (one doc per drop, plus one two-doc drop of
    byte-identical twins), features are extracted per micro-batch and
    matched against the persisted byte-feature index PLUS within the
    batch itself; matches equal the hand-composed chain (feature_table
    -> usable_features -> incremental matches, + mt_dup_pairs for the
    twin batch), a byte-identical re-upload is caught, intra-batch
    twins are caught before a self-maintaining handler would append
    both, and NULL / EMPTY payloads flow through without crashing the
    stream (the shared degenerate-payload policy, r11)."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import multimodal, simsearch
    from etl_staging_spark.streaming.ingest import multimodal_dedup_stream
    from etl_staging_spark.tables import release_pinned

    seed = "corpus resident payload about glacier meltwater chemistry"
    corpus = spark.createDataFrame(
        [(1, seed), (2, "another corpus payload on soil acoustics")],
        "doc_id long, text string",
    )
    cfeats = multimodal.feature_table(corpus, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    simsearch.write_embedding_index(cfeats, "mm_feat_idx_test", dim=64, n_buckets=4)

    singles = [
        (101, seed),        # byte-identical re-upload -> match corpus 1
        (102, "a genuinely new payload with its own distribution"),
        (103, None),        # NULL payload -> never enters the match
        (104, ""),          # empty payload -> zero vector, filtered
    ]
    twin = "0000 9999 ???? zzzz !!!! 0000 9999 zzzz ???? !!!!"
    twins = [(201, twin), (202, twin)]  # same drop -> same micro-batch
    drop_dir = str(tmp_path / "mm_drops")
    schema = "doc_id long, text string"
    for row in singles:  # one file per doc: deterministic batch shapes
        spark.createDataFrame([row], schema).coalesce(1).write.mode(
            "append"
        ).parquet(drop_dir)
    spark.createDataFrame(twins, schema).coalesce(1).write.mode(
        "append"
    ).parquet(drop_dir)

    seen: set = set()
    bids = []
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(drop_dir))
    q = multimodal_dedup_stream(
        stream, "mm_feat_idx_test",
        lambda bid, m: (bids.append(bid),
                        seen.update((r.d1, r.d2, r.cosine) for r in m.collect())),
        threshold=0.995, dim=64,
    )
    q.awaitTermination()
    assert len(bids) >= 2  # genuinely multi-batch

    incoming = spark.createDataFrame(singles + twins, schema)
    bfeats = multimodal.usable_features(
        multimodal.feature_table(incoming, dim=64)
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    want_frame = simsearch.incremental_embedding_matches(
        spark, bfeats, "mm_feat_idx_test", threshold=0.995, dim=64
    )
    want = {(r.d1, r.d2, r.cosine) for r in want_frame.collect()}
    release_pinned(want_frame)
    # the only multi-doc batch is the twin drop: its intra-batch pairs
    twin_feats = bfeats.where(F.col("vec_id").isin(201, 202))
    intra = simsearch.mt_dup_pairs(twin_feats, threshold=0.995, dim=64)
    want |= {(r.d1, r.d2, r.cosine) for r in intra.collect()}
    release_pinned(intra)
    spark.sql("DROP TABLE IF EXISTS mm_feat_idx_test_keys")
    spark.sql("DROP TABLE IF EXISTS mm_feat_idx_test_vecs")
    assert seen == want
    assert (101, 1, 1.0) in seen          # re-upload vs corpus
    assert (201, 202, 1.0) in seen        # intra-batch twins
    assert all(d1 not in (103, 104) for d1, _, _ in seen)


def test_self_maintaining_ingest_appends_to_index(spark, tmp_path):
    """The full day-2 loop the handler docstrings promise: batch 1's
    non-matching docs append to the signature index under the same
    bucket spec; batch 2's dup OF A BATCH-1 DOC is then caught — the
    corpus genuinely grows between drops, and the bucketed join
    property survives the append."""
    from etl_staging_spark.llmdata import dedup
    from etl_staging_spark.streaming.ingest import dedup_ingest_stream, doc_stream

    seed = (
        "original corpus resident text about glacier meltwater chemistry "
        "and the seasonal sediment load of braided mountain rivers"
    )
    newbie = (
        "fresh incoming document describing container orchestration "
        "rollouts canary deployments and automated rollback policies "
        "across regional clusters with health probes readiness gates "
        "traffic shifting and staged confidence windows for releases"
    )
    corpus = spark.createDataFrame([(0, seed)], "doc_id long, text string")
    dedup.write_signature_index(corpus, "grow_ix_test", n_buckets=4)

    drop1 = str(tmp_path / "d1")
    spark.createDataFrame(
        [(100, newbie)], "doc_id long, text string"
    ).coalesce(1).write.parquet(drop1)

    def grow_handler(bid, matches):
        m = matches.persist()
        dup_ids = {r.d1 for r in m.collect()}
        batch = spark.read.parquet(drop1)
        survivors = batch.where(~F.col("doc_id").isin(list(dup_ids) or [-1]))
        dedup.append_signature_index(survivors, "grow_ix_test", n_buckets=4)
        m.unpersist()

    q = dedup_ingest_stream(
        doc_stream(spark, drop1), "grow_ix_test", grow_handler, threshold=0.7
    )
    q.awaitTermination()

    # batch 2: a near-dup of the APPENDED doc 100, plus a dup of seed
    batch2 = spark.createDataFrame(
        [(200, newbie.replace("automated", "manual")), (201, seed)],
        "doc_id long, text string",
    )
    got_frame = dedup.incremental_lsh_matches_indexed(
        spark, batch2, "grow_ix_test", threshold=0.7)
    got = {(r.d1, r.d2) for r in got_frame.collect()}
    release_pinned(got_frame)
    spark.sql("DROP TABLE IF EXISTS grow_ix_test_bands")
    spark.sql("DROP TABLE IF EXISTS grow_ix_test_arrays")
    assert (200, 100) in got, got      # caught against the APPENDED doc
    assert (201, 0) in got, got        # original corpus still matches


def test_multimodal_self_maintaining_feature_index(spark, tmp_path):
    """The multimodal day-2 loop end to end: batch 1's non-matching
    byte-feature vectors append to the embedding index under the same
    bucket spec (`append_embedding_index`); batch 2's byte-identical
    re-upload OF A BATCH-1 PAYLOAD is then caught — the feature index
    genuinely grows between drops and the exchange-free bucketed-join
    property survives the append, completing the stream's handler
    contract with real code instead of a docstring promise."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import multimodal, simsearch
    from etl_staging_spark.streaming.ingest import multimodal_dedup_stream

    seed = "corpus resident payload about glacier meltwater chemistry"
    newbie = "fresh payload describing container orchestration rollouts"
    corpus = spark.createDataFrame([(0, seed)], "doc_id long, text string")
    cfeats = multimodal.feature_table(corpus, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    simsearch.write_embedding_index(cfeats, "mm_grow_idx", dim=64, n_buckets=4)

    drop1 = str(tmp_path / "d1")
    spark.createDataFrame(
        [(100, newbie)], "doc_id long, text string"
    ).coalesce(1).write.parquet(drop1)

    def grow_handler(bid, matches):
        m = matches.persist()
        dup_ids = {r.d1 for r in m.collect()}
        batch = spark.read.parquet(drop1)
        survivors = multimodal.usable_features(
            multimodal.feature_table(
                batch.where(~F.col("doc_id").isin(list(dup_ids) or [-1])),
                dim=64,
            )
        ).select(F.col("doc_id").alias("vec_id"), "embedding")
        simsearch.append_embedding_index(survivors, "mm_grow_idx", dim=64,
                                         n_buckets=4)
        m.unpersist()

    q = multimodal_dedup_stream(
        spark.readStream.schema("doc_id long, text string").parquet(drop1),
        "mm_grow_idx", grow_handler, threshold=0.995, dim=64,
    )
    q.awaitTermination()

    # batch 2: byte-identical to the APPENDED payload, plus the seed
    batch2 = spark.createDataFrame(
        [(200, newbie), (201, seed)], "doc_id long, text string"
    )
    b2feats = multimodal.usable_features(
        multimodal.feature_table(batch2, dim=64)
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    got_frame = simsearch.incremental_embedding_matches(
        spark, b2feats, "mm_grow_idx", threshold=0.995, dim=64
    )
    got = {(r.d1, r.d2) for r in got_frame.collect()}
    release_pinned(got_frame)
    spark.sql("DROP TABLE IF EXISTS mm_grow_idx_keys")
    spark.sql("DROP TABLE IF EXISTS mm_grow_idx_vecs")
    assert (200, 100) in got, got      # caught against the APPENDED vector
    assert (201, 0) in got, got        # original corpus still matches


def test_checkpointed_ingest_resumes_without_reprocessing(spark, tmp_path):
    """Restart semantics: with a checkpoint dir, a re-started
    available-now stream processes ONLY files that arrived since the
    last committed offset — no batch-1 doc is re-delivered."""
    from etl_staging_spark.streaming.ingest import doc_stream, gated_ingest_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    )
    drop_dir = tmp_path / "drops"
    ckpt = str(tmp_path / "ckpt")
    drop_dir.mkdir()
    spark.createDataFrame(
        [(i, good + f" tail{i}") for i in range(5)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(drop_dir / "f1"))

    # the source watches the directory tree; each sub-drop is new files
    runs: list[set] = []

    def run_once():
        seen: set = set()
        q = gated_ingest_stream(
            doc_stream(spark, str(drop_dir) + "/*"),
            lambda bid, f: seen.update(r.doc_id for r in f.collect()),
            quality_min=0.5,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()
        runs.append(seen)

    run_once()
    spark.createDataFrame(
        [(10 + i, good + f" more{i}") for i in range(3)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(drop_dir / "f2"))
    run_once()

    assert runs[0] == set(range(5))
    assert runs[1] == {10, 11, 12}, runs[1]   # nothing reprocessed


def test_multimodal_dedup_stream_checkpointed_restart(spark, tmp_path):
    """The r11 starter inherits the restart contract through the shared
    _start: with a checkpoint dir, a re-started multimodal dedup stream
    processes ONLY payload drops that arrived since the committed
    offset — the batch-1 re-upload match is not re-delivered, and the
    batch-2 drop still matches the index."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import multimodal, simsearch
    from etl_staging_spark.streaming.ingest import multimodal_dedup_stream

    seed = "corpus resident payload about glacier meltwater chemistry"
    corpus = spark.createDataFrame([(1, seed)], "doc_id long, text string")
    cfeats = multimodal.feature_table(corpus, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    simsearch.write_embedding_index(cfeats, "mm_ckpt_idx", dim=64, n_buckets=4)

    drop_dir = tmp_path / "drops"
    ckpt = str(tmp_path / "ckpt")
    drop_dir.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame([(101, seed)], schema).coalesce(1).write.parquet(
        str(drop_dir / "f1")
    )

    runs: list[set] = []

    def run_once():
        seen: set = set()
        q = multimodal_dedup_stream(
            spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
            "mm_ckpt_idx",
            lambda bid, m: seen.update((r.d1, r.d2) for r in m.collect()),
            threshold=0.995, dim=64, checkpoint_dir=ckpt,
        )
        q.awaitTermination()
        runs.append(seen)

    run_once()
    spark.createDataFrame([(102, seed)], schema).coalesce(1).write.parquet(
        str(drop_dir / "f2")
    )
    run_once()
    spark.sql("DROP TABLE IF EXISTS mm_ckpt_idx_keys")
    spark.sql("DROP TABLE IF EXISTS mm_ckpt_idx_vecs")

    assert runs[0] == {(101, 1)}
    assert runs[1] == {(102, 1)}, runs[1]  # 101 not re-delivered


def test_gated_ingest_clean_and_lang_matches_batch(spark, tmp_path):
    """The opt-in hygiene stages of the streaming ingest (text
    normalization + language filter) per micro-batch equal the batch
    chain (clean -> lang_filter -> quality gate -> repetition gate ->
    hash split) on the same documents, across FORCED multi-batch
    delivery — per-doc decisions, so batch boundaries cannot change
    any outcome. The noisy English doc must survive BECAUSE cleaning
    runs before scoring (its raw text carries control/zero-width
    noise), and the Spanish doc must drop at the language gate."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import sampling, textclean, textstats
    from etl_staging_spark.streaming.ingest import gated_ingest_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "the weather here is rather fine another evening theatre begins"
    )
    noisy = good.replace(" ", "  ") + "\r\n\x01tail​end"
    spanish = ("la casa de los cuentos es el lugar que ue ar en los "
               "dias de la escuela para los amigos de la ciudad")
    rows = [(i, good + f" tail{i}") for i in range(8)] + [
        (50, noisy),
        (60, spanish),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    drop_dir = str(tmp_path / "drops")
    docs.repartition(3).write.parquet(drop_dir)

    got: dict[int, str] = {}
    batches: list[int] = []

    def sink(bid, frame):
        batches.append(bid)
        for r in frame.collect():
            got[r.doc_id] = r.split

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )
    q = gated_ingest_stream(
        stream, sink, quality_min=0.5, clean=True, langs=("en",),
        query_name="hygiene_ingest",
    )
    q.awaitTermination()
    assert len(batches) >= 3  # multi-batch actually forced

    # batch reference: same stages composed on the full frame
    cleaned = textclean.with_clean_text(docs)
    lang_ok = textstats.lang_id(cleaned).where(
        F.col("pred_lang") == "en").select("doc_id")
    cleaned = cleaned.join(lang_ok, "doc_id", "left_semi")
    qual = textstats.quality_scores(cleaned).where(
        F.col("quality") >= 0.5).select("doc_id")
    rep_flags = textstats.repetition_stats(cleaned).persist()
    rep = rep_flags.where(~F.col("repetitive")).select("doc_id")
    kept = cleaned.join(qual, "doc_id", "left_semi").join(
        rep, "doc_id", "left_semi")
    want = {r.doc_id: r.split
            for r in sampling.hash_split(
                kept, {"train": 0.9, "val": 0.05, "test": 0.05}).collect()}
    rep_flags.unpersist()
    assert got == want
    assert 50 in got      # the noisy doc survives via cleaning
    assert 60 not in got  # the Spanish doc drops at the language gate


def test_gated_ingest_rejects_bare_string_langs(spark):
    """langs="en" would empty every micro-batch (character membership);
    the ingest job refuses before the query ever starts."""
    import pytest as _pytest

    from etl_staging_spark.streaming.ingest import gated_ingest_stream

    docs = spark.createDataFrame(
        [(1, "hello", "web")], "doc_id long, text string, source string")
    with _pytest.raises(TypeError, match="bare string"):
        gated_ingest_stream(docs, lambda b, df: None, langs="en")


from tests.conftest import nsafe_sorted as _nkey  # noqa: E402


def test_length_card_stream_matches_batch(spark, tmp_path):
    """Incremental card maintenance: after every micro-batch
    (maxFilesPerTrigger=1 forces several), the emitted length card
    equals the BATCH length_histogram_card over every document seen so
    far — additive (source, bucket) deltas + the bounded finish
    reproduce the one-shot card exactly, including a NULL-source audit
    row and an all-NULL-text batch."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "alpha beta", "s1"), (2, "x", "s2")],
        [(3, None, "s1"), (4, None, None)],          # all-NULL-text batch
        [(5, "a b c d e", "s1"), (6, "q", None)],    # NULL-source audit row
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen_rows.extend(rows)

    cards: dict[int, list] = {}

    def sink(bid, card):
        cards[bid] = [tuple(r) for r in card.collect()]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    q = length_card_stream(stream, str(tmp_path / "state"), sink)
    q.awaitTermination()

    assert len(cards) == 3
    # final card == batch card over the full corpus
    full = spark.createDataFrame(seen_rows, schema)
    want = [tuple(r) for r in stats.length_histogram_card(full).collect()]
    assert _nkey(cards[max(cards)]) == _nkey(want)
    # the all-NULL-text batch emits a card too (state so far, no crash)
    assert all(len(c) > 0 for c in cards.values())


def test_ttr_card_stream_matches_batch_and_compacts(spark, tmp_path):
    """The TTR stream maintains the (source, token) occurrence state —
    a type seen once per batch but twice across batches must NOT count
    as hapax (the non-additive trap the state design avoids). After
    the run, compact_card_state folds the delta log to one base
    partition and the derived card is unchanged."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import (
        compact_card_state,
        ttr_card_stream,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    # 'beta' appears once in EACH batch for s1: per-batch hapax, but
    # cnt=2 overall -> not hapax in the true card
    drops = [
        [(1, "alpha beta", "s1")],
        [(2, "beta gamma", "s1"), (3, "x y", "s2")],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    all_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        all_rows.extend(rows)

    cards: dict[int, list] = {}
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    state = str(tmp_path / "state")
    q = ttr_card_stream(
        stream, state, lambda bid, c: cards.__setitem__(
            bid, [tuple(r) for r in c.collect()]
        )
    )
    q.awaitTermination()

    full = spark.createDataFrame(all_rows, schema)
    want = [tuple(r) for r in stats.ttr_card(full).collect()]
    final = cards[max(cards)]
    assert _nkey(final) == _nkey(want)
    # s1: tokens=4 (alpha, beta x2, gamma), types=3, hapax=2 (alpha, gamma)
    s1 = next(r for r in final if r[0] == "s1")
    assert s1[1:4] == (4, 3, 2)

    # compaction: one base partition, same derived card
    compact_card_state(spark, state, ("source", "token"), count_cols=("cnt",))
    log = spark.read.parquet(state)
    assert [r.batch_id for r in log.select("batch_id").distinct().collect()] == [-1]
    after = [
        tuple(r)
        for r in stats.finish_ttr_card(
            log.groupBy("source", "token").agg(
                F.sum("cnt").cast("bigint").alias("cnt")
            )
        ).collect()
    ]
    assert _nkey(after) == _nkey(want)


def test_length_card_stream_checkpointed_replay_converges(spark, tmp_path):
    """Restart + idempotency: with a checkpoint, a restarted card
    stream processes only NEW drops, and the delta log holds exactly
    one partition per batch — the dynamic-overwrite design that makes
    a crash-redelivered batch overwrite its own partition instead of
    double-counting."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a b c", "s1")], schema
    ).coalesce(1).write.parquet(str(drop_dir / "f1"))

    cards: list[list] = []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(drop_dir) + "/*")
        q = length_card_stream(
            stream, state,
            lambda bid, c: cards.append([tuple(r) for r in c.collect()]),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run_once()
    spark.createDataFrame(
        [(2, "d e f g h", "s1")], schema
    ).coalesce(1).write.parquet(str(drop_dir / "f2"))
    run_once()

    # second run appended exactly one new delta partition (batch 1)
    log = spark.read.parquet(state)
    assert sorted(
        r.batch_id for r in log.select("batch_id").distinct().collect()
    ) == [0, 1]
    full = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e f g h", "s1")], schema
    )
    want = [tuple(r) for r in stats.length_histogram_card(full).collect()]
    assert _nkey(cards[-1]) == _nkey(want)


def test_length_card_stream_first_batch_all_null_text(spark, tmp_path):
    """The never-written-state fallback: if the FIRST batch carries no
    text at all, no delta partition exists yet and the state read
    fails — the stream must emit an empty (schema-correct) card for
    that batch instead of crashing, then recover normally."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    spark.createDataFrame([(1, None, "s1")], schema).coalesce(1).write.parquet(
        str(drop_dir / "f0")
    )
    spark.createDataFrame([(2, "a b", "s1")], schema).coalesce(1).write.parquet(
        str(drop_dir / "f1")
    )
    cards: dict[int, list] = {}
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    q = length_card_stream(
        stream, str(tmp_path / "state"),
        lambda bid, c: cards.__setitem__(bid, [tuple(r) for r in c.collect()]),
    )
    q.awaitTermination()
    assert cards[0] == []
    assert cards[1] == [("s1", 2, 3, 1, 1.0)]


def test_length_card_stream_crash_replay_overwrites_own_partition(
    spark, tmp_path
):
    """THE idempotency claim, exercised for real: deleting the latest
    checkpoint commit (a crash between the delta write and the commit)
    makes the restarted stream redeliver that batch with the SAME
    batch_id — the dynamic partition overwrite replaces the batch's
    own partition and the final card does NOT double-count."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    rows = [[(1, "a b c", "s1")], [(2, "d e", "s1")]]
    for i, r in enumerate(rows):
        spark.createDataFrame(r, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )

    cards: list[list] = []

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop_dir) + "/*")
        )
        q = length_card_stream(
            stream, state,
            lambda bid, c: cards.append([tuple(r) for r in c.collect()]),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run_once()
    assert len(cards) == 2
    # simulate the crash: batch 1's delta is on disk, its commit is not
    # (the .crc checksum sidecar must go too, or the local Hadoop FS
    # fails the commit rewrite as a concurrent-writer conflict)
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_once()  # redelivers batch 1 (same id, same file)

    log = spark.read.parquet(state)
    assert sorted(
        r.batch_id for r in log.select("batch_id").distinct().collect()
    ) == [0, 1]
    full = spark.createDataFrame(rows[0] + rows[1], schema)
    want = [tuple(r) for r in stats.length_histogram_card(full).collect()]
    assert _nkey(cards[-1]) == _nkey(want)  # no double count


def test_compact_card_state_respects_uncommitted_batches(spark, tmp_path):
    """Compaction handed the checkpoint folds ONLY committed batch
    partitions: after a simulated crash (delta written, commit
    deleted), the uncommitted partition survives compaction intact, so
    the subsequent replay overwrites it without double-counting; a
    second compaction after the clean rerun folds everything."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import (
        compact_card_state,
        length_card_stream,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    rows = [[(1, "a b c", "s1")], [(2, "d e", "s1")]]
    for i, r in enumerate(rows):
        spark.createDataFrame(r, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )

    cards: list[list] = []

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop_dir) + "/*")
        )
        q = length_card_stream(
            stream, state,
            lambda bid, c: cards.append([tuple(r) for r in c.collect()]),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run_once()
    os.remove(os.path.join(ckpt, "commits", "1"))  # crash before commit
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    compact_card_state(
        spark, state, ("source", "lo_tokens"), checkpoint_dir=ckpt
    )
    log = spark.read.parquet(state)
    # committed batch 0 folded into the base; uncommitted batch 1 intact
    assert sorted(
        r.batch_id for r in log.select("batch_id").distinct().collect()
    ) == [-1, 1]

    run_once()  # replay rewrites partition 1
    full = spark.createDataFrame(rows[0] + rows[1], schema)
    want = [tuple(r) for r in stats.length_histogram_card(full).collect()]
    assert _nkey(cards[-1]) == _nkey(want)

    # clean termination: now everything is committed and foldable
    compact_card_state(
        spark, state, ("source", "lo_tokens"), checkpoint_dir=ckpt
    )
    log = spark.read.parquet(state)
    assert [
        r.batch_id for r in log.select("batch_id").distinct().collect()
    ] == [-1]
    got = [
        tuple(r)
        for r in stats.finish_length_card(
            log.drop("batch_id")
        ).collect()
    ]
    assert _nkey(got) == _nkey(want)


def test_additive_card_stream_refuses_stale_state_without_checkpoint(
    spark, tmp_path
):
    """A fresh un-checkpointed run against an existing delta log would
    restart batch numbering at 0 and double-count — the starter
    refuses it up front."""
    import pytest as _pytest

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    state = str(tmp_path / "state")
    spark.createDataFrame([(1, "a b", "s1")], schema).coalesce(1).write.parquet(
        str(drop_dir / "f0")
    )
    q = length_card_stream(
        spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
        state,
        lambda bid, c: c.collect(),
    )
    q.awaitTermination()
    with _pytest.raises(ValueError, match="already holds a delta log"):
        length_card_stream(
            spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
            state,
            lambda bid, c: c.collect(),
        )


def test_write_partitioned_snapshot_static_pins_conf(spark, tmp_path):
    """mode='static' must replace the WHOLE target even when the
    session's ambient partitionOverwriteMode is 'dynamic' — the review
    probe showed the old code executed static writes under the ambient
    conf, leaving every absent partition in place (double-counting for
    the delta logs the card streams compact)."""
    from etl_staging_spark.etl.sinks import write_partitioned_snapshot

    path = str(tmp_path / "snap")
    df = spark.createDataFrame(
        [(0, "a"), (1, "b")], "batch_id long, v string"
    )
    write_partitioned_snapshot(df, path, ["batch_id"])
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        base = spark.createDataFrame([(-1, "ab")], "batch_id long, v string")
        write_partitioned_snapshot(base, path, ["batch_id"], mode="static")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    left = spark.read.parquet(path)
    assert [r.batch_id for r in left.select("batch_id").distinct().collect()] == [-1]


def test_additive_card_stream_refuses_rotated_checkpoint(spark, tmp_path):
    """The ownership marker closes the second variant of the
    batch-numbering footgun: a FRESH checkpoint against an existing
    delta log restarts batch ids at 0 exactly like no checkpoint at
    all — the starter refuses a state_dir owned by another
    checkpoint, and compaction preserves the marker."""
    import pytest as _pytest

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    state = str(tmp_path / "state")
    spark.createDataFrame([(1, "a b", "s1")], schema).coalesce(1).write.parquet(
        str(drop_dir / "f0")
    )

    def run(ckpt):
        q = length_card_stream(
            spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
            state,
            lambda bid, c: c.collect(),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt1"))
    with _pytest.raises(ValueError, match="belongs to checkpoint"):
        run(str(tmp_path / "ckpt2"))
    run(str(tmp_path / "ckpt1"))  # the owning checkpoint still works


def test_additive_card_stream_refuses_undercount_and_wiped_checkpoint(
    spark, tmp_path
):
    """The two remaining numbering-restart variants: a checkpoint that
    has already committed batches pointed at an EMPTY state_dir would
    permanently undercount (committed batches are never redelivered);
    the owning checkpoint path with its contents wiped restarts
    numbering over the existing log. Both are refused at start, and a
    rotated checkpoint over an EMPTY log is allowed (re-stamped)."""
    import shutil

    import pytest as _pytest

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.streaming.ingest import length_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    spark.createDataFrame([(1, "a b", "s1")], schema).coalesce(1).write.parquet(
        str(drop_dir / "f0")
    )

    def run(ckpt_dir, state_dir):
        q = length_card_stream(
            spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
            state_dir,
            lambda bid, c: c.collect(),
            checkpoint_dir=ckpt_dir,
        )
        q.awaitTermination()

    run(ckpt, state)
    # committed checkpoint + fresh state: permanent undercount -> refused
    with _pytest.raises(ValueError, match="permanently undercount"):
        run(ckpt, str(tmp_path / "fresh_state"))
    # wiped checkpoint at the owning path + existing log -> refused
    shutil.rmtree(ckpt)
    with _pytest.raises(ValueError, match="no committed batches"):
        run(ckpt, state)
    # rotation onto an EMPTY (marker-only) log: create one by starting
    # a stream over a drops dir with no files — the marker is stamped
    # at starter time, no batch ever writes a partition
    empty_drops = tmp_path / "no_drops"
    empty_drops.mkdir()
    state2 = str(tmp_path / "state2")

    def run_empty(ckpt_dir):
        q = length_card_stream(
            spark.readStream.schema(schema).parquet(str(empty_drops) + "/*"),
            state2,
            lambda bid, c: c.collect(),
            checkpoint_dir=ckpt_dir,
        )
        q.awaitTermination()

    run_empty(str(tmp_path / "ckpt_a"))
    # rotating the marker-only state to a FRESH checkpoint: allowed,
    # re-stamped
    run_empty(str(tmp_path / "ckpt_b"))
    # rotating it to a COMMITTED checkpoint: the committed batches are
    # never redelivered -> refused (the rotation branch must apply the
    # same undercount rule as the unowned branch). ckpt was wiped
    # above, so commit a fresh one first.
    ckpt_c = str(tmp_path / "ckpt_c")
    run(ckpt_c, str(tmp_path / "state_c"))
    with _pytest.raises(ValueError, match="permanently undercount"):
        run(ckpt_c, state2)


def test_card_guard_remote_checkpoint_spellings_and_commit_probe(
    spark, tmp_path
):
    """r12 ADVICE pair on the remote-checkpoint branch, exercised with
    file:// URIs (remote to `_is_remote`, reachable by the Hadoop FS):

    - the ownership comparison must accept the SAME remote checkpoint
      spelled with and without a trailing slash (`_norm_path` used to
      be identity for URIs, so a legitimate resume was refused);
    - a remote checkpoint that has ALREADY COMMITTED batches pointed
      at an empty state_dir is the permanent-undercount case — with a
      session the commits/ listing is probed through the Hadoop FS API
      and refused exactly like a local checkpoint; without a session
      the commit state is unknown and the guard (documented
      best-effort) lets it pass."""
    import pytest as _pytest

    from etl_staging_spark.streaming.ingest import (
        _guard_card_state,
        _write_card_owner,
    )

    # trailing-slash spellings of one remote checkpoint
    state = str(tmp_path / "state")
    remote_ckpt = "file://" + str(tmp_path / "rckpt")
    _guard_card_state(state, remote_ckpt, spark)  # stamps owner
    _guard_card_state(state, remote_ckpt + "/", spark)  # same ckpt: ok
    with _pytest.raises(ValueError, match="belongs to checkpoint"):
        # a genuinely different remote checkpoint over a log-bearing
        # state is still refused — build the log marker
        (tmp_path / "state" / "batch_id=0").mkdir(parents=True)
        _guard_card_state(state, "file://" + str(tmp_path / "other"), spark)

    # committed remote checkpoint + empty state: probed and refused
    committed = tmp_path / "committed_ckpt"
    (committed / "commits").mkdir(parents=True)
    (committed / "commits" / "0").write_text("v1")
    fresh = str(tmp_path / "fresh_state")
    with _pytest.raises(ValueError, match="permanently undercount"):
        _guard_card_state(fresh, "file://" + str(committed), spark)
    # without a session the commit state is unknown: documented pass
    _guard_card_state(fresh, "file://" + str(committed), None)
    # a probe that RAISES (unconfigured scheme) is also unknown — the
    # best-effort guard skips the commit refusals instead of crashing
    _guard_card_state(str(tmp_path / "s4"), "nosuchfs://host/ckpt", spark)

    # wiped-owner refusal now also covers probeable remote checkpoints:
    # owner stamped, log present, remote checkpoint holds no commits
    state3 = str(tmp_path / "state3")
    wiped = "file://" + str(tmp_path / "wiped_ckpt")
    _write_card_owner(state3, wiped)
    (tmp_path / "state3" / "batch_id=0").mkdir()
    with _pytest.raises(ValueError, match="no committed batches"):
        _guard_card_state(state3, wiped, spark)


def test_length_card_fold_twin_equals_batch_card(spark):
    """The certified `length_card_stream_fold` entry (the registry's
    batch twin of the streaming card path) equals the direct batch
    card on the real table: 3-way batch split -> per-batch additive
    deltas -> shared `_fold` -> `finish_length_card` is exactly
    `length_histogram_card` in one scan — additivity certified
    Spark-vs-Spark here and against DuckDB by the registry oracle."""
    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.queries.catalog_llm import (
        length_card_stream_fold_q,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in length_card_stream_fold_q(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in stats.length_histogram_card(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).collect()
    )
    assert got == want and len(got) > 0


def test_ttr_state_serves_vocab_coverage_card(spark, tmp_path):
    """One maintained token table, two cards: the (source, token, cnt)
    state the TTR stream keeps is the exact input of
    vocab_coverage_from_counts, so the coverage card derived from the
    stream's merged state equals the batch vocab_coverage_by_source
    over the same documents — no second corpus scan, no second state."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import vocab
    from etl_staging_spark.streaming.ingest import _fold, ttr_card_stream
    from etl_staging_spark.tables import release_pinned

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "a a b", "s1")],
        [(2, "b c d", "s1"), (3, "a x", "s2")],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    all_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        all_rows.extend(rows)

    state = str(tmp_path / "state")
    q = ttr_card_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*"),
        state,
        lambda bid, c: c.collect(),
    )
    q.awaitTermination()

    merged = _fold(
        spark.read.parquet(state), ("source", "token"), ("cnt",)
    )
    got = sorted(
        tuple(r)
        for r in vocab.vocab_coverage_from_counts(merged, k=2).collect()
    )
    full = spark.createDataFrame(all_rows, schema)
    ref = vocab.vocab_coverage_by_source(full, k=2)
    want = sorted(tuple(r) for r in ref.collect())
    release_pinned(ref)
    assert got == want and got


def test_pii_and_charclass_card_streams_match_batch(spark, tmp_path):
    """The two r13 additive-card instances: after every micro-batch
    (maxFilesPerTrigger=1 forces several), the emitted PII-incidence
    and char-class cards equal their BATCH twins over every document
    seen so far — per-source count deltas + the bounded finish
    reproduce the one-shot cards exactly, including a NULL-source
    audit row, an all-NULL-text batch (NULL match sums on both paths),
    and cross-batch any-match accumulation."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import (
        charclass_card_stream,
        pii_card_stream,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "mail bob@example.com now", "s1"), (2, "clean 12!", "s2")],
        [(3, None, "s1"), (4, None, None)],           # all-NULL-text batch
        [(5, "id 123456789 x\ny", "s1"), (6, "a@b.co", None)],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen_rows.extend(rows)
    full = spark.createDataFrame(seen_rows, schema)

    for starter, batch_fn, state in (
        (pii_card_stream, stats.pii_rate_by_source, "pii_state"),
        (charclass_card_stream, stats.charclass_profile_card, "cc_state"),
    ):
        cards: dict[int, list] = {}

        def sink(bid, card):
            cards[bid] = [tuple(r) for r in card.collect()]

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop_dir) + "/*")
        )
        q = starter(stream, str(tmp_path / state), sink)
        q.awaitTermination()
        assert len(cards) == 3, starter.__name__
        want = [tuple(r) for r in batch_fn(full).collect()]
        assert _nkey(cards[max(cards)]) == _nkey(want), starter.__name__
        assert all(len(c) > 0 for c in cards.values()), starter.__name__


def test_fertility_card_stream_matches_batch(spark, tmp_path):
    """The r13 fertility additive-card instance: after every
    micro-batch, the emitted chars-per-token card equals its batch
    twin over every document seen so far — including a NULL-language
    row accumulating across batches (zero-evidence digits in one
    batch, NULL text in another) and a ratio that changes as a
    language's mass grows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import fertility_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "that there", "s1"), (2, "schein unter", "s1")],
        [(3, "12345", "s2"), (4, None, "s2")],      # both -> NULL lang
        [(5, "that there that", "s1")],             # en fertility shifts
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen_rows.extend(rows)
    full = spark.createDataFrame(seen_rows, schema)

    cards: dict[int, list] = {}

    def sink(bid, card):
        cards[bid] = [tuple(r) for r in card.collect()]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    q = fertility_card_stream(stream, str(tmp_path / "fert_state"), sink)
    q.awaitTermination()
    assert len(cards) == 3
    want = [tuple(r) for r in stats.token_fertility_by_lang(full).collect()]
    assert _nkey(cards[max(cards)]) == _nkey(want)
    # the en row after batch 2: 10+15 chars / 2+3 tokens = 5.0; and the
    # NULL-language row carries batch-1's digit chars plus the NULL doc
    final = {r[0]: r[1:] for r in cards[max(cards)]}
    assert final["en"] == (2, 25, 5, 5.0)
    assert final[None] == (2, 5, 1, 5.0)


def test_ttr_state_serves_cosine_matrix_card(spark, tmp_path):
    """One maintained token table, THREE cards: the (source, token,
    cnt) state the TTR stream keeps is also the exact input of
    source_vocab_cosine_from_counts, so the inter-source lexical
    cosine derived from the stream's merged state equals the batch
    card over the same documents — mirror detection stays current at
    ingest time with no second state."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import _fold, ttr_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "a b", "s1"), (2, "d e d e d e", "s4")],
        [(3, "a", "s1"), (4, "a a b b", "s2")],
        [(5, "d e", "s5")],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    all_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        all_rows.extend(rows)

    state = str(tmp_path / "state")
    q = ttr_card_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*"),
        state,
        lambda bid, c: c.collect(),
    )
    q.awaitTermination()

    merged = _fold(
        spark.read.parquet(state), ("source", "token"), ("cnt",)
    )
    got = sorted(
        tuple(r)
        for r in stats.source_vocab_cosine_from_counts(merged).collect()
    )
    full = spark.createDataFrame(all_rows, schema)
    want = sorted(
        tuple(r) for r in stats.source_vocab_cosine_matrix(full).collect()
    )
    assert got == want and len(got) > 0
    # the mirror pair split ACROSS batches still lands at exactly 1.0
    by_pair = {(r[0], r[1]): r[3] for r in got}
    assert by_pair[("s4", "s5")] == 1.0


def test_truncation_card_stream_matches_batch(spark, tmp_path):
    """The truncation additive-card instance: after every micro-batch
    the emitted card equals its batch twin over every document seen so
    far — a long doc arriving in a LATER batch flips its source's
    truncation numbers, and the all-empty source keeps its NULL loss
    rate across batches."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import truncation_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "a b", "s1"), (2, "", "s2")],
        [(3, "a b c d e f", "s1"), (4, None, "s2")],  # the late long doc
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen.extend(rows)
    full = spark.createDataFrame(seen, schema)

    cards: dict[int, list] = {}
    q = truncation_card_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*"),
        str(tmp_path / "trunc_state"),
        lambda bid, c: cards.__setitem__(bid, [tuple(r) for r in c.collect()]),
        max_len=4,
    )
    q.awaitTermination()
    assert len(cards) == 2
    want = [tuple(r) for r in stats.truncation_loss_card(full, max_len=4).collect()]
    assert _nkey(cards[max(cards)]) == _nkey(want)
    by_src = {r[0]: r[1:] for r in cards[max(cards)]}
    assert by_src["s1"] == (2, 8, 1, 2, 0.5, 0.25)
    assert by_src["s2"] == (1, 0, 0, 0, 0.0, None)
    # batch 0 saw no truncation anywhere
    assert all(r[3] == 0 for r in cards[min(cards)])


def test_truncation_card_stream_refuses_max_len_change(spark, tmp_path):
    """The parameter-identity guard: a truncation state built at one
    max_len refuses a restart with a different one — counts cut at
    different lengths must never merge (the finished card would
    describe no single context length). Same max_len resumes fine."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.streaming.ingest import truncation_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    spark.createDataFrame(
        [(1, "a b c d e f", "s1")], schema
    ).coalesce(1).write.parquet(str(drop_dir / "f0"))
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def start(max_len):
        return truncation_card_stream(
            spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
            state,
            lambda bid, c: c.collect(),
            max_len=max_len,
            checkpoint_dir=ckpt,
        )

    start(4).awaitTermination()
    with pytest.raises(ValueError, match="params"):
        start(8)
    # the recorded cut resumes without complaint
    start(4).awaitTermination()


def test_compaction_preserves_params_marker(spark, tmp_path):
    """Compacting a parameterized card state must not forget its
    parameters: after compact_card_state, a restart at a DIFFERENT
    max_len is still refused and the same max_len still resumes (the
    static rewrite wipes every marker; both the ownership and the
    params marker must be restored)."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.streaming.ingest import (
        compact_card_state,
        truncation_card_stream,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    spark.createDataFrame(
        [(1, "a b c d e f", "s1")], schema
    ).coalesce(1).write.parquet(str(drop_dir / "f0"))
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cards: dict[int, list] = {}

    def start(max_len):
        return truncation_card_stream(
            spark.readStream.schema(schema).parquet(str(drop_dir) + "/*"),
            state,
            lambda bid, c: cards.__setitem__(bid, [tuple(r) for r in c.collect()]),
            max_len=max_len,
            checkpoint_dir=ckpt,
        )

    start(4).awaitTermination()
    compact_card_state(
        spark, state, ("source",),
        count_cols=("n_docs", "n_tokens", "n_truncated", "tokens_lost"),
        checkpoint_dir=ckpt,
    )
    with pytest.raises(ValueError, match="params"):
        start(8)
    before = dict(cards)
    spark.createDataFrame(
        [(2, "g h", "s1")], schema
    ).coalesce(1).write.parquet(str(drop_dir / "f1"))
    start(4).awaitTermination()
    # the resumed stream folded the compacted base with the new batch
    final = {r[0]: r[1:] for r in cards[max(cards)]}
    assert final["s1"] == (2, 8, 1, 2, 0.5, 0.25)
    assert before, "first run produced cards"


def test_params_guard_rotates_on_empty_log(spark, tmp_path):
    """A params marker pinned by a start that never wrote a batch must
    not wedge the state_dir: with an EMPTY log, different params rotate
    the marker (the ownership guard's while-empty allowance); and the
    guard's identity includes source_col, so regrouping an existing
    counted state by a different column is refused."""
    import pytest

    from etl_staging_spark.streaming.ingest import (
        _guard_card_params,
        _read_card_owner,
    )

    state = str(tmp_path / "state")
    _guard_card_params(state, {"max_len": 512, "source_col": "source"})
    # empty log -> rotation allowed
    _guard_card_params(state, {"max_len": 256, "source_col": "source"})
    # fake a written batch partition -> now pinned
    import os

    os.makedirs(os.path.join(state, "batch_id=0"))
    with pytest.raises(ValueError, match="params"):
        _guard_card_params(state, {"max_len": 512, "source_col": "source"})
    with pytest.raises(ValueError, match="params"):
        _guard_card_params(state, {"max_len": 256, "source_col": "domain"})
    # identical params still resume
    _guard_card_params(state, {"max_len": 256, "source_col": "source"})
    assert _read_card_owner(state) is None  # params marker is separate


def test_params_guard_refuses_counted_log_without_marker(spark, tmp_path):
    """A COUNTED state_dir with NO params marker (the marker-loss
    window: a crash inside compact_card_state between the static
    rewrite and the marker restore, or a hand-deleted marker) must be
    REFUSED, not silently re-pinned to whatever params the restarting
    stream passes — and writing the marker back with the original
    params resumes."""
    import json
    import os

    import pytest

    from etl_staging_spark.streaming.ingest import (
        _CARD_PARAMS_MARKER,
        _guard_card_params,
    )

    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "batch_id=0"))
    with pytest.raises(ValueError, match="no _CARD_PARAMS"):
        _guard_card_params(state, {"max_len": 512})
    # recovery: restore the marker with the params the counts were
    # actually built at -> identical params resume, different refuse
    with open(os.path.join(state, _CARD_PARAMS_MARKER), "w") as fh:
        fh.write(json.dumps({"max_len": 512}, sort_keys=True))
    _guard_card_params(state, {"max_len": 512})
    with pytest.raises(ValueError, match="params"):
        _guard_card_params(state, {"max_len": 256})
    # a param-free stream on the same dir still checks nothing
    _guard_card_params(state, None)


def test_events_volume_stream_matches_batch(spark, tmp_path):
    """The additive-card machinery on a NON-documents table: the
    events volume card maintained over micro-batches equals the batch
    card, with the money total exact across batches because the state
    is integer cents (a 1.005 value in one batch and 2.0 in another
    land at exactly 3.01)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    from datetime import datetime

    from etl_staging_spark.operators import events as ev
    from etl_staging_spark.streaming.ingest import events_volume_stream

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    drops = [
        [(1, datetime(2024, 1, 1, 10), 1, "view", 1.005, None)],
        [
            (2, datetime(2024, 1, 1, 11), 1, "view", 2.0, None),
            (3, datetime(2024, 1, 1, 12), 2, "click", None, None),
        ],
    ]
    d = tmp_path / "drops"
    d.mkdir()
    seen: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"f{i}")
        )
        seen.extend(rows)
    cards: dict[int, list] = {}
    q = events_volume_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*"),
        str(tmp_path / "state"),
        lambda bid, c: cards.__setitem__(bid, [tuple(r) for r in c.collect()]),
    )
    q.awaitTermination()
    assert len(cards) == 2
    full = spark.createDataFrame(seen, schema)
    want = _nkey([tuple(r) for r in ev.volume_card(full).collect()])
    assert _nkey(cards[max(cards)]) == want
    final = {r[0]: r[1:] for r in cards[max(cards)]}
    assert final["view"] == (2, 2, 3.01)


def test_concentration_card_stream_matches_batch(spark, tmp_path):
    """Incremental mixture-concentration maintenance: after every
    micro-batch the emitted 1-row card equals the BATCH
    source_concentration_card over every document seen so far — the
    per-source doc/token deltas are additive and the HHI/dominant
    reduce reruns on the bounded merged state. A late heavy source
    must flip the dominant source and push the token HHI up on ITS
    batch, not at the next full audit."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import concentration_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    drops = [
        [(1, "a b", "s1"), (2, "x", "s2")],
        [(3, None, "s1"), (4, "q r s", None)],       # NULL source/text
        [(5, " ".join(["w"] * 40), "whale")],        # late heavy source
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen_rows.extend(rows)

    cards: dict[int, list] = {}

    def sink(bid, card):
        cards[bid] = [tuple(r) for r in card.collect()]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    q = concentration_card_stream(stream, str(tmp_path / "state"), sink)
    q.awaitTermination()

    assert len(cards) == 3
    full = spark.createDataFrame(seen_rows, schema)
    want = [tuple(r) for r in stats.source_concentration_card(full).collect()]
    assert cards[max(cards)] == want
    # the whale batch flipped dominance the moment it arrived
    assert cards[max(cards)][0][5] == "whale"
    earlier = cards[sorted(cards)[-2]][0]
    assert earlier[5] != "whale"


def test_interarrival_stream_matches_batch_across_boundary(spark, tmp_path):
    """Stateful inter-arrival maintenance: the gap that SPANS two
    micro-batches — the case additive deltas cannot express — is
    bridged through the stored last-seen second, and the finished card
    over the latest per-(user, type) state equals the batch
    `interarrival_card` over the full feed."""
    from datetime import datetime, timedelta

    from etl_staging_spark.operators import events as ev
    from etl_staging_spark.streaming.events import (
        EVENT_SCHEMA,
        interarrival_stream,
        run_available_now,
    )

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    f0 = [
        (1, t0, 1, "tick", None, None),
        (2, t0 + timedelta(seconds=10), 1, "tick", None, None),
        (5, t0, 2, "burst", 1.0, None),
    ]
    f1 = [
        # boundary gap for user 1 'tick': 20s from event 2 (batch 0)
        (3, t0 + timedelta(seconds=30), 1, "tick", None, None),
        (4, t0 + timedelta(seconds=40), 1, "tick", None, None),
        (6, t0 + timedelta(seconds=601), 2, "burst", None, None),
    ]
    drop = tmp_path / "feed"
    drop.mkdir()
    for i, rows in enumerate((f0, f1)):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(
            str(drop / f"f{i}")
        )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop) + "/*")
    )
    run_available_now(interarrival_stream(stream), "ia_sink", "update")
    rows = spark.sql("SELECT * FROM ia_sink").collect()
    # update-mode memory sink: the LAST emitted row per group is the
    # current state (cumulative counts are monotone — keep max n_events)
    latest: dict = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        if k not in latest or r.n_events > latest[k].n_events:
            latest[k] = r
    groups = spark.createDataFrame(
        list(latest.values()),
        "user_id long, event_type string, n_events long, n_gaps long,"
        " sg long, sg2 long, max_gap_s long",
    )
    got = sorted(
        tuple(r) for r in ev.finish_interarrival_card(groups).collect()
    )
    full = spark.createDataFrame(
        f0 + f1,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    want = sorted(tuple(r) for r in ev.interarrival_card(full).collect())
    assert got == want
    # the boundary gap was really counted: user 1 has 3 gaps of 10/20/10
    tick = {r.event_type: r for r in ev.finish_interarrival_card(groups).collect()}
    assert tick["tick"].n_gaps == 3 and tick["tick"].max_gap_s == 20


def test_interarrival_stream_multichunk_and_pre1970(spark, tmp_path):
    """The review's two stateful-worker edges: (1) a group delivered as
    SEVERAL Arrow chunks in one micro-batch (maxRecordsPerBatch=2)
    must sort the WHOLE batch once — per-chunk sorting would fold gaps
    across an unordered chunk boundary; (2) a pre-1970 timestamp
    (negative epoch seconds) is a real predecessor whose gap counts —
    the old -1 sentinel silently dropped it. Parity against the batch
    card pins both."""
    from datetime import datetime, timedelta

    from etl_staging_spark.operators import events as ev
    from etl_staging_spark.streaming.events import (
        EVENT_SCHEMA,
        interarrival_stream,
        run_available_now,
    )

    t0 = datetime(1969, 12, 31, 23, 59, 50)  # pre-epoch start
    rows = [
        (i, t0 + timedelta(seconds=7 * i), 1, "tick", None, None)
        for i in range(9)  # one group, 9 events -> 5 chunks at size 2
    ]
    drop = tmp_path / "feed"
    drop.mkdir()
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(
        str(drop / "f0")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(drop) + "/*")
        run_available_now(interarrival_stream(stream), "ia_mc_sink", "update")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    latest = {}
    for r in spark.sql("SELECT * FROM ia_mc_sink").collect():
        k = (r.user_id, r.event_type)
        if k not in latest or r.n_events > latest[k].n_events:
            latest[k] = r
    groups = spark.createDataFrame(
        list(latest.values()),
        "user_id long, event_type string, n_events long, n_gaps long,"
        " sg long, sg2 long, max_gap_s long",
    )
    got = sorted(
        tuple(r) for r in ev.finish_interarrival_card(groups).collect()
    )
    full = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    want = sorted(tuple(r) for r in ev.interarrival_card(full).collect())
    assert got == want
    # all 8 gaps counted (incl. the ones straddling the epoch), each 7s
    row = got[0]
    assert row[2] == 8 and row[3] == 7.0 and row[5] == 0.0


def test_quality_lang_card_stream_matches_batch(spark, tmp_path):
    """The quality-by-language stream (r15): after every micro-batch
    the emitted gate-fairness card equals the BATCH quality_by_lang
    over every document seen so far — the micro-unit BIGINT quality
    sums fold additively (the decimal-sum trap the representation
    avoids), including a NULL-language batch (NULL-text + zero-
    evidence docs) and cross-batch mean updates. A different low_cut
    against the same state dir is refused (params identity)."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_staging_spark.llmdata import stats
    from etl_staging_spark.streaming.ingest import quality_lang_card_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    en = ("the of and to in it is was for on " * 8).strip()
    de = ("der die und das ist ein nicht mit sich auf " * 8).strip()
    drops = [
        [(1, en, "s1"), (2, de, "s1")],
        [(3, None, "s2"), (4, "zz qq xx", "s2")],   # NULL-lang bucket
        [(5, en + " extra tokens here", "s1")],      # moves the en mean
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen_rows: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen_rows.extend(rows)

    cards: dict[int, list] = {}

    def sink(bid, card):
        cards[bid] = [tuple(r) for r in card.collect()]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    q = quality_lang_card_stream(stream, str(tmp_path / "state"), sink)
    q.awaitTermination()

    assert len(cards) == 3
    full = spark.createDataFrame(seen_rows, schema)
    want = [tuple(r) for r in stats.quality_by_lang(full).collect()]
    assert _nkey(cards[max(cards)]) == _nkey(want)
    # intermediate cards equal the batch card over their prefix
    prefix = spark.createDataFrame(drops[0], schema)
    want0 = [tuple(r) for r in stats.quality_by_lang(prefix).collect()]
    assert _nkey(cards[min(cards)]) == _nkey(want0)
    # a different cutoff against the same state is a different card
    with _pytest.raises(ValueError):
        quality_lang_card_stream(
            stream, str(tmp_path / "state"), sink, low_cut=0.9
        )


def test_cluster_share_card_stream_matches_batch_and_refinishes(
    spark, tmp_path
):
    """The cluster-share mixture card maintained from the on-disk
    three-grain state alone: after every micro-batch the emitted card
    equals the BATCH `cluster_share_mixture` over every doc/vector
    seen so far (pinned centroids — the fixed-geometry contract), a
    vector-less doc counts in the keep universe but not in n_docs,
    compaction leaves the finished card unchanged, the same state
    re-finishes at a DIFFERENT target (target is a finish-time knob,
    not state identity), and a restart pinning a different salt or
    geometry against the counted state is refused."""
    import pytest as _pytest
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_staging_spark.llmdata import simsearch
    from etl_staging_spark.streaming.ingest import (
        cluster_share_card_stream,
        compact_card_state,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    e0 = [0.9, 0.1, 0.0, 0.0]
    e1 = [0.1, 0.8, 0.1, 0.0]
    drops = [
        [(1, "s1", e0), (2, "s1", e0), (3, "s2", e1)],
        [(4, "s2", e1), (5, "s1", e1), (6, "s2", None)],  # 6: no vector
        [(7, "s1", e0), (8, "s2", e0), (9, "s1", e1), (10, "s2", e1)],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    seen: list[tuple] = []
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop_dir / f"f{i}")
        )
        seen.extend(rows)

    cards: dict[int, list] = {}

    def sink(bid, card):
        cards[bid] = [tuple(r) for r in card.collect()]

    def start(salt="cellsrc-v1", centroids=cents, target=6):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop_dir) + "/*")
        )
        return cluster_share_card_stream(
            stream,
            str(tmp_path / "state"),
            sink,
            target_total=target,
            centroids=centroids,
            n_centroids=2,
            salt=salt,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    start().awaitTermination()
    assert len(cards) == 3

    def batch_card(rows, target):
        docs = spark.createDataFrame(rows, schema).select("doc_id", "source")
        emb = (
            spark.createDataFrame(rows, schema)
            .where(F.col("embedding").isNotNull())
            .select(F.col("doc_id").alias("vec_id"), "embedding")
        )
        return [
            tuple(r)
            for r in simsearch.cluster_share_mixture(
                docs, emb, target, n_centroids=2, centroids=cents
            ).collect()
        ]

    # every emitted card == the batch card over its prefix
    assert _nkey(cards[0]) == _nkey(batch_card(drops[0], 6))
    assert _nkey(cards[2]) == _nkey(batch_card(seen, 6))
    # the vector-less doc 6 is in s2's keep universe but not n_docs:
    # s2 has 4 embedded docs out of 5 total
    s2 = next(r for r in cards[2] if r[0] == "s2")
    assert s2[1] == 4

    # compaction folds the log to one base partition, same card
    state = str(tmp_path / "state")
    compact_card_state(
        spark,
        state,
        ("grain", "source", "cell"),
        count_cols=("n",),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    log = spark.read.parquet(state)
    assert [
        r.batch_id for r in log.select("batch_id").distinct().collect()
    ] == [-1]
    from etl_staging_spark.streaming.ingest import _fold

    folded = _fold(log, ("grain", "source", "cell"), ("n",))
    after = [
        tuple(r)
        for r in simsearch.cluster_share_card_from_state_log(
            folded, 6
        ).collect()
    ]
    assert _nkey(after) == _nkey(cards[2])
    # target is a finish-time knob: the SAME folded state re-finishes
    # at another target and matches that target's batch card
    retarget = [
        tuple(r)
        for r in simsearch.cluster_share_card_from_state_log(
            folded, 3
        ).collect()
    ]
    assert _nkey(retarget) == _nkey(batch_card(seen, 3))

    # identity guards: a different salt or geometry over the counted
    # state is refused (the counts correspond to no single config)
    with _pytest.raises(ValueError):
        start(salt="other-salt")
    with _pytest.raises(ValueError):
        start(centroids=[[0.5, 0.5, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]])
