"""Empirical scaling probe: how do the heavy llmdata operators behave
as the corpus GROWS, not just at one fixture size?

Replicates the sf0.1 documents table R times (R in 1, 4, 16 by
default). Each replica's tokens are salted with a replica tag so the
replicas are textually DISJOINT — exact copies would make every doc a
near-dup of its R-1 clones and the pair count quadratic in R by
construction, corrupting the measurement. With disjoint replicas a
scale-correct banded operator should grow ~linearly in R; quadratic
growth would expose an all-pairs shape the plan audits missed.

Usage: python tools/scaling_probe.py [sf_dir]
Prints one JSON line per (operator, R) plus a growth summary:
t(16x)/t(4x) near 4 = linear, near 16 = quadratic.

This is a measurement tool, not a test — timing thresholds flake in
CI; the committed evidence lives in COVERAGE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import timed_run  # noqa: E402



def _panel(e):
    return F.pmod(e["vec_id"], F.lit(200)) == 0


def _stats_conc(d):
    from etl_staging_spark.llmdata import stats as _st

    return _st.source_concentration_card(d)


def _decontam_rate(d):
    from pyspark.sql import functions as _F

    from etl_staging_spark.llmdata import decontam as _dc

    bench = d.where(_F.col("doc_id") % 20 == 0)
    corpus = d.where(_F.col("doc_id") % 20 != 0)
    return _dc.decontam_rate_by_source(corpus, bench)


def _jsonl_split(d):
    """Probe twin of the `jsonl_corrupt_split` registry entry: write
    the (replicated) docs as a JSONL shard with the same deterministic
    pmod-97 corrupt mangling, read it back through the declared-schema
    PERMISSIVE channel, validate-split, summarize per (status, source).
    Write + read + split are all inside the timed call — every stage is
    row-linear, so the growth factor checks the whole source path. The
    read is localCheckpoint-ed (not cached) so repeated timed calls
    never serve a prior call's cache entry for the rewritten shard."""
    import os
    import tempfile

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from etl_staging_spark.etl.jsonl_io import read_jsonl, validate_documents

    spark = d.sparkSession
    payload = F.to_json(F.struct("doc_id", "text", "source"))
    line = F.when(
        F.pmod("doc_id", F.lit(97)) == 0,
        F.concat(F.lit("{corrupt "), payload),
    ).otherwise(payload)
    shard = os.path.join(
        tempfile.gettempdir(), f"spark_graft_probe_jsonl_p{os.getpid()}"
    )
    d.select(line.alias("line")).write.mode("overwrite").text(shard)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ])
    raw = read_jsonl(spark, shard, schema).localCheckpoint(eager=True)
    valid, rejected = validate_documents(raw)

    def summarize(df, status_col):
        return df.groupBy(status_col.alias("status"), "source").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )

    return summarize(valid, F.lit("valid")).unionByName(
        summarize(rejected, F.col("reject_reason"))
    )


def replicated(spark, sf_dir: str, r: int):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for k in range(r):
        salted = base.select(
            (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
            F.expr(
                f"array_join(transform(split(text, ' '), t -> concat('r{k}', t)), ' ')"
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        parts.append(salted)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def replicated_embeddings(spark, sf_dir: str, r: int):
    """Replicate embeddings with offset ids, salted: replica k rotates
    every vector's elements by k positions — same norms and element
    distribution, but not a near-dup of its original, so the pair
    operators (dup discovery) grow with R instead of gaining R-1 exact
    clones per vector. The deterministic first-K centroid choice keeps
    reading replica 0's vectors."""
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = base.agg(F.max("vec_id")).collect()[0][0] + 1
    parts = [
        base.select(
            (F.col("vec_id") + F.lit(k * n)).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, {k + 1}, size(embedding) - {k}),"
                f" slice(embedding, 1, {k}))"
            ).alias("embedding") if k else F.col("embedding"),
            "label",
        )
        for k in range(r)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism, "vec_id")


def replicated_events(spark, sf_dir: str, r: int):
    """Replicate events with offset ids — the volume card groups on the
    bounded event_type key, so exact copies model pure volume growth."""
    base = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = base.agg(F.max("event_id")).collect()[0][0] + 1
    parts = [
        base.withColumn("event_id", F.col("event_id") + F.lit(k * n))
        for k in range(r)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism, "event_id")


def replicated_lineitem(spark, sf_dir: str, r: int):
    """Replicate lineitem with SALTED keys: key cardinality grows
    linearly with r, per-key group size stays constant — modelling a
    ledger that gains accounts/products, the realistic growth mode."""
    base = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    maxes = base.agg(
        F.max("l_orderkey"), F.max("l_partkey"), F.max("l_suppkey")
    ).collect()[0]
    mo, mp, ms = (int(v) + 1 for v in maxes)
    parts = []
    for k in range(r):
        parts.append(
            base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * mo))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(k * mp))
            .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(k * ms))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    )


def ledger_ops():
    from pyspark.sql import Window

    def agg_shape(li):  # a1/TPC-H-Q1 shape: decimal sums per flag pair
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_quantity").cast("decimal(30,2)")).cast("double"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            ).cast("double"),
            F.count("*"),
        )

    def running_balance(li):  # w2 shape: per-account cumulative sum
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return li.select(
            "l_partkey",
            F.sum(F.col("l_quantity").cast("decimal(30,2)"))
            .over(w)
            .cast("double")
            .alias("run"),
        )

    def serial_rebuild(li):  # m4 shape: two-level identity aggregation
        lvl1 = li.groupBy(
            "l_partkey", "l_suppkey", (F.col("l_linenumber") % 3).alias("loc")
        ).agg(
            F.sum(F.col("l_quantity").cast("decimal(30,3)")).alias("q"),
            F.max("l_shipdate").alias("last"),
        )
        return lvl1.groupBy("l_partkey").agg(
            F.sum("q").cast("double"), F.count("*"), F.max("last")
        )

    return {
        "ledger_agg": agg_shape,
        "running_balance": running_balance,
        "serial_rebuild": serial_rebuild,
    }


def run_probe(
    spark,
    sf_dir: str,
    replicas: tuple[int, ...] = (1, 4, 16),
    quiet: bool = False,
    only: set[str] | None = None,
) -> dict:
    """The probe body, callable from the CLI or the opt-in pytest
    marker (tests/test_scaling.py): returns {op: {r: sec}} so callers
    can assert growth bounds instead of eyeballing stdout. ``only``
    scopes the sweep to the named ops (incremental re-measure after a
    round adds cards — the committed evidence for the rest stands)."""
    from etl_staging_spark.llmdata import (
        dedup, lexsearch, linedup, lm, multimodal, sampling, stats,
        textclean, textstats, vocab,
    )
    from etl_staging_spark.queries.catalog_llm import _BPE_FIXED_MERGES

    ops = {
        "dedup_minhash_lsh": lambda d: dedup.minhash_lsh_pairs(d, threshold=0.8),
        "dedup_exact": lambda d: dedup.exact_dup_groups(d),
        "bpe_encode": lambda d: vocab.bpe_encode_report(d, _BPE_FIXED_MERGES),
        "bm25_topk": lambda d: lexsearch.bm25_topk(
            d, ["r0spark", "r0hash", "r0window"], k=50
        ),
        "quality_scores": lambda d: textstats.quality_scores(d),
        "repetition_stats": lambda d: textstats.repetition_stats(d),
        "segment_dedup": lambda d: linedup.segment_dedup(d),
        "lm_bigram_score": lambda d: lm.lm_bigram_score(d),
        "clean_report": lambda d: textclean.clean_report(d),
        "domain_token_budget": lambda d: sampling.domain_token_budget(d, 800),
        # r11 registrations + the byte-feature Arrow kernel: all three
        # should grow ~linearly (two-phase aggregates / one mapInPandas
        # pass — no joins, no candidate blowup)
        "ngram_freq_spectrum": lambda d: stats.ngram_freq_spectrum(d, n=2),
        "dup_rate_by_source": lambda d: stats.dup_rate_by_source(d),
        "feature_table": lambda d: multimodal.feature_table(d, dim=64),
        # r12 queue cards (r13/r14 registrations): single-aggregate
        # shapes with bounded share windows / a broadcast k-row join —
        # all should grow ~linearly
        "length_histogram_card": lambda d: stats.length_histogram_card(d),
        "ttr_card": lambda d: stats.ttr_card(d),
        "lang_source_matrix": lambda d: stats.lang_source_matrix(d),
        "lang_confusion_card": lambda d: stats.lang_confusion_card(d),
        "vocab_coverage_by_source": lambda d: vocab.vocab_coverage_by_source(
            d, k=100
        ),
        # r13 queue cards (r14 registrations): one row-local projection
        # -> one (or two digest-keyed) map-side-combinable aggregates —
        # all should grow ~linearly
        "pii_rate_by_source": lambda d: stats.pii_rate_by_source(d),
        "dup_token_rate_by_source": lambda d: stats.dup_token_rate_by_source(d),
        "charclass_profile_card": lambda d: stats.charclass_profile_card(d),
        # r13-built r15 queue: the spectrum rides the bounded exact-
        # jaccard index join; the sentence card is one projection + agg
        "dup_similarity_histogram": lambda d: stats.dup_similarity_histogram(d),
        "sentence_stats_card": lambda d: stats.sentence_stats_card(d),
        # r13-built r15 wave 2: single-aggregate shapes (fertility,
        # joint card), a digest-keyed pre-aggregated join (dup-span
        # coverage), and a vocabulary-bounded inverted-index self-join
        # (cosine matrix) — all should grow ~linearly
        "token_fertility_by_lang": lambda d: stats.token_fertility_by_lang(d),
        "length_quality_joint_card": lambda d: stats.length_quality_joint_card(d),
        "dup_ngram_coverage": lambda d: stats.dup_ngram_coverage(d),
        "source_vocab_cosine_matrix": lambda d: stats.source_vocab_cosine_matrix(d),
        "truncation_loss_card": lambda d: stats.truncation_loss_card(d, 64),
        "source_signature_terms": lambda d: stats.source_signature_terms(d),
        "mm_usability_card": lambda d: multimodal.usability_card(
            multimodal.feature_table(d, dim=16)
        ),
        # r14 new builds: one (source) aggregate + bounded reduce
        # (concentration), a per-(doc, gram) pre-aggregate + top-k cut
        # (boilerplate), and the certified decontam ladder + bounded
        # rollup (rate card) — all should grow ~linearly
        "source_concentration_card": lambda d: _stats_conc(d),
        "boilerplate_ngrams_topk": lambda d: stats.boilerplate_ngrams_topk(d),
        "decontam_rate_by_source": lambda d: _decontam_rate(d),
    }
    # r14-late registrations (r14 verdict item 3): the four cards that
    # shipped after the r13-close probe ran. quality_by_lang is two
    # row-local projections + one bounded-key aggregate; the drift card
    # is one bounded (source) aggregate per side + a bounded full join;
    # the matrix's eval side is REPLICA-0 ONLY (doc_id <= base_max) so
    # the probe models the claimed shape — bounded eval suites against
    # a growing corpus — instead of growing both sides; the JSONL split
    # times the whole source path (write + declared-schema PERMISSIVE
    # read + validate split + summary), every stage row-linear.
    base_max = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.max("doc_id")).collect()[0][0]
    )

    def _decontam_matrix_op(d):
        from etl_staging_spark.llmdata import decontam as _dc

        m40 = F.pmod("doc_id", F.lit(40))
        bench = d.where(
            (F.col("doc_id") <= base_max) & ((m40 == 0) | (m40 == 20))
        ).withColumn(
            "eval_set",
            F.when(m40 == 0, F.lit("holdout_a")).otherwise(F.lit("holdout_b")),
        )
        corpus = d.where(
            (F.col("doc_id") > base_max) | ((m40 != 0) & (m40 != 20))
        )
        return _dc.decontam_matrix(corpus, bench, n=5, min_hits=1)

    ops.update({
        "quality_by_lang": lambda d: stats.quality_by_lang(d, 0.5),
        "snapshot_drift_card": lambda d: stats.snapshot_drift_card(
            d.where(F.pmod("doc_id", F.lit(2)) == 0),
            d.where(F.pmod("doc_id", F.lit(2)) == 1),
        ),
        "decontam_matrix": _decontam_matrix_op,
        "jsonl_corrupt_split": _jsonl_split,
    })
    from etl_staging_spark.llmdata import simsearch

    eops = {
        # per-row broadcast-literal assignment + bounded aggregates —
        # should grow ~linearly in the vector count
        "cluster_profile": lambda e: simsearch.cluster_profile(e),
        # ONE posexplode -> bounded-dim aggregate: ~linear
        "embedding_dim_stats": lambda e: simsearch.embedding_dim_stats(e),
        # r15: two assignment scans (counts pass + threshold pass) vs
        # broadcast centroid literals + a bounded collect — ~linear,
        # constant-dominated at fixture sizes like cluster_profile
        "cluster_balanced_sample": lambda e: simsearch.cluster_balanced_sample(
            e, target_total=150
        ),
        # r16: one assignment scan + per-source mean (docs side derived
        # from the replicated vectors so both sides grow together) +
        # threshold pass — ~linear; split_by_cluster /
        # dedup_canonicals_by_score are compositions of probed
        # primitives (pair discovery dominates; CC rounds are O(log n)
        # bounded-shuffle; the election/stamp passes are row-linear)
        "cluster_share_mixture": lambda e: simsearch.cluster_share_mixture(
            e.select(
                F.col("vec_id").alias("doc_id"),
                F.concat(
                    F.lit("src"), F.pmod("vec_id", F.lit(20)).cast("string")
                ).alias("source"),
            ),
            e,
            target_total=150,
        ),
        # r16 late: m literal-codebook folds in ONE projection -> a
        # map-side-combinable aggregate onto m x K keys + a window over
        # that bounded frame — ~linear, no join, no per-row Python
        "pq_code_balance": lambda e: simsearch.pq_code_balance(e),
        # r16 late: narrow-checkpoint encode + per-query literal-LUT
        # lookups fanned by explode + the salted two-phase top-k —
        # ~linear in candidates (the LUT is O(1) per query)
        "pq_adc_topk": lambda e: simsearch.pq_adc_topk(e),
        # r16 late: the routed composition — same encode/LUT shapes
        # with the 1-probe cell filter ahead of scoring; candidate
        # work should track n_probe/n_centroids of the corpus
        "pq_ivf_topk": lambda e: simsearch.pq_ivf_topk(e),
        # the argmax/sign kernels' other consumers, at their catalog
        # parameters: IVF ANN (corpus assignment + bounded query probe)
        # and IVF-cell / sign-LSH near-dup discovery + exact verify.
        # Pair discovery on a fixed bucket count is quadratic by
        # design, so the dup ops pair a bounded d1 panel (every 200th
        # id) against the corpus: the corpus-wide kernel pass is timed
        # in full and the pair work stays ~linear in the vector count
        "ivf_topk": lambda e: simsearch.ivf_topk(
            e, F.col("vec_id") < 10, dim=64, k=5
        ),
        "semantic_dup_pairs": lambda e: simsearch.semantic_dup_pairs(
            e, threshold=0.45, dim=64, d1_pred=_panel(e)
        ),
        "cosine_dup_pairs": lambda e: simsearch.cosine_dup_pairs(
            e, threshold=0.45, dim=64, bands=2, d1_pred=_panel(e)
        ),
        "mt_dup_pairs": lambda e: simsearch.mt_dup_pairs(
            e, threshold=0.45, dim=64, d1_pred=_panel(e)
        ),
    }
    from etl_staging_spark.operators import events as _ev

    vops = {
        # one bounded-key aggregate over offset-replicated events
        "events_volume_card": lambda v: _ev.volume_card(v),
        # one user-partitioned lag window + bounded aggregate: ~linear
        "events_interarrival_card": lambda v: _ev.interarrival_card(v),
    }
    lops = ledger_ops()
    if only is not None:
        unknown = only - {*ops, *eops, *vops, *lops}
        if unknown:
            raise ValueError(f"unknown probe ops: {sorted(unknown)}")
        ops = {k: v for k, v in ops.items() if k in only}
        eops = {k: v for k, v in eops.items() if k in only}
        vops = {k: v for k, v in vops.items() if k in only}
        lops = {k: v for k, v in lops.items() if k in only}
    results: dict[str, dict[int, float]] = {
        o: {} for o in (*ops, *eops, *vops, *lops)
    }
    def _time_leg(frame, fns, r, count_key, quiet):
        n = frame.count()  # also materializes the cache
        for name, fn in fns.items():
            # warm the shape once, then best-of-2
            runs = [sum(timed_run(lambda: fn(frame))) for _ in range(3)]
            results[name][r] = round(min(runs[1:]), 3)
            if not quiet:
                print(json.dumps({"op": name, "replicas": r, count_key: n,
                                  "sec": results[name][r]}), flush=True)

    def _settle():
        # settle between legs: at 16x the documents leg leaves heap /
        # page-cache pressure that inflated the lineitem leg 3-5x in
        # the r11 combined run (isolated re-measures were 1.4-1.8x per
        # 4x step) — drop every cache and let the JVM reclaim before
        # the next leg is timed
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    for r in replicas:
        if ops:
            docs = replicated(spark, sf_dir, r).persist()
            _time_leg(docs, ops, r, "n_docs", quiet)
            docs.unpersist()
            _settle()
        if eops:
            emb = replicated_embeddings(spark, sf_dir, r).persist()
            _time_leg(emb, eops, r, "n_vecs", quiet)
            emb.unpersist()
            _settle()
        if vops:
            evd = replicated_events(spark, sf_dir, r).persist()
            _time_leg(evd, vops, r, "n_rows", quiet)
            evd.unpersist()
            _settle()
        if lops:
            li = replicated_lineitem(spark, sf_dir, r).persist()
            _time_leg(li, lops, r, "n_rows", quiet)
            li.unpersist()
            # symmetric settle: the NEXT replica's documents leg must
            # not inherit this lineitem leg's pressure either
            _settle()
    return results


def main() -> None:
    from etl_staging_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--only")]
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_spark("scaling-probe")
    results = run_probe(spark, sf_dir, replicas=(1, 4, 16), only=only)
    summary = {
        name: {
            "t1": ts[1], "t4": ts[4], "t16": ts[16],
            "growth_4x_to_16x": round(ts[16] / ts[4], 2) if ts[4] else None,
        }
        for name, ts in results.items()
    }
    print(json.dumps({"summary": summary,
                      "note": "growth ~4 = linear in corpus size, ~16 = quadratic"}))


if __name__ == "__main__":
    main()
