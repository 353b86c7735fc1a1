"""Physical-plan audits: the scale properties the README claims, locked
in CI. Each assertion inspects `.explain` output of a catalog query at
sf0.001 — cheap for lazily-built plans (most entries plan without
executing; a few driver-side fixpoint entries such as es_report /
e6_cross_report / e4_carryover do run their bounded aggregates while
building the DataFrame) and independent of data volume, so a regression
that would only hurt at 100 TB (lost pushdown, a single-partition
exchange, a Python row UDF sneaking into a hot path) fails here
first."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def plan_of(spark, queries, name: str, mode: str = "formatted") -> str:
    df = queries[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_reaches_parquet(spark, queries):
    p = plan_of(spark, queries, "s1_scan_domain_filter")
    assert "PushedFilters: [" in p
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in p


def test_star_join_broadcasts_dims(spark, queries):
    p = plan_of(spark, queries, "j1_star_join_revenue")
    assert "BroadcastHashJoin" in p


def test_no_single_partition_exchanges(spark, queries):
    """The round-1 scale-killers stay dead: running balances, global
    ranks and pagination never collapse to one partition."""
    for name in ("w2_running_balance", "o1_multikey_sort", "o2_pagination"):
        p = plan_of(spark, queries, name)
        assert "Exchange SinglePartition" not in p, name


def test_no_cartesian_products_anywhere_heavy(spark, queries):
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "sim_ann_lsh",
        "sim_ann_ivf",
        "dedup_embed_cosine",
        "dedup_simhash_pairs",
    ):
        p = plan_of(spark, queries, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_no_python_row_udfs_in_hot_paths(spark, queries):
    """BatchEvalPython = row-at-a-time Python. The only sanctioned
    Python in a plan is Arrow-batched (MapInPandas / ArrowEvalPython)."""
    for name in (
        "text_quality_score",
        "lang_id_ngram",
        "dedup_minhash_lsh",
        "gl_report",
        "aged_report",
        "es_report",
        "hier_rollup",
    ):
        p = plan_of(spark, queries, name)
        assert "BatchEvalPython" not in p, name


def test_no_forced_broadcast_of_candidate_pairs(spark, queries):
    """The dedup verify joins must not HINT-broadcast the candidate-pair
    frames: pairs are bucket-bounded but still O(corpus) worst-case, so a
    forced broadcast OOMs the driver at 100 TB. The *logical* plan is the
    right place to assert this — at tiny SF the static planner may
    legitimately auto-broadcast from file stats, but a user hint shows up
    as `strategy=broadcast` in the optimized logical plan regardless of
    stats."""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard",
                 "dedup_simhash_pairs", "dedup_embed_cosine"):
        p = plan_of(spark, queries, name, mode="extended")
        assert "strategy=broadcast" not in p, name


def test_multimodal_is_arrow_batched(spark, queries):
    p = plan_of(spark, queries, "mm_decode_meta", mode="simple")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_decontam_and_pii_plans(spark, queries):
    """decontaminate_ngram: no cartesian anywhere and no Python; the
    benchmark side reduces before the join. pii_mask_regex: the whole
    scrub stays in whole-stage codegen (no Python evaluator at all)."""
    p = plan_of(spark, queries, "decontaminate_ngram")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    p = plan_of(spark, queries, "pii_mask_regex", mode="simple")
    assert "BatchEvalPython" not in p
    assert "*(1) Project" in p  # the scrub projection is codegen'd


def test_events_attribution_plan(spark, queries):
    """events_attribution: the time-range join must stay a user-keyed
    EQUI join with the bounded time predicate as a post-condition —
    a cartesian/nested-loop shape here explodes at any real event
    volume. No window either: first-touch is a min(struct) aggregate."""
    p = plan_of(spark, queries, "events_attribution")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "Window" not in p


def test_training_set_pack_no_global_sort(spark, queries):
    """training_set_pack: training order comes from per-shard windows
    and packing from per-shard folds — a range exchange (global sort)
    anywhere means the composition regressed to ordering the corpus."""
    p = plan_of(spark, queries, "training_set_pack")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_decontaminate_fuzzy_plan(spark, queries):
    """decontaminate_fuzzy: candidate discovery must be an equi hash
    join of corpus bands against the BROADCAST eval bands (an eval
    suite is bounded by definition) — never all-pairs, never a
    cartesian, no Python anywhere."""
    p = plan_of(spark, queries, "decontaminate_fuzzy")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p  # the eval-side band join


def test_cluster_cc_no_cartesian_and_bounded_plan(spark, queries):
    """dedup_cluster_cc resolves its components while building, returning
    a plan rooted at materialized rows: no cartesian, no Python, and the
    plan must stay shallow rather than embedding the shingle pipeline.
    At this scale the edge list is under ``LOCAL_CC_MAX_EDGES``, so the
    driver's union-find labels root the plan as a local relation (past
    it, the checkpointed edge list of the star rounds does)."""
    p = plan_of(spark, queries, "dedup_cluster_cc")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "LocalTableScan" in p  # rooted at the driver's labels, not re-derived
    assert "parquet" not in p.lower()


def test_column_groups_fused_to_two_scans(spark, queries):
    """gl_sums evaluates ALL column groups as per-group conditional
    aggregates over TWO scans (one per sums block) — NOT a filtered
    scan per (group x block). hg_column_groups has 6 groups; before
    fusion its plan held 12 lineitem scans, a scale-killer at high
    group counts."""
    for name in ("hg_column_groups", "gl_report"):
        p = plan_of(spark, queries, name)
        fact_scans = sum(
            "lineitem.parquet" in line
            for line in p.splitlines()
            if "Location" in line
        )
        assert fact_scans <= 2, f"{name}: {fact_scans} lineitem scans"


def test_respread_plain_arm_drops_exactly_the_spread_exchanges(spark, queries):
    """tools/ab_respread.py's plain arm (`tables.respread_narrow`
    swapped for identity) must remove the respread from exactly the
    call-time spread site (a1_hash_agg) and leave the ledger fact alone
    — and the restore must bring it back, or the tool times one plan in
    both arms. Counts Repartition nodes of the optimized plan, not plan
    text: the text carries expression ids. The resident fact's
    optimized plan is an InMemoryRelation, so it is counted on the
    pre-cache (analyzed) plan."""
    from etl_staging_spark.engines.ledger import move_lines
    from tools.ab_respread import set_spread

    def reparts() -> dict[str, int]:
        counts = {
            n: queries[n](spark, SF_DIR)._jdf.queryExecution()
            .optimizedPlan().toString().count("Repartition")
            for n in ("a1_hash_agg", "gl_report")
        }
        counts["move_lines"] = (
            move_lines(spark, SF_DIR)._jdf.queryExecution()
            .analyzed().toString().count("Repartition")
        )
        return counts

    spread = reparts()
    try:
        set_spread(spark, False)
        plain = reparts()
    finally:
        set_spread(spark, True)
    assert spread == {"a1_hash_agg": 1, "move_lines": 0, "gl_report": 0}
    assert plain == dict.fromkeys(spread, 0)
    assert reparts() == spread


def test_respread_plain_arm_reaches_every_module_binding(queries):
    """The plain arm swaps every binding of the real respread, not only
    `tables.respread_narrow`: `simsearch`, `catalog_llm` and
    `catalog_misc` bind it at import, so a swap of the tables
    attribute alone would leave their call sites spread in both arms."""
    import sys

    from tools.ab_respread import _RESPREAD, set_spread

    def bindings() -> list[str]:
        return [
            f"{name}.{attr}"
            for name, mod in list(sys.modules.items())
            if mod is not None and name.split(".")[0] == "etl_staging_spark"
            for attr, val in vars(mod).items()
            if val is _RESPREAD
        ]

    real = bindings()
    assert {"etl_staging_spark.tables.respread_narrow",
            "etl_staging_spark.llmdata.simsearch._respread_narrow",
            "etl_staging_spark.queries.catalog_llm.respread_narrow",
            "etl_staging_spark.queries.catalog_misc.respread_narrow",
            } <= set(real)
    try:
        set_spread(None, False)
        assert bindings() == []
    finally:
        set_spread(None, True)
    assert bindings() == real


def test_child_of_in_list_pushes_down(spark, queries):
    """The expanded child_of subtree is a literal IN that reaches the
    parquet scans — the hierarchy dim is never joined for the filter."""
    p = plan_of(spark, queries, "f7_child_of")
    assert "In(c_nationkey" in p
    assert "CartesianProduct" not in p


def test_training_assembly_plans(spark, queries):
    """split/mixture are single-scan projections (no join, no Python);
    sequence packing windows per shard — never a single-partition
    exchange."""
    for name in ("split_hash_deterministic", "mixture_weighted_sample"):
        p = plan_of(spark, queries, name)
        assert "Join" not in p, name
        assert "BatchEvalPython" not in p, name
    p = plan_of(spark, queries, "seq_pack_chunks")
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_stock_ageing_single_fact_scan(spark, queries):
    """The assembled stock-ageing register derives netting, birth dates
    and product costs from ONE serial-grain aggregate of lineitem — the
    naive composition rescans the fact three times."""
    p = plan_of(spark, queries, "sa_stock_ageing")
    fact_scans = sum(
        "lineitem.parquet" in line
        for line in p.splitlines()
        if "Location" in line
    )
    assert fact_scans <= 1, f"{fact_scans} lineitem scans"
    assert "CartesianProduct" not in p


def test_production_planning_broadcasts_dims(spark, queries):
    p = plan_of(spark, queries, "pp_production_planning")
    assert "BroadcastHashJoin" in p
    assert "Exchange SinglePartition" not in p


def test_corpus_assembly_composition_plan(spark, queries):
    """The composed assembly pipeline stays doc-keyed end to end: no
    cartesian products, no Python, no single-partition exchange."""
    p = plan_of(spark, queries, "corpus_assembly")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Exchange SinglePartition" not in p


def test_bm25_topk_heap_not_global_sort(spark, queries):
    """BM25's global top-k is TakeOrderedAndProject (per-partition
    heaps merged on the driver), never a full sort; the corpus-stats
    side is a 1-row broadcast (the only sanctioned nested-loop join);
    no exploded inverted index for a bounded query (no Generate)."""
    p = plan_of(spark, queries, "search_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "Generate" not in p
    assert "BatchEvalPython" not in p


def test_domain_cap_windows_by_domain(spark, queries):
    """The per-domain rank never collapses to one partition: the window
    exchange hash-partitions on the domain key."""
    p = plan_of(spark, queries, "domain_quality_cap")
    assert "Exchange SinglePartition" not in p
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_boilerplate_flag_no_allpairs(spark, queries):
    """Boilerplate df-thresholding is aggregate-shaped: one corpus
    explosion, keyed joins only."""
    p = plan_of(spark, queries, "boilerplate_flag")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_semantic_dedup_cell_equijoin(spark, queries):
    """SemDeDup's candidate generation is an equi-join on the cell key
    (never all-pairs), and the centroid assignment is broadcast
    literals — no join, no Python."""
    p = plan_of(spark, queries, "dedup_semantic_ivf")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_epoch_upsample_pure_generator(spark, queries):
    """Upsampling is a projection + JVM generator over the scan: no
    join, no shuffle, no Python."""
    p = plan_of(spark, queries, "mixture_epoch_upsample")
    assert "Generate" in p            # explode(sequence(...))
    assert "Exchange" not in p        # no shuffle at all
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_shard_order_windows_by_shard(spark, queries):
    """Shard position never collapses to one partition: the window
    exchange hash-partitions on the shard id."""
    p = plan_of(spark, queries, "shard_training_order")
    assert "Exchange SinglePartition" not in p
    assert "Window" in p
    assert "Join" not in p


def test_corpus_assembly_full_composition_plan(spark, queries):
    """The complete assembly pipeline (gates + cap + split + shard)
    stays doc-keyed: no cartesian, no Python, no single-partition
    exchange (both windows partition on bounded keys)."""
    p = plan_of(spark, queries, "corpus_assembly_full")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Exchange SinglePartition" not in p


def test_segment_dedup_single_scan_and_broadcast_hot_dim(spark, queries):
    """dedup_segments: the exploded segment index is persisted so the
    corpus parquet is scanned once (both consumers read the
    InMemoryRelation), the hot-segment dim (bounded by the df cutoff)
    comes back via broadcast, and re-assembly is ONE exchange on doc_id
    — no window, no Python."""
    p = plan_of(spark, queries, "dedup_segments")
    # formatted mode reprints the cached subtree at every InMemoryTableScan;
    # distinct node ids count real scans
    assert len(set(re.findall(r"\(\d+\) Scan parquet", p))) <= 1
    assert "InMemoryRelation" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_lm_bigram_no_window_no_python(spark, queries):
    """text_lm_bigram: bigram events come from array transforms (no
    per-doc window), the corpus is scanned once into the persisted
    token base, and scoring is joins + one aggregate — no Python."""
    p = plan_of(spark, queries, "text_lm_bigram")
    assert len(set(re.findall(r"\(\d+\) Scan parquet", p))) <= 1
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_shard_manifest_single_scan_no_window(spark, queries):
    """shard_manifest: one projection (shard, tokens, content hash)
    over one scan, one map-combinable aggregate — no join, no window."""
    p = plan_of(spark, queries, "shard_manifest")
    assert len(set(re.findall(r"\(\d+\) Scan parquet", p))) == 1
    assert "Window" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_stratified_sample_window_is_stratum_partitioned(spark, queries):
    """stratified_sample_n: the rank window partitions BY STRATUM —
    never a single-partition global sort."""
    p = plan_of(spark, queries, "stratified_sample_n")
    assert "Window" in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_hybrid_rrf_rankers_keep_their_shapes(spark, queries):
    """search_hybrid_rrf: the BM25 side still ranks via per-partition
    heaps (TakeOrderedAndProject), no cartesian sneaks in through the
    fusion join, and no Python anywhere."""
    p = plan_of(spark, queries, "search_hybrid_rrf")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_events_analytics_plans(spark, queries):
    """events_sessionize: both windows and the session aggregate share
    ONE user_id partitioning (exactly one exchange), no single-partition
    window. events_cohort_retention: windowless. events_funnel: no
    cartesian, user-keyed joins only."""
    p = plan_of(spark, queries, "events_sessionize")
    assert p.count("Exchange hashpartitioning(user_id") <= 1
    assert "Exchange SinglePartition" not in p
    p = plan_of(spark, queries, "events_cohort_retention")
    assert "Window" not in p
    p = plan_of(spark, queries, "events_funnel")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_r6b_entry_plans(spark, queries):
    """contrastive_pairs: LSH discovery side keeps its no-forced-
    broadcast property (logical plan) and no cartesian appears through
    the union. mixture_temperature: single-scan filter, no join on the
    Spark side. corpus_source_profile / events_anomaly_zscore /
    chunk_overlap: no Python, no single-partition exchange (windows are
    source-/type-/bucket-partitioned; chunking has no window at all)."""
    p = plan_of(spark, queries, "contrastive_pairs", mode="extended")
    assert "strategy=broadcast" not in p
    p = plan_of(spark, queries, "contrastive_pairs")
    assert "CartesianProduct" not in p
    p = plan_of(spark, queries, "mixture_temperature")
    assert "Join" not in p and "BatchEvalPython" not in p
    for name in ("corpus_source_profile", "events_anomaly_zscore", "chunk_overlap"):
        p = plan_of(spark, queries, name)
        assert "Exchange SinglePartition" not in p, name
        assert "BatchEvalPython" not in p, name
    assert "Window" not in plan_of(spark, queries, "chunk_overlap")


def test_semantic_recall_card_plan(spark, queries):
    """The recall card's exact leg broadcasts the SKINNY panel ids (a
    sanctioned bounded nested loop, same shape as the exact ANN
    baseline); everything else is keyed equi-joins — no cartesian, no
    Python, and the verify stages never collapse to one partition."""
    p = plan_of(spark, queries, "dedup_semantic_recall")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_bpe_encode_fixed_merges_jvm_only(spark, queries):
    """The pinned-tokenizer encode is ten chained JVM array folds over
    the distinct-word table: no Python anywhere, no cartesian, and the
    per-doc rollup is a keyed join."""
    p = plan_of(spark, queries, "bpe_encode_compression")
    assert "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert "CartesianProduct" not in p


def test_dedup_bytes_chain_plan(spark):
    """The multimodal byte rung's discovery chain (feature_table ->
    usable_features -> mt_dup_pairs, the plan dedup_bytes drives):
    Python appears only as the Arrow-batched kernels (feature
    extraction + sign-LSH keying), never row-at-a-time; candidate
    discovery is bucket equi-joins — no cartesian, no nested loop."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata import multimodal, simsearch
    from etl_staging_spark.tables import release_pinned

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    feats = multimodal.usable_features(
        multimodal.feature_table(docs, dim=16)
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    out = simsearch.mt_dup_pairs(feats, threshold=0.999, dim=16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    release_pinned(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "MapInPandas" in p        # the byte-feature kernel
    assert "ArrowEvalPython" in p    # the sign-LSH key kernel


def test_semantic_contamination_plan(spark):
    """semantic_contamination (registered r11 as
    `decontaminate_semantic`): candidate
    discovery joins the corpus LSH keys against the BROADCAST eval
    keys (an eval suite is bounded by definition) — no all-pairs, no
    cartesian; Python appears only as the Arrow-batched sign-LSH key
    kernel, never row-at-a-time."""
    from pyspark.sql import functions as F

    from etl_staging_spark.llmdata.decontam import semantic_contamination

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    out = semantic_contamination(
        emb.where(F.col("vec_id") % 41 != 0),
        emb.where(F.col("vec_id") % 41 == 0),
        threshold=0.35,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" in p    # the sign-LSH key kernel
    assert "BroadcastHashJoin" in p  # the eval-side key join


def test_domain_token_budget_windows_by_domain(spark):
    """domain_token_budget (registered r12): the running
    token total hash-partitions on the domain key — never a global
    sort, never one partition — and the whole pass is one scan plus
    the window (no join, no Python)."""
    from etl_staging_spark.llmdata.sampling import domain_token_budget

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = domain_token_budget(docs, 800)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "Exchange SinglePartition" not in p
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_embedding_stats_card_one_aggregate_jvm_only(spark):
    """embedding_stats_card (registered r10): the whole card
    is ONE map-side-combinable aggregate over a single scan — the
    exact-decimal norm fold stays a JVM expression (no Python worker),
    and there is no window, no join, and no per-row blowup."""
    from etl_staging_spark.llmdata.stats import embedding_stats_card

    embs = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    out = embedding_stats_card(embs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") == 2  # partial + final, one shuffle


def test_ngram_freq_spectrum_two_aggregates_jvm_only(spark):
    """ngram_freq_spectrum (registered r11): explode -> per-gram count
    -> count-keyed rollup — exactly two shuffling aggregates, no join,
    no window, no Python; the gram count is the only wide shuffle."""
    from etl_staging_spark.llmdata.stats import ngram_freq_spectrum

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = ngram_freq_spectrum(docs, n=2)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Exchange") == 2  # gram count + freq rollup


def test_dup_rate_by_source_single_aggregate_digest_shuffle(spark):
    """dup_rate_by_source (registered r11): ONE count-distinct
    aggregate expanding to the standard partial/final plan — no join,
    no window, no Python — and the distinct key in the shuffle is the
    sha2 digest, never the document body."""
    from etl_staging_spark.llmdata.stats import dup_rate_by_source

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = dup_rate_by_source(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert "sha2" in p
    assert "text#" not in p.split("Exchange", 1)[1].split("\n")[0]


def test_token_drift_card_heap_cut_and_broadcast_totals(spark):
    """token_drift_card (registered r12): the top-n cut is a
    TakeOrdered heap (no global sort), the grand totals attach via the
    sanctioned 1-ROW broadcast nested loop (the BM25/stats
    scalar-frame pattern), and the token count is the only wide
    shuffle."""
    from etl_staging_spark.llmdata.stats import token_drift_card
    from etl_staging_spark.tables import release_pinned

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = token_drift_card(docs, "src0", "src1", top_n=20)
    p = out._jdf.queryExecution().executedPlan().toString()
    release_pinned(out)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row build side by construction
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_source_novelty_card_bounded_set_agg_no_join(spark):
    """source_novelty_card (registered r12): the gram-keyed
    set aggregate is THE shuffle (collect_set bounded by #sources);
    no window, no join, no Python, no cartesian anywhere."""
    from etl_staging_spark.llmdata.stats import source_novelty_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = source_novelty_card(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert "collect_set" in p


def test_length_histogram_card_bounded_window_no_join(spark):
    """length_histogram_card (r13/r14 queue): ONE map-side-combinable
    (source, bucket) hash aggregate over the scan; the share window
    runs over the bounded histogram frame (post-aggregate — exactly
    one Window operator, downstream of HashAggregate); no join, no
    Python, no cartesian."""
    from etl_staging_spark.llmdata.stats import length_histogram_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = length_histogram_card(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Window") == 1
    assert "HashAggregate" in p


def test_ttr_card_two_phase_agg_no_window_no_join(spark):
    """ttr_card (r13/r14 queue): explode -> (source, token) count ->
    per-source rollup, all hash aggregates (map-side combinable); no
    window, no join, no Python, no cartesian."""
    from etl_staging_spark.llmdata.stats import ttr_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = ttr_card(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_lang_source_matrix_no_rejoin_bounded_window(spark):
    """lang_source_matrix (r13/r14 queue): the lang-ID projection
    carries source through (keep= — NO doc_id re-join), one (source,
    lang) hash aggregate, and the share window runs over the bounded
    matrix frame; no join, no Python, no cartesian."""
    from etl_staging_spark.llmdata.stats import lang_source_matrix

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = lang_source_matrix(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Window") == 1
    assert "HashAggregate" in p


def test_vocab_coverage_by_source_broadcast_vocab_no_corpus_rescan(spark):
    """vocab_coverage_by_source (r14 queue): the k-row vocab joins
    back BROADCAST (token keys), the top-k cut is a TakeOrdered heap,
    the (source, token) count is persisted (InMemory reuse — one
    corpus explode, not two), and no Python/cartesian anywhere."""
    from etl_staging_spark.llmdata.vocab import vocab_coverage_by_source
    from etl_staging_spark.tables import release_pinned

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = vocab_coverage_by_source(docs, k=20)
    p = out._jdf.queryExecution().executedPlan().toString()
    release_pinned(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p
    assert "SortMergeJoin" not in p


def test_lang_confusion_card_no_rejoin_bounded_window(spark):
    """lang_confusion_card (r14 queue): same shape as
    lang_source_matrix via the shared _lang_matrix builder — no doc_id
    re-join, one hash aggregate, share window only over the bounded
    matrix frame."""
    from etl_staging_spark.llmdata.stats import lang_confusion_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = lang_confusion_card(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Window") == 1
    assert "HashAggregate" in p


def test_pii_rate_by_source_single_agg_no_python(spark):
    """pii_rate_by_source (r14 queue): three codegen'd regex counts in
    one row-local projection -> ONE map-side-combinable source hash
    aggregate; no join, no window, no Python, no cartesian."""
    from etl_staging_spark.llmdata.stats import pii_rate_by_source

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = pii_rate_by_source(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_dup_token_rate_by_source_two_phase_digest_agg(spark):
    """dup_token_rate_by_source (r14 queue): partial aggregate on
    (source, sha2-digest) — the shuffle carries a 64-char digest plus
    two ints, never the document body — then a source rollup; all hash
    aggregates, no join, no window, no Python."""
    from etl_staging_spark.llmdata.stats import dup_token_rate_by_source

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = dup_token_rate_by_source(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p
    # the post-shuffle side never projects the text column itself
    assert "sha2" in p


def test_charclass_profile_card_single_agg_no_python(spark):
    """charclass_profile_card (r14 queue): one row-local projection
    (two regex removals + one literal replace, all codegen) -> ONE
    map-side-combinable source aggregate; no join, no window, no
    Python, no cartesian."""
    from etl_staging_spark.llmdata.stats import charclass_profile_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = charclass_profile_card(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_sentence_stats_card_single_agg_no_python(spark):
    """sentence_stats_card (r15 queue): one row-local projection
    (split + lambda filter + token count, all JVM) -> ONE
    map-side-combinable source aggregate; no join, no window, no
    Python, no cartesian."""
    from etl_staging_spark.llmdata.stats import sentence_stats_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = sentence_stats_card(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_dup_similarity_histogram_reuses_bounded_pair_plan(spark):
    """dup_similarity_histogram (r15 queue): the spectrum rides THE
    exact-jaccard operator's bounded index join (stop-shingle cutoff
    keeps per-bucket fan-out <= max_df^2) and adds one hash aggregate;
    no cartesian, no Python, no window."""
    from etl_staging_spark.llmdata.stats import dup_similarity_histogram
    from etl_staging_spark.tables import release_pinned

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = dup_similarity_histogram(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    release_pinned(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_token_fertility_by_lang_single_agg_no_python(spark):
    """token_fertility_by_lang (r15 queue): one row-local JVM lang-ID
    + token-count projection -> ONE map-side-combinable aggregate on a
    bounded key; no join, no window, no Python."""
    from etl_staging_spark.llmdata.stats import token_fertility_by_lang

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = token_fertility_by_lang(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_length_quality_joint_card_bounded_no_join(spark):
    """length_quality_joint_card (r15 queue): one projection -> ONE
    aggregate on a bounded (<= 26 x 11) cell key; the share window
    runs over that bounded frame only. No join, no Python."""
    from etl_staging_spark.llmdata.stats import length_quality_joint_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = length_quality_joint_card(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "HashAggregate" in p
    # the only window is the bounded-frame share (post-aggregate)
    assert p.count("Window") <= 1


def test_dup_ngram_coverage_preaggregated_join_no_python(spark):
    """dup_ngram_coverage (r15 queue): the only join is equi on the
    gram hash between two PRE-AGGREGATED frames (per-(doc, h) counts
    and per-h doc counts) — no cartesian, no window, no Python; the
    shuffle key is a 56-bit digest, never the text."""
    from etl_staging_spark.llmdata.stats import dup_ngram_coverage

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = dup_ngram_coverage(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_cluster_profile_broadcast_assignment_no_python(spark):
    """cluster_profile (r15 queue): assignment is one scan against
    broadcast centroid LITERALS (no join on the corpus side); the only
    join is cell-keyed between two bounded aggregated frames; windows
    run over bounded frames. No cartesian, no Python."""
    from etl_staging_spark.llmdata.simsearch import cluster_profile

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    p = cluster_profile(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_source_vocab_cosine_matrix_bounded_joins_no_python(spark):
    """source_vocab_cosine_matrix (r15 queue): one vocabulary-bounded
    (source, token) aggregate, an inverted-index self-join with
    per-token fan-out <= #sources^2, and BROADCAST norm joins; no
    cartesian, no window, no Python."""
    from etl_staging_spark.llmdata.stats import source_vocab_cosine_matrix

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = source_vocab_cosine_matrix(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p


def test_truncation_loss_card_single_agg_no_python(spark):
    """truncation_loss_card (r15 queue): one row-local token-count
    projection -> ONE map-side-combinable source aggregate; no join,
    no window, no Python."""
    from etl_staging_spark.llmdata.stats import truncation_loss_card

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = truncation_loss_card(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_source_signature_terms_salted_topk_no_python(spark):
    """source_signature_terms (r15 queue): vocabulary-bounded counts,
    a token-keyed join with fan-out <= #sources, broadcast totals (the
    1-row corpus total rides the documented broadcast-NLJ totals
    pattern), and the salted two-phase per-source top-k; no cartesian,
    no Python."""
    from etl_staging_spark.llmdata.stats import source_signature_terms

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = source_signature_terms(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p
    # both window phases are present (salted local + per-source global)
    assert p.count("Window") >= 2


def test_mm_usability_card_single_agg_over_arrow_kernel(spark):
    """mm_usability_card (r16 queue): one row-local classification over
    the Arrow feature kernel's output -> ONE aggregate on the bounded
    format key; the only Python boundary is the mapInPandas kernel
    itself (by design); no join, no window, no cartesian."""
    from etl_staging_spark.llmdata.multimodal import (
        feature_table,
        usability_card,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = usability_card(feature_table(docs, dim=16))._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p
