from __future__ import annotations

import hashlib
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Fast/slow test tiers (r17, VERDICT r16 item 1). The driver runs
# `python -m pytest tests/ -x -q` inside a bounded verify window; the
# full suite (~34 min at r17) outgrew it, so the DEFAULT tier excludes
# (pytest.ini `-m "not slow"`) exactly the tests below — chosen from a
# full --durations profile, each with coverage that survives in the
# fast tier:
#
# - test_plan_lock / test_plans_global (~145 s each): whole-catalog
#   plan sweeps over all 215 entries. Redundant WITH EACH OTHER (the
#   lock's shape counts include CartesianProduct and BatchEvalPython,
#   so the global-floor sweep is implied), and `tools/plan_lock.py` is
#   the tool run deliberately on every plan change. test_plans.py's
#   hand-picked per-operator audits stay fast-tier.
# - the 215x2 catalog-oracle sweep (~9 min): a deterministic ~25%
#   subset (md5(name) % 4 == 0) stays fast-tier — comparable coverage
#   to the driver's own rotating 50-query certification window, which
#   independently certifies the full registry at sf0.01 every round
#   (tools/check.py runs the full 215 on demand).
# - the explicit >=8 s integration tests below, keyed by (module,
#   test name): each re-verifies a path that keeps a faster sibling in
#   the tier (stream-vs-batch twins, pipeline-facade compositions,
#   duckdb property cross-checks). test_tiers.py checks every key still
#   names a collected test.
# - the 215-entry cache-leak sweep: test_leaks.py marks its own slow
#   params (an md5 sample plus the entries that once leaked stay fast).
#
# Run everything: python -m pytest tests/ -q -m ""
_SLOW_MODULES = {"test_plan_lock", "test_plans_global", "test_cards_property"}
_ORACLE_SWEEPS = {
    "test_query_matches_oracle",
    "test_oracle_arrow_types_are_harness_safe",
}
_SLOW_TESTS = {
    ("test_llmdata", n)
    for n in (
        "test_corpus_pipeline_full_hygiene_chain",
        "test_decontam_rate_by_source_planted_and_duckdb",
        "test_simhash_pairs_planted",
        "test_r14_new_cards_match_duckdb_on_real_tables",
        "test_ann_lsh_subset_of_bruteforce",
        "test_r15_wave2_cards_match_duckdb_on_real_tables",
        "test_split_by_cluster_matches_duckdb_oracle",
        "test_source_overlap_matrix_matches_duckdb_oracle",
        "test_corpus_pipeline_facade_matches_manual_composition",
        "test_decontamination_report_all_rungs",
        "test_corpus_pipeline_to_training_set_verifies",
        "test_corpus_pipeline_dedup_bytes_matches_hand_composed_chain",
        "test_corpus_pipeline_dedup_keep_quality",
        "test_corpus_pipeline_cluster_share_and_curriculum",
        "test_pq_ivf_topk_planted_routing",
        "test_bpe_train_matches_python_reference",
    )
} | {
    ("test_streaming", n)
    for n in (
        "test_assembly_ingest_stream_semantic_rung_matches_batch",
        "test_multimodal_dedup_stream_matches_batch",
        "test_assembly_ingest_stream_matches_batch",
        "test_cluster_share_card_stream_matches_batch_and_refinishes",
        "test_pii_and_charclass_card_streams_match_batch",
        "test_quality_lang_card_stream_matches_batch",
        "test_fertility_card_stream_matches_batch",
        "test_gated_ingest_clean_and_lang_matches_batch",
        "test_multimodal_dedup_stream_checkpointed_restart",
        "test_length_card_stream_matches_batch",
        "test_ttr_state_serves_cosine_matrix_card",
        "test_concentration_card_stream_matches_batch",
        "test_compact_card_state_respects_uncommitted_batches",
        "test_multimodal_self_maintaining_feature_index",
        "test_length_card_stream_checkpointed_replay_converges",
        "test_ttr_state_serves_vocab_coverage_card",
        "test_interarrival_stream_matches_batch_across_boundary",
        # second wave, 5-7s each; every one is a stream-vs-batch or
        # restart twin whose batch/stream siblings stay
        "test_self_maintaining_ingest_appends_to_index",
        "test_length_card_stream_crash_replay_overwrites_own_partition",
        "test_ttr_card_stream_matches_batch_and_compacts",
        "test_events_volume_stream_matches_batch",
        "test_truncation_card_stream_matches_batch",
        "test_lm_score_stream_batch_boundary_independent",
        "test_length_card_stream_first_batch_all_null_text",
        "test_checkpointed_ingest_resumes_without_reprocessing",
        "test_compaction_preserves_params_marker",
    )
} | {
    ("test_domain_property", "test_domain_sql_backend_matches_column_backend"),
    ("test_all_exports", "test_dataset_card_assembles_and_exports"),
    ("test_all_exports", "test_report_exports_all_formats"),
    ("test_all_exports", "test_dataset_card_embeddings_optional_but_not_swallowed"),
    ("test_all_exports", "test_dataset_card_empty_corpus_placeholder"),
    ("test_all_exports", "test_dataset_card_all_null_source_corpus"),
    ("test_fast_argmax", "test_pq_code_fast_matches_exact"),
}


def _oracle_fast(name: str) -> bool:
    """Deterministic ~25% subset of the catalog-oracle sweep kept in
    the fast tier (stable across runs and machines; md5 so a registry
    rename reshuffles nothing else)."""
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % 4 == 0


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1] if item.module else ""
        base = item.name.split("[", 1)[0]
        if mod in _SLOW_MODULES:
            item.add_marker(slow)
        elif base in _ORACLE_SWEEPS and hasattr(item, "callspec"):
            if not _oracle_fast(item.callspec.params["name"]):
                item.add_marker(slow)
        elif (mod, base) in _SLOW_TESTS:
            item.add_marker(slow)


def nsafe_sorted(rows):
    """Sort row tuples that may carry NULLs: None sorts first within
    its column and is never compared against a value (the "" stand-in
    is only ever compared against other stand-ins). THE one null-safe
    row canonicalizer for every test module — three near-identical
    copies had grown by r13."""
    return sorted(
        rows,
        key=lambda t: tuple((v is not None, "" if v is None else v) for v in t),
    )


@pytest.fixture(scope="session")
def spark():
    from etl_staging_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck(request):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
