"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Usage: python bench.py [query ...]   (a named subset instead of
HEADLINE, under the same protocol)

bench_last.json holds the full-precision record, including
"build_exec": each query's [build_s, exec_s] for its fastest rep —
Python/py4j DataFrame construction vs the noop-sink run (Catalyst
planning + execution), and "cpus", the session's defaultParallelism.
It also keeps the outlier guard's references: each query's most
recent timing per (cpus, sf), which a run at another core count or
sf, or a named subset, leaves in place. A fresh checkout has none, so
its first run is unguarded. :func:`timed_run` and :func:`warm` ARE the
repo's one query-timing protocol: tools/ab_respread.py and
tools/scaling_probe.py time through them.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative heavy queries across the operator surface. Every name
# MUST exist in queries() — a missing name is a hard error so the bench
# can never silently measure less than it advertises.
#
# Curation rule (r13): entries below the guard floor at sf0.1 (their
# time is job-scheduling constants, not throughput, and they cannot
# trip the guard) are retired whenever the publication line would
# otherwise outgrow the driver's stdout budget, PROVIDED the operator
# family stays represented by a heavier benched entry and the name is
# not in CORE_R1; the registry certification of a retired entry is
# unaffected. The line then fits by construction and names every
# benched query (tests/test_bench_guard.py checks it at worst-case
# widths). Retired r13 (under a 0.25 s cut): mixture_epoch_upsample
# (0.04 s), shard_training_order + shard_manifest (0.09/0.14 s),
# c4_asof_reconstruction (0.11 s), dup_rate_by_source +
# token_drift_card (0.15/0.24 s), text_quality_score (0.16 s; the
# text-gate family keeps text_repetition_gopher and boilerplate_flag).
# Retired with the stdout-budget shed, which this curation replaces
# (sf0.1 times on 4 cores; the last two ran 0.40-0.42 s there, but
# r17's 32-core run shed both as sub-floor): seq_pack_chunks (0.20 s;
# training_set_pack stays), br_report (0.20 s; gl_report, es_report,
# aged_report), vocab_coverage_by_source (0.21 s;
# source_vocab_cosine_matrix), hier_rollup (0.24 s; f7_child_of,
# gl_report), mixture_weighted_sample (0.24 s; mixture_cluster_share,
# cluster_balanced_sample), bpe_pair_counts (0.25 s; text_lm_bigram's
# adjacent-pair counts), ttr_card + length_histogram_card (0.27/0.33 s;
# the r13 cards keep quality_calibration_by_domain, lang_source_matrix,
# lang_confusion_card), domain_quality_cap (0.31 s;
# domain_token_budget), events_attribution (0.34 s; events_sessionize),
# ngram_freq_spectrum (0.40 s; dup_ngram_coverage, text_lm_bigram),
# pii_rate_by_source (0.42 s; pii_mask_regex, and embedding_stats_card
# for the single-map-combinable per-group aggregate shape).
HEADLINE = [
    "a1_hash_agg",
    "j1_star_join_revenue",
    "w2_running_balance",
    "w1_gl_initial_and_period",
    "a3_aged_bucket_pivot",
    "j3_lateral_agg_join",
    "j7_asof_join",
    "a9_ledger_netting",
    "o2_pagination",
    "e3_account_codes",
    "gl_report",
    "aged_report",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    # round 3 additions
    "es_report",
    "analytic_report",
    "e4_carryover",
    "m4_serial_rebuild",
    # round 4 additions
    "hg_column_groups",
    "dedup_cluster_cc",
    "decontaminate_ngram",
    "text_repetition_gopher",
    "pii_mask_regex",
    # round 5 additions
    "f7_child_of",
    # round 6 additions
    "sa_stock_ageing",
    "dedup_incremental_lsh",
    "corpus_assembly",
    "search_bm25_topk",
    "boilerplate_flag",
    "dedup_semantic_ivf",
    "corpus_assembly_full",
    "dedup_segments",
    "text_lm_bigram",
    "search_hybrid_rrf",
    "events_sessionize",
    "contrastive_pairs",
    "corpus_source_profile",
    "corpus_assembly_v2",
    # round 7 additions
    "decontaminate_fuzzy",
    "sim_ann_recall",
    "training_set_pack",
    # round 8/9 additions
    "sim_ann_lsh",
    "dedup_semantic_recall",
    # round 10 additions
    "source_overlap_matrix",
    "quality_calibration_card",
    "embedding_stats_card",
    # round 11 additions
    "decontaminate_semantic",
    # round 12 additions
    "source_novelty_card",
    "domain_token_budget",
    "mm_feature_hist",
    # round 13 additions
    "quality_calibration_by_domain",
    "lang_source_matrix",
    "lang_confusion_card",
    # round 14 additions — one per NEW plan family; the other eight r14
    # card registrations (charclass/sentence/fertility/joint/truncation/
    # dup_token_rate/events_volume/mm_usability) share the retired
    # pii_rate_by_source's single-map-combinable-aggregate shape and
    # would only re-measure it
    "dup_similarity_histogram",
    "dup_ngram_coverage",
    "source_vocab_cosine_matrix",
    "source_signature_terms",
    "cluster_profile",
    # round 15 addition — the one NEW plan family this round
    # (broadcast-literal cell assignment + bounded count collect +
    # literal-CASE hash-threshold filter); dataset_card_totals is a
    # bounded driver-assembly entry far below the guard floor
    "cluster_balanced_sample",
    # round 16 addition — the one NEW plan family this round (cell
    # shares -> per-source exact-decimal mean -> micro-unit weight
    # thresholds); the four new stream-fold rows re-measure the
    # certified fold family, and split_by_cluster /
    # dedup_canonicals_by_score compose the already-benched CC fold
    # with hash-split / quality-aggregate joins
    "mixture_cluster_share",
    # round 16 late additions — the PQ family is NEW plan territory:
    # the balance card (m per-subspace literal-codebook decimal folds
    # in one projection -> bounded m x K aggregate + window) and the
    # routed IVF-PQ search (narrow-checkpoint cell+code encode +
    # literal-LUT explode + two-phase top-k — the production shape;
    # pq_adc_topk is its unrouted subset and would re-measure the
    # same plan minus the cell filter); the state-card mixture row
    # re-measures the benched mixture_cluster_share family
    "pq_code_balance",
    "pq_ivf_topk",
]


def _reference_key(cpus: int, sf: float | None) -> str:
    return f"cpus={cpus} sf={sf}"


def _stored_references(path: str) -> dict[str, dict[str, float]]:
    """Every guard reference kept in the record at ``path``, keyed by
    cpus and sf; {} when the file is missing, corrupt or not an
    object, so a fresh checkout's first run is unguarded."""
    try:
        with open(path) as f:
            refs = json.load(f)["references"]
    except (OSError, ValueError, KeyError, TypeError):
        return {}
    if not isinstance(refs, dict):
        return {}
    return {k: v for k, v in refs.items() if isinstance(v, dict)}


def guard_reference(path: str, cpus: int, sf: float | None) -> dict[str, float]:
    """The outlier guard's reference: each query's most recent timing
    by bench.py on a session with the same defaultParallelism (cpus)
    and sf, as kept in ``path`` by :func:`save_record`. Timings taken
    at other core counts or scale factors never serve as a reference."""
    return _stored_references(path).get(_reference_key(cpus, sf), {})


def save_record(path: str, record: dict) -> None:
    """Write the run ``record`` to ``path`` with the guard references
    updated: the record's per-query timings replace the stored ones at
    its cpus and sf; queries it did not time, and references at other
    cpus or sf, are kept."""
    refs = _stored_references(path)
    key = _reference_key(record["cpus"], record["sf"])
    refs[key] = {**refs.get(key, {}), **record["queries"]}
    with open(path, "w") as f:
        json.dump({**record, "references": refs}, f)


# absolute floor on outlier-guard trips: sub-0.4s results are
# dominated by job-scheduling constants (a 0.15s ref tripping at 0.31s
# is timer noise, not contention) — they can neither signal a real
# regression nor justify a rerun
GUARD_FLOOR_SEC = 0.4


def guard_trips(best: float, ref: float | None) -> bool:
    """The outlier guard: a best-of-3 more than twice its reference,
    and above :data:`GUARD_FLOOR_SEC`, is rerun and flagged."""
    return bool(ref) and best > 2 * ref and best > GUARD_FLOOR_SEC


# the round-1 headline subset, for like-for-like cross-round comparison
# now that the headline set has grown
CORE_R1 = [
    "a1_hash_agg", "j1_star_join_revenue", "w2_running_balance",
    "w1_gl_initial_and_period", "a3_aged_bucket_pivot",
    "j3_lateral_agg_join", "j7_asof_join", "a9_ledger_netting",
    "o2_pagination",
]


def publish_line(
    timings: dict[str, float],
    total: float,
    core_total: float,
    reruns: list[str],
    attempts: int,
    sf: float | None,
) -> str:
    """The stdout publication. The driver keeps a BOUNDED (~2000 char)
    stdout tail — round 10's default-formatted 59-query line outgrew it
    and published "parsed": null — so the line is compact by
    construction: compact separators, 2-decimal timings, the rerun
    list capped at 3 names + a count, and a HEADLINE curated (r13
    rule, above) so that every name fits under 1900 chars even at
    worst-case widths (tests/test_bench_guard.py pins it).
    bench_last.json always carries the full-precision record."""
    return json.dumps({
        "metric": "headline_queries_total_time",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {n: round(s, 2) for n, s in timings.items()},
        # every timed query is published; the driver's round diff reads
        # this field
        "queries_dropped": 0,
        "core_r1_subset_time": round(core_total, 2),
        "n_queries": len(timings),
        "reruns": reruns[:3],
        "n_reruns": len(reruns),
        "attempts": attempts,
        "sf": sf,
    }, separators=(",", ":"))


def timed_run(build) -> tuple[float, float]:
    """THE timed action: ``build()`` constructs the query's DataFrame,
    then the noop sink runs it. Returns (build_s, exec_s). The split
    follows Catalyst's phases (Spark SQL, SIGMOD 2015): build_s is
    Python/py4j plan construction (~8 s of pq_ivf_topk's r16 cost) plus
    any eager job the builder runs (bounded driver collects,
    checkpoints); exec_s is analysis, planning and execution under the
    action — the two call for different fixes."""
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def warm(spark, qs: dict, names: list[str], sf_dir: str) -> None:
    """Bring ``names`` to steady state before anything is timed.

    Warm the JVM per query SHAPE, not just per session: first execution
    of a shape pays codegen/JIT compilation of its generated methods
    (md5 expression trees, 16-way minhash aggregates, decimal HOF
    lambdas) — ~10-25 s on the heavies, independent of data volume.
    Running every query once at sf0.001 ($SPARK_GRAFT_WARM_DIR, default
    the sf0.001 directory beside ``sf_dir``) compiles those methods on
    trivial data. Then one untimed pass at
    the TARGET sf lets the async C2 tier land on the hot generated
    methods and faults the parquet files into the page cache (without
    it, whichever queries run first absorb the background compile and
    flap 2-5x run to run). The cache is cleared after each pass."""
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR",
        os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001"),
    )
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for d in (warm_dir, sf_dir):
        for name in names:
            timed_run(lambda: qs[name](spark, d))
        spark.catalog.clearCache()


def ab_main(
    app: str, set_arm, names: list[str], labels: tuple[str, str]
) -> None:
    """Interleaved A/B of two engine variants in ONE session (same JVM,
    page cache and JIT for both arms) — the adjudication shape of the
    r13-r17 perf notes, shared by tools/ab_*.py. ``set_arm(spark, on)``
    selects arm A (True) or B (False). Each arm is warmed with
    :func:`warm`; then per query ``rounds`` interleaved A-B passes
    through :func:`timed_run`, best-of per arm, the cache cleared
    between queries. Arm A is restored on ANY exit, so an exception
    cannot leave the session in arm B. Relative verdict only —
    absolute numbers are not bench's.

    argv: [sf_dir] [rounds]; SPARK_GRAFT_SF_DIR (the sf_dir default)
    and SPARK_GRAFT_WARM_DIR as in bench."""
    from etl_staging_spark.session import DEFAULT_SF_DIR, get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app)
    qs = entrymod.queries()
    a, b = labels
    results: dict[str, dict[str, list[float]]] = {}
    try:
        for on in (True, False):
            set_arm(spark, on)
            warm(spark, qs, names, sf_dir)
        for name in names:
            runs: dict[str, list[float]] = {a: [], b: []}
            for _ in range(rounds):
                for on, label in ((True, a), (False, b)):
                    set_arm(spark, on)
                    t = sum(timed_run(lambda: qs[name](spark, sf_dir)))
                    runs[label].append(round(t, 3))
            results[name] = runs
            best_a, best_b = min(runs[a]), min(runs[b])
            delta = (best_a - best_b) / best_b * 100
            print(f"{name}: {a}={best_a:.3f} {b}={best_b:.3f} "
                  f"delta={delta:+.1f}%", flush=True)
            spark.catalog.clearCache()
    finally:
        set_arm(spark, True)
    sum_a = sum(min(r[a]) for r in results.values())
    sum_b = sum(min(r[b]) for r in results.values())
    print(json.dumps({
        "sf_dir": sf_dir,
        "rounds": rounds,
        f"{a}_best_sum": round(sum_a, 3),
        f"{b}_best_sum": round(sum_b, 3),
        "delta_pct": round((sum_a - sum_b) / sum_b * 100, 1),
        "queries": results,
    }))


def main(names: list[str]) -> None:
    from etl_staging_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    qs = entrymod.queries()
    names = names or list(HEADLINE)
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"bench queries not implemented: {missing}")
    warm(spark, qs, names, sf_dir)

    # Best-of-3 per query: the sf0.001 warmup compiles each shape's
    # generated code, but the C2 JIT tier still lands asynchronously —
    # WHICH timed query pays the one-off compile shifts run to run
    # (±10-20 s swings on a fixed plan). The minimum of three timed
    # executions is the steady-state number and is stable across runs
    # (best-of-2 still published a 1.45x-noise straggler in round 5).
    # Outlier guard: a best-of-3 that still lands >2x the query's
    # reference (its last timing on this cpus and sf) is almost always
    # machine contention, not a plan change (round 8 published three
    # such artifacts) — re-run the best-of-3 once and keep the overall
    # minimum, flagging the query in "reruns" so a genuine regression
    # is visible as a number that survived SIX runs.
    record_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_last.json"
    )
    cpus = spark.sparkContext.defaultParallelism
    prior = guard_reference(record_path, cpus, sf)

    # forensics (r17, VERDICT r16): every raw timed run per query, so
    # bench_last.json can publish the min/max spread — a contended run
    # shows a wide spread, making "contention vs regression" machine-
    # checkable instead of forensically inferred.
    raw_runs: dict[str, list[float]] = {}
    # (build_s, exec_s) of each query's fastest rep over every run,
    # guard reruns and restarted attempts included — its sum IS the
    # published timing
    fastest: dict[str, tuple[float, float]] = {}
    loadavg_start = os.getloadavg()

    def best_of_3(name: str) -> float:
        best = float("inf")
        for _ in range(3):
            split = timed_run(lambda: qs[name](spark, sf_dir))
            dt = sum(split)
            raw_runs.setdefault(name, []).append(round(dt, 3))
            if name not in fastest or dt < sum(fastest[name]):
                fastest[name] = split
            best = min(best, dt)
        return best

    # Systemic-contention restart: one or two guard trips are a local
    # hiccup, but MANY queries >2x their reference in the same run mean
    # the whole machine was contended (r10 published a 14-rerun
    # artifact that overstated the engine ~45%) — such a run is
    # unpublishable by construction: restart the full timed loop,
    # keeping each query's overall minimum, and only publish when a
    # pass ends with <=3 rerun flags (or attempts are exhausted, in
    # which case the non-empty "reruns" field is the visible signal).
    reruns: list[str] = []
    attempts = 0
    for attempt in range(3):
        attempts = attempt + 1
        reruns = []
        for name in names:
            best = best_of_3(name)
            if guard_trips(best, prior.get(name)):
                spark.catalog.clearCache()
                best_of_3(name)
                # flagged on the TRIP, not on recovery: the rerun list
                # is the run's contention signal, and a recovered rerun
                # still means the first three runs were untrustworthy
                reruns.append(name)
            # every call re-persists its internal frames; dropping them
            # between queries keeps heap/GC pressure flat across the run
            # instead of penalizing whichever queries time last
            spark.catalog.clearCache()
        if len(reruns) <= 3:
            break

    timings = {n: round(sum(fastest[n]), 3) for n in names}
    total = round(sum(timings.values()), 3)
    core_total = round(sum(timings[n] for n in CORE_R1 if n in timings), 3)
    verbose = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "core_r1_subset_time": core_total,
        "n_queries": len(timings),
        "reruns": reruns,
        "attempts": attempts,
        "sf": sf,
        "cpus": cpus,
        "build_exec": {
            n: [round(b, 3), round(e, 3)] for n, (b, e) in fastest.items()
        },
        # forensics (r17): per-query [min, max] over every raw timed
        # run (including guard reruns and restarted attempts) plus the
        # 1/5/15-min load averages bracketing the timed loop — so a
        # future round can adjudicate contention from the record alone.
        "spread": {n: [min(v), max(v)] for n, v in raw_runs.items()},
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    save_record(record_path, verbose)
    print(publish_line(timings, total, core_total, reruns, attempts, sf))


if __name__ == "__main__":
    main(sys.argv[1:])
