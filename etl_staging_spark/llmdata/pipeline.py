"""Fluent corpus-assembly builder: the certified stage operators
composed behind one chainable API.

The catalog entries (`corpus_assembly_v2`, `corpus_assembly_full`)
prove the composed SEMANTICS; this module is the ergonomic front door a
pipeline author actually writes:

    kept = (CorpusPipeline(docs)
            .dedup_exact()
            .decontaminate(bench_docs)
            .quality_gate(0.68)
            .repetition_gate()
            .domain_cap(5000)
            .split({"train": 0.9, "val": 0.05, "test": 0.05})
            .frame())

and the back end runs the same chain through mixture weighting all the
way to verified shards on disk:

    manifest = (CorpusPipeline(docs)
                .dedup_exact().quality_gate(0.68)
                .mixture_temperature(alpha=0.6, target_total=1_000_000)
                .epochs({"books": 3})
                .to_training_set("/data/run1", n_shards=1024, seq_len=4096))

Every stage delegates to the same library function its catalog entry
uses — nothing here re-implements semantics, so the builder inherits
each stage's oracle/pytest coverage and scale story (doc-keyed id-set
joins, no cartesian, no row-Python). Stages apply IN CALL ORDER (a cap
before the quality gate budgets raw docs; after it, survivors —
order is the author's policy decision, same as the reference's wizard
option order).

Laziness: the narrowing gates (`dedup_exact`, `decontaminate`,
`decontaminate_fuzzy`, `decontaminate_semantic`, `lang_filter`, `quality_gate`, `repetition_gate`,
`lm_quality_gate`, `segment_clean`, `domain_cap`, `token_budget`,
`split`, `epochs`)
only compose `left_semi`/anti joins on doc_id id-sets, so their chain
stays ONE lazy Spark plan. The remaining stage methods are EAGER at
chain-build time and say so in their docstrings: `dedup_near`,
`dedup_semantic` and `dedup_bytes` (the multimodal byte-payload rung)
run their clustering job when chained (connected
components is iterative — it must materialize rounds),
`mixture`/`mixture_temperature` run one bounded per-domain counts
aggregate, and `quality_gate_keep_rate` (+ its per-domain sibling)
runs the bounded score histogram that resolves its threshold(s).
Compose eager stages where a running job is acceptable, not in
service-init hot paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..tables import PinScope, pin, pins_of, release_pinned
from . import cluster, decontam, dedup, linedup, lm, sampling, textclean, textstats, trainset


class CorpusPipeline:
    """Chainable corpus-assembly builder over a documents frame
    (doc_id, text, source, ...). Immutable-ish: every stage returns
    self with the kept-frame replaced; branch with `.fork()`."""

    def __init__(self, docs: DataFrame):
        self._df = docs
        self._pins = PinScope()
        # shared-cell branch refcount: fork() increments, release()
        # decrements; pins actually unpersist only when the LAST live
        # branch releases (an early unpersist would silently force the
        # sibling's next action to recompute e.g. the repetition
        # gate's HOF fold interpreted — the ~100x cost the pin exists
        # to prevent)
        self._live_branches: list[int] = [1]
        self._released = False
        # (stage label, kept frame AFTER the stage) — powers funnel()
        self._stages: list[tuple[str, DataFrame]] = [("input", docs)]

    # -- plumbing -----------------------------------------------------

    def frame(self) -> DataFrame:
        """The surviving documents frame (lazy plan, not executed)."""
        return self._df

    def fork(self) -> "CorpusPipeline":
        """An independent branch sharing the plan so far. The pin pool
        and the branch refcount stay SHARED: either branch's stages may
        cache frames the other branch's plan also references, so
        :meth:`release` frees the pool only once every branch has
        called it."""
        child = CorpusPipeline(self._df)
        child._pins = self._pins  # shared pool, refcounted release
        child._live_branches = self._live_branches
        self._live_branches[0] += 1
        child._stages = list(self._stages)  # own copy: histories diverge
        return child

    def release(self) -> None:
        """Declare THIS branch done (call after its terminal action in
        long-lived sessions). The shared pin pool unpersists when the
        last live branch has released — never earlier, so a released
        parent cannot yank caches a forked sibling's plan still needs.
        Each release() decrements at most once per arming: a released
        branch that pins again RE-ARMS itself (see :meth:`_pin`), so
        post-release pins are protected by the refcount like any
        others and free on that branch's own next release() — never
        leaked for the session, never yanked by a sibling."""
        if not self._released:
            self._released = True
            self._live_branches[0] -= 1
        if self._live_branches[0] == 0:
            release_pinned(self._pins)

    def _pin(self, *frames: DataFrame) -> None:
        """Register cached frames in the shared pool. A RELEASED branch
        that pins again re-arms itself as live (the refcount invariant:
        the count equals the branches with un-released work), so a
        sibling's redundant release() can never drain caches this
        branch's plan still references — it decrements again on its
        own next release(). A stage that pinned NOTHING must not
        re-arm: it would block the pool drain while protecting
        nothing."""
        if not frames:
            return
        if self._released:
            self._released = False
            self._live_branches[0] += 1
        pin(self._pins, *frames)

    def _keep(self, ids: DataFrame, label: str) -> "CorpusPipeline":
        self._df = self._df.join(ids.select("doc_id"), "doc_id", "left_semi")
        self._stages.append((label, self._df))
        return self

    def funnel(self) -> list[tuple[str, int]]:
        """Per-stage survivor counts, in chain order, starting at
        ("input", N) — the debugging twin of the certified
        `corpus_assembly_v2` funnel report. EAGER and O(#stages) jobs:
        each recorded frame is counted (Spark caches shared lineage
        prefixes poorly across separate count() actions, so expect the
        chain's cost roughly once per stage — a diagnostic you run on a
        sample or at sf-small, not inside the production job; the
        composed catalog entries report the same funnel in ONE pass)."""
        return [(label, frame.count()) for label, frame in self._stages]

    # -- stages (each delegates to its certified operator) ------------

    def clean(self) -> "CorpusPipeline":
        """Normalize the text column in place
        (`textclean.clean_text`: strip invisibles/controls, normalize
        exotic whitespace, collapse runs) — run FIRST so every
        downstream hash and score sees content, not encoding noise
        (two visually-identical docs dedup together only after this).
        A pure codegen'd projection: lazy, no shuffle, doc count
        unchanged."""
        self._df = textclean.with_clean_text(self._df)
        self._stages.append(("clean", self._df))
        return self

    def dedup_exact(self, folded: bool = False) -> "CorpusPipeline":
        """Keep one canonical doc per exact sha256 group
        (`dedup.exact_dup_groups` — the `dedup_exact` entry). With
        ``folded`` the group key is the normalized, case/accent-folded
        text (`textclean.fold_key`), so "Café  X" and "cafe x" dedup
        together while the kept doc's text stays untouched; after a
        :meth:`clean` stage the fold skips its redundant normalization
        pass (clean_text is idempotent — same key, one fewer 8-regex
        sweep over the corpus). NULL-text docs pass through: the
        operator keys them to per-doc singleton groups (its
        ``null:<id>`` sentinel), so no extra branch or scan is needed
        here and the composed catalog entries agree."""
        canon = dedup.exact_dup_groups(
            self._df,
            folded=folded,
            pre_cleaned=any(label == "clean" for label, _ in self._stages),
        ).select(F.col("canonical_doc_id").alias("doc_id"))
        return self._keep(canon, "dedup_exact")

    def _cluster_losers(self, pairs: DataFrame, keep: str) -> DataFrame:
        """Shared canonical election for the clustering dedup stages:
        ``keep="min_id"`` takes `near_dup_clusters`' structural
        component-minimum; ``keep="quality"`` re-elects each cluster's
        canonical as its highest-quality member
        (`cluster.canonicals_by_score`, scored only over cluster
        members — a small fraction of the corpus). Returns the loser
        doc_id frame the stage anti-joins away. Validates ``keep``
        BEFORE the eager clustering job — an argument typo must not
        pay for a corpus-scale discovery pass first."""
        if keep not in ("min_id", "quality"):
            raise ValueError("keep must be 'min_id' or 'quality'")
        clusters = cluster.near_dup_clusters(pairs)
        if keep == "quality":
            members = self._df.join(
                clusters.select("doc_id"), "doc_id", "left_semi"
            )
            scores = textstats.quality_scores(members).select(
                "doc_id", "quality"
            )
            clusters = cluster.canonicals_by_score(clusters, scores)
        return clusters.where(~F.col("is_canonical")).select("doc_id")

    def dedup_near(
        self, threshold: float = 0.8, n: int = 3, keep: str = "min_id"
    ) -> "CorpusPipeline":
        """Keep one canonical doc per NEAR-dup cluster: MinHash-LSH
        banded pairs + exact-Jaccard verify (`dedup.minhash_lsh_pairs`
        — the `dedup_minhash_lsh` entry) -> connected components
        (`cluster.near_dup_clusters` — the `dedup_cluster_cc` entry)
        with component-minimum canonicals, or the cluster's
        highest-quality member under ``keep="quality"``
        (`cluster.canonicals_by_score`). Docs in no cluster are
        singletons and survive untouched (anti-join on the losers, so
        the corpus never funnels through the cluster frame). EAGER:
        connected components is iterative and materializes its rounds,
        so the discovery + clustering job runs when this stage is
        chained."""
        pairs = dedup.minhash_lsh_pairs(self._df, threshold=threshold, n=n)
        self._pin(*pins_of(pairs))
        losers = self._cluster_losers(pairs.select("d1", "d2"), keep)
        self._df = self._df.join(losers, "doc_id", "left_anti")
        self._stages.append(("dedup_near", self._df))
        return self

    def dedup_semantic(
        self,
        emb: DataFrame,
        threshold: float = 0.8,
        dim: int = 64,
        keep: str = "min_id",
        *,
        _scoped: bool = False,
    ) -> "CorpusPipeline":
        """Keep one canonical doc per EMBEDDING near-dup cluster —
        SemDeDup-shaped semantic dedup as a pipeline stage: multi-table
        sign-LSH discovery + exact-decimal cosine verify
        (`simsearch.mt_dup_pairs`, the measured ~0.9-recall config of
        the `dedup_semantic_recall` card) -> connected components with
        component-minimum canonicals (`cluster.near_dup_clusters`), or
        highest-quality-member canonicals under ``keep="quality"``.
        ``emb`` carries (doc_id, embedding) for at least the surviving
        docs; docs without a vector are untouched (the anti-join only
        removes cluster losers). Completes the stage family: exact
        sha256 (`dedup_exact`), lexical MinHash (`dedup_near`), and
        semantic (this). EAGER, like `dedup_near`: the clustering job
        runs when this stage is chained. ``_scoped`` (internal) marks
        ``emb`` as ALREADY restricted to surviving docs, skipping the
        scoping semi-join — `dedup_bytes` scopes before its Arrow
        kernel, and Catalyst can't see through the Python eval to
        eliminate a second identical join."""
        from . import simsearch

        scoped = emb if _scoped else emb.join(
            self._df.select("doc_id"), "doc_id", "left_semi"
        )
        pairs = simsearch.mt_dup_pairs(
            scoped, threshold=threshold, dim=dim, id_col="doc_id",
        )
        self._pin(*pins_of(pairs))
        losers = self._cluster_losers(pairs.select("d1", "d2"), keep)
        self._df = self._df.join(losers, "doc_id", "left_anti")
        self._stages.append(("dedup_semantic", self._df))
        return self

    def dedup_bytes(
        self,
        payloads: DataFrame,
        *,
        threshold: float = 0.995,
        dim: int = 64,
        keep: str = "min_id",
    ) -> "CorpusPipeline":
        """Byte-level MULTIMODAL near-dup rung: keep one canonical doc
        per cluster of near-identical payloads (re-encoded images, the
        same audio at two bitrates, truncated re-uploads), with vectors
        computed from the raw payload bytes by
        `multimodal.feature_table` — the L1-normalized folded byte
        histogram — and clustering delegated to
        :meth:`dedup_semantic`, so the byte rung is reachable from the
        fluent builder exactly the way the text rungs are. ``payloads``
        carries doc_id plus either a real ``payload`` binary column
        AND its ``fmt`` modality tag (the production contract —
        `feature_table` projects to exactly those three columns before
        the Arrow boundary, so a missing fmt fails at plan time) or
        the text column `multimodal.with_payload` fakes payload/fmt
        from in this container. Docs without a payload row, with a NULL payload
        (NULL vector), or with an EMPTY payload (zero vector — a zero
        norm would divide-by-zero in the ANSI-mode cosine verify, and
        two empty payloads are trivially "identical" in a useless way)
        are untouched — the `dedup_semantic` anti-join convention.
        Feature extraction — the dominant Python cost — runs only on
        the docs still alive in the pipeline (semi-join BEFORE the
        Arrow kernel, the same order `dedup_semantic` uses for its
        vector lookup). The default threshold is deliberately tight:
        byte histograms are a content signature, not a perceptual
        embedding, so only near-identical byte streams should
        collapse — a real model encoder (image tower, audio embedder)
        drops into the `feature_table` slot unchanged and then a
        looser semantic threshold applies. EAGER, like
        `dedup_semantic`."""
        from . import multimodal

        alive = payloads.join(self._df.select("doc_id"), "doc_id", "left_semi")
        feats = multimodal.usable_features(
            multimodal.feature_table(alive, dim=dim)
        )
        out = self.dedup_semantic(
            feats.select("doc_id", "embedding"),
            threshold=threshold, dim=dim, keep=keep, _scoped=True,
        )
        out._stages[-1] = ("dedup_bytes", out._stages[-1][1])
        return out

    def decontaminate(self, bench: DataFrame, n: int = 5) -> "CorpusPipeline":
        """Drop docs sharing any word n-gram with the benchmark
        (`decontam.ngram_overlap` — the `decontaminate_ngram` entry)."""
        clean = decontam.ngram_overlap(self._df, bench, n=n, min_hits=1).where(
            ~F.col("contaminated")
        )
        return self._keep(clean, "decontaminate")

    def decontaminate_fuzzy(
        self, bench: DataFrame, threshold: float = 0.8, n: int = 3
    ) -> "CorpusPipeline":
        """Drop docs with a MinHash-LSH-discovered, exact-Jaccard-
        verified near-duplicate in the benchmark
        (`decontam.fuzzy_contamination` — the `decontaminate_fuzzy`
        entry): the middle rung of the decontamination ladder, catching
        paraphrased eval leakage the exact n-gram collision rule
        misses. Completes the ladder as stages: exact
        (:meth:`decontaminate`), lexical-fuzzy (this), semantic
        (:meth:`decontaminate_semantic`). Precondition: corpus and
        benchmark doc_id spaces are disjoint."""
        flagged = decontam.fuzzy_contamination(
            self._df, bench, threshold=threshold, n=n
        )
        self._pin(*pins_of(flagged))
        clean = flagged.where(~F.col("contaminated"))
        return self._keep(clean, "decontaminate_fuzzy")

    def decontaminate_semantic(
        self,
        emb: DataFrame,
        bench_emb: DataFrame,
        threshold: float = 0.9,
        dim: int = 64,
    ) -> "CorpusPipeline":
        """Drop survivors whose EMBEDDING has a cosine >= ``threshold``
        neighbor in the benchmark embedding set
        (`decontam.semantic_contamination`) — the paraphrase-proof rung
        of the decontamination ladder: a translated or fully re-worded
        eval leak shares no n-grams with its source (so both
        :meth:`decontaminate` and the fuzzy lexical check miss it) but
        still sits next to it in embedding space. ``emb`` carries
        (doc_id, embedding) for at least the surviving docs; docs
        without a vector are untouched (the `dedup_semantic` anti-join
        convention — only flagged ids are removed). Precondition:
        corpus and benchmark doc_id spaces are disjoint."""
        flagged = decontam.semantic_contamination(
            emb.join(self._df.select("doc_id"), "doc_id", "left_semi"),
            bench_emb,
            threshold=threshold,
            dim=dim,
            id_col="doc_id",
        )
        self._pin(*pins_of(flagged))
        bad = flagged.where(F.col("contaminated")).select("doc_id")
        self._df = self._df.join(bad, "doc_id", "left_anti")
        self._stages.append(("decontaminate_semantic", self._df))
        return self

    def lang_filter(self, langs: tuple[str, ...] = ("en",)) -> "CorpusPipeline":
        """Keep docs whose n-gram language ID lands in ``langs``
        (`textstats.lang_id` — the `text_lang_id` entry): the standard
        monolingual-corpus gate, run before quality scoring so the
        stopword-density features judge the language they were built
        for. Unidentifiable docs — NULL text, or text whose bigrams hit
        no profile at all (empty/whitespace/digit-only) — score a NULL
        language and are dropped
        (they carry no trainable text either way). Lazy doc-keyed
        semi-join like the other gates."""
        if isinstance(langs, str):
            raise TypeError(
                "langs must be a collection of language codes, not a "
                f"bare string {langs!r} — isin(*'en') would test "
                "membership in its CHARACTERS and drop every document"
            )
        ok = textstats.lang_id(self._df).where(
            F.col("pred_lang").isin(*langs)
        )
        return self._keep(ok, "lang_filter")

    def quality_gate(self, quality_min: float = 0.68) -> "CorpusPipeline":
        """Keep docs at or above the quality score
        (`textstats.quality_scores` — the `text_quality_score` entry)."""
        ok = textstats.quality_scores(self._df).where(
            F.col("quality") >= quality_min
        )
        return self._keep(ok, "quality_gate")

    def quality_gate_keep_rate(
        self, keep_rate: float, decimals: int = 3
    ) -> "CorpusPipeline":
        """Quality gate calibrated to KEEP at least ``keep_rate`` of
        the chain's SCORED survivors: resolves the raw-score cut with
        `stats.threshold_from_scores` (bounded per-score histogram,
        driver-side inverse CDF, bucket-lower-edge cut) and keeps docs
        whose raw score clears it — "keep the best 70%" instead of a
        hand-picked floor. Survivors with NULL text score NULL
        quality and sit outside both sides of the rate (no threshold
        could keep them), so the corpus-relative keep fraction can
        undershoot by exactly the unscored docs. EAGER: the histogram
        aggregate runs when this stage is chained. The scored
        survivors persist until :meth:`release` (the `repetition_gate`
        pin pattern) so the upstream chain and the quality scoring
        each execute ONCE — calibration reads the same cached frame
        the gate filters."""
        from . import stats

        scored = (
            textstats.quality_scores(self._df)
            .select("doc_id", "quality")
            .persist()
        )
        self._pin(scored)
        t = stats.threshold_from_scores(scored, keep_rate, decimals)
        return self._keep(
            scored.where(F.col("quality") >= t),
            "quality_gate_keep_rate",
        )

    def quality_gate_keep_rate_by_domain(
        self, keep_rate: float, decimals: int = 3,
        domain_col: str = "source",
    ) -> "CorpusPipeline":
        """The per-source sibling of :meth:`quality_gate_keep_rate`:
        every domain keeps at least ``keep_rate`` of ITS scored
        survivors under its OWN calibrated cut
        (`stats.quality_calibration_by_domain` — clean and noisy
        sources get different thresholds). The per-domain cuts come
        back as a bounded dict and apply as a literal CASE over the
        domain column (the mixture sampler's `_threshold_filter`
        shape) — one scan, no join. Docs with a NULL domain or NULL
        quality drop (no cut could be calibrated for them). EAGER:
        the bounded histogram aggregate runs when this stage is
        chained; the scored survivors persist until :meth:`release`
        (the global sibling's pin pattern) so the upstream chain and
        the quality scoring each execute ONCE — calibration reads the
        same cached frame the gate filters."""
        from . import stats

        scored = (
            textstats.quality_scores(self._df, keep=(domain_col,))
            .select("doc_id", domain_col, "quality")
            .persist()
        )
        self._pin(scored)
        cuts = {
            r["domain"]: r["threshold"]
            for r in stats.calibration_by_domain_from_scores(
                scored, keep_rate, decimals, domain_col
            ).collect()  # bounded: #domains rows
        }
        if not cuts:
            return self._keep(scored.where(F.lit(False)),
                              "quality_gate_keep_rate_by_domain")
        ok = scored.where(
            F.col("quality") >= sampling.domain_case(cuts, domain_col)
        )
        return self._keep(ok, "quality_gate_keep_rate_by_domain")

    def repetition_gate(self) -> "CorpusPipeline":
        """Drop Gopher-repetitive docs (`textstats.repetition_stats` —
        the `text_repetition_gopher` entry). The flag frame stays
        persisted until :meth:`release` (the operator's documented HOF
        caveat: filtering the unmaterialized projection re-evaluates
        the n-gram fold interpreted, ~100x), so this stage pins cache
        like `domain_cap` does."""
        flags = textstats.repetition_stats(self._df).persist()
        self._pin(flags)
        return self._keep(flags.where(~F.col("repetitive")), "repetition_gate")

    def lm_quality_gate(self, model_table: str, min_avg_prob: float) -> "CorpusPipeline":
        """DROP docs whose mean bigram probability under the PERSISTED
        corpus-trained LM (`lm.score_with_model` — the `text_lm_bigram`
        family) falls below the floor — the CCNet-style perplexity gate
        as an incremental stage: O(batch) joins against the bucketed
        model tables, the training corpus never rescanned. The gate is
        TOTAL: a doc too short to have any bigram gets no score row and
        the gate ABSTAINS (anti-join on the below-floor set), leaving
        short docs to the length-aware `quality_gate` instead of
        silently discarding them."""
        bad = lm.score_with_model(self._df, model_table).where(
            F.col("avg_prob") < min_avg_prob
        )
        self._df = self._df.join(
            bad.select("doc_id"), "doc_id", "left_anti"
        )
        self._stages.append(("lm_quality_gate", self._df))
        return self

    def segment_clean(self, hot: DataFrame, k: int | None = None) -> "CorpusPipeline":
        """REWRITE each doc's text with corpus-hot segments removed
        (`linedup.segment_clean` — the `dedup_segments` family). A doc
        is touched only when the scrub actually REMOVED a segment: it
        then carries the rebuilt text, or is dropped if the rewrite
        emptied it (every segment hot). Every other doc — NULL text
        (no cleaned row), and any doc with zero removals, including ''
        text whose lone empty segment was never hot and short docs
        whose single sub-k segment isn't hot — passes through with its
        text BYTE-IDENTICAL (the rebuild would whitespace-normalize;
        an untouched doc must not be rewritten, and dropping is a
        gate's decision, not a rewrite's — r11 ADVICE hardening).
        Unlike the narrowing gates this stage replaces the text
        column, so run it BEFORE quality/LM scoring if those should
        judge the cleaned text (stage order is the author's policy, as
        the module doc notes)."""
        seg_k = k if k is not None else linedup.SEG_TOKENS
        cleaned = linedup.segment_clean(self._df, hot, k=seg_k).select(
            "doc_id",
            F.col("clean_text").alias("__ctext"),
            F.col("n_removed").alias("__nrem"),
        )
        cols = self._df.columns
        untouched = F.col("__ctext").isNull() | (F.col("__nrem") == 0)
        self._df = (
            self._df.withColumnRenamed("text", "__orig")
            .join(cleaned, "doc_id", "left")
            # keep: docs the scrub didn't touch (no cleaned row — NULL
            # text — or zero segments removed, incl. the ''-text doc
            # whose lone '' segment was never hot) with their ORIGINAL
            # text byte-identical (the rebuild whitespace-normalizes;
            # an untouched doc must not be rewritten at all), plus
            # rewritten docs whose text survived; ONLY a rewrite that
            # actually removed segments and emptied the doc drops it —
            # dropping is otherwise a gate's decision, not a rewrite's
            .where(untouched | (F.length("__ctext") > 0))
            .withColumn("text", F.when(untouched, F.col("__orig"))
                        .otherwise(F.col("__ctext")))
            .select(*cols)
        )
        self._stages.append(("segment_clean", self._df))
        return self

    def token_budget(self, budget: int) -> "CorpusPipeline":
        """Keep each domain's highest-quality docs until the domain's
        cumulative TOKEN count fills ``budget``
        (`sampling.domain_token_budget`): the mixture knob in the unit
        that costs training compute, where :meth:`domain_cap` budgets
        doc counts. Lazy doc-keyed semi-join like the other gates."""
        kept = sampling.domain_token_budget(self._df, budget)
        return self._keep(kept, "token_budget")

    def domain_cap(self, cap: int) -> "CorpusPipeline":
        """At most ``cap`` docs per source, best-quality-first
        (`sampling.domain_quality_cap` — the `domain_quality_cap`
        entry)."""
        kept = sampling.domain_quality_cap(self._df, cap=cap)
        self._pin(*pins_of(kept))
        return self._keep(kept, "domain_cap")

    def split(self, fractions: dict[str, float]) -> "CorpusPipeline":
        """Stamp the deterministic hash split (`sampling.hash_split` —
        the `split_hash_deterministic` entry). Terminal-ish: adds the
        `split` column rather than narrowing."""
        self._df = sampling.hash_split(self._df, fractions)
        self._stages.append(("split", self._df))
        return self

    # -- mixture back end ---------------------------------------------

    def mixture(
        self, weights: dict[str, float], target_total: int
    ) -> "CorpusPipeline":
        """Downsample to ≈``target_total`` docs at the given per-source
        proportions (`sampling.mixture_sample` — the
        `mixture_weighted_sample` entry). EAGER at build time: the
        per-domain counts aggregate runs when this stage is chained
        (bounded O(#domains) driver state), the filter itself stays a
        single-scan literal-CASE hash threshold."""
        return self._keep(
            sampling.mixture_sample(self._df, weights, target_total),
            "mixture",
        )

    def mixture_temperature(
        self, alpha: float, target_total: int
    ) -> "CorpusPipeline":
        """Temperature-scaled mixture downsampling
        (`sampling.mixture_sample_temperature` — the
        `mixture_temperature` entry). Same eager bounded-counts note as
        :meth:`mixture`."""
        return self._keep(
            sampling.mixture_sample_temperature(self._df, alpha, target_total),
            "mixture_temperature",
        )

    def epochs(
        self, epochs: dict[str, int], default_epochs: int = 1
    ) -> "CorpusPipeline":
        """UPSAMPLE by repetition: emit each doc ``epochs[source]``
        times (the `mixture_epoch_upsample` weighting), re-keyed so
        every copy has a unique doc_id — required because everything
        downstream (shard hash, greedy-pack join keys, the manifest's
        order-free XOR) assumes doc_id uniqueness; two identical
        (doc_id, text) rows would collide pack keys and XOR-cancel in
        the manifest. New id = doc_id * E + (epoch-1) with E = the max
        repeat factor — deterministic, collision-free, and the original
        id stays recoverable as doc_id DIV E. Row generation is the
        operator's shared guarded explode (`sampling.epoch_reps` /
        `epoch_explode` — one source for the negative-count and
        0-epoch-vanish rules); no shuffle, no join."""
        factor = max([default_epochs, *epochs.values(), 1])
        reps = sampling.epoch_reps(epochs, "source", default_epochs)
        exploded = self._df.withColumn(
            "__epoch", sampling.epoch_explode(reps)
        )
        self._df = exploded.withColumn(
            "doc_id",
            F.col("doc_id") * F.lit(factor) + F.col("__epoch") - F.lit(1),
        ).drop("__epoch")
        self._stages.append(("epochs", self._df))
        return self

    # -- terminal -----------------------------------------------------

    def mixture_by_cluster_share(
        self, emb: DataFrame, target_total: int, n_centroids: int = 8
    ) -> "CorpusPipeline":
        """Topic-driven source reweighting (`simsearch.
        cluster_share_mixture` — the `mixture_cluster_share` entry):
        derive per-source mixture weights FROM the surviving corpus's
        topic-cell shares (sources concentrated in over-represented
        cells downweighted) and apply the same quota/bucket-threshold
        sample. EAGER bounded collects at build time, like
        :meth:`mixture`; the keep filter stays a single-scan
        literal-CASE hash threshold."""
        from . import simsearch as _ss

        # centroids resolve from the FULL emb (stable cell geometry,
        # the corpus_assembly_balanced convention); the per-source
        # stats and the keep filter see only the SURVIVING corpus
        kept = _ss.cluster_share_kept(
            self._df.select("doc_id", "source"),
            emb,
            target_total,
            n_centroids=n_centroids,
        ).select("doc_id")
        return self._keep(kept, "mixture_by_cluster_share")

    def curriculum(self, n_shards: int, stages: int = 4) -> DataFrame:
        """Quality-curriculum dataloader order for the SURVIVING corpus
        (`sampling.curriculum_order` — the `training_order_curriculum`
        entry): shard + within-shard position keyed first by the
        coarse quality stage (cleanest data first), then the
        reproducible hash. Returns the (doc_id, shard, stage,
        position) frame; join back to the corpus to materialize."""
        scored = textstats.quality_scores(self._df).select(
            "doc_id", "quality"
        )
        return sampling.curriculum_order(
            scored, n_shards=n_shards, stages=stages
        )

    def to_curriculum_shards(
        self, path: str, n_shards: int, stages: int = 4
    ) -> None:
        """TERMINAL action: materialize the surviving corpus as
        ``path/shard=K/`` parquet in quality-curriculum read order
        (`sampling.write_curriculum_shards` — cleanest data first
        within every shard, unscored rows last). The quality score is
        computed on the surviving frame and written alongside (stage,
        position)."""
        scored = self._df.drop("quality").join(
            textstats.quality_scores(self._df).select("doc_id", "quality"),
            "doc_id",
        )
        sampling.write_curriculum_shards(
            scored, path, n_shards, stages=stages
        )

    def to_training_set(
        self,
        path: str,
        n_shards: int,
        seq_len: int,
        salt: str = "shard-v1",
        schedule: str = "hash",
    ) -> DataFrame:
        """TERMINAL action: materialize the surviving corpus as packed
        ``path/shard=K/`` parquet and return the shard manifest
        computed from the input rows. ``schedule="hash"`` is the
        content-independent pseudo-shuffle (`trainset.
        write_training_set` — the `training_set_pack` entry);
        ``schedule="curriculum"`` packs each shard cleanest-first over
        the quality score (`trainset.write_curriculum_training_set` —
        the `training_set_curriculum` entry's write leg). The manifest
        is order-free, so `trainset.verify_training_set(spark, path,
        manifest, n_shards)` proves the written bytes match under
        either schedule; call :meth:`release` afterwards in
        long-lived sessions."""
        if schedule == "curriculum":
            scores = textstats.quality_scores(self._df).select(
                "doc_id", "quality"
            )
            return trainset.write_curriculum_training_set(
                self._df, scores, path, n_shards, seq_len, salt=salt
            )
        if schedule != "hash":
            raise ValueError(
                f"unknown schedule {schedule!r}; use 'hash' or 'curriculum'"
            )
        return trainset.write_training_set(
            self._df, path, n_shards, seq_len, salt=salt
        )
