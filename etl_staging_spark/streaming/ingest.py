"""Streaming document ingestion with dedup against the persisted corpus
index — the day-2 dedup service as a Structured Streaming pipeline.

Batch dedup (`llmdata.dedup.incremental_lsh_matches_indexed`) already
amortizes the corpus: the banded signature index and the shingle-array
store are bucketed managed tables (`llmdata.dedup.write_signature_index`)
that new data joins with zero corpus-side shuffle. This module lifts
that exact operator into a stream: each micro-batch of incoming
documents is matched against the index inside ``foreachBatch`` — the
Spark-sanctioned way to run a batch-only shape (bucketed-table joins)
per micro-batch with exactly-once sink semantics left to the caller's
handler.

Reference analog: the dedup/purge maintenance jobs (M3,
`etl_stock/models/company.py:1186-1195`) run batch-periodic; this is
the same decision continuously applied at ingest time.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..llmdata import dedup, stats
from ..operators import events as ev
from ..tables import PinScope

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def doc_stream(spark, docs_dir: str, schema: StructType = DOC_SCHEMA) -> DataFrame:
    """File stream over a documents drop directory (declared schema —
    streaming sources never infer)."""
    return spark.readStream.schema(schema).parquet(docs_dir)


def _start(stream_writer, query_name: str, checkpoint_dir: str | None):
    """Shared stream starter: availableNow trigger, optional checkpoint.
    With ``checkpoint_dir`` set, a restarted stream resumes from the
    committed offset log and processes ONLY files that arrived since —
    the exactly-once restart story every ingest service here inherits
    (foreachBatch re-delivers an uncommitted batch after a crash; the
    handlers are deterministic and idempotent-by-overwrite, so replays
    converge — for `assembly_ingest_stream` only while its handler does
    not write to ``index_table``: a re-delivered batch is then matched
    against its own earlier append, so it keeps fewer docs and appends
    the survivors again)."""
    w = stream_writer.queryName(query_name).trigger(availableNow=True)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def _quality_repetition_gate(
    batch_df: DataFrame, scope: PinScope, quality_min: float
) -> DataFrame:
    """The quality gate + Gopher repetition gate over one micro-batch:
    doc-keyed semi-joins of per-doc verdicts, so batch boundaries
    cannot change which documents pass."""
    from pyspark.sql import functions as F

    from ..llmdata import textstats

    qual = (
        textstats.quality_scores(batch_df)
        .where(F.col("quality") >= quality_min)
        .select("doc_id")
    )
    # materialize before filtering the HOF-derived flags (caller note
    # on repetition_stats)
    rep_flags = scope.persist(textstats.repetition_stats(batch_df))
    rep = rep_flags.where(~F.col("repetitive")).select("doc_id")
    return batch_df.join(qual, "doc_id", "left_semi").join(
        rep, "doc_id", "left_semi"
    )


def dedup_ingest_stream(
    docs_stream: DataFrame,
    index_table: str,
    on_batch: Callable[[int, DataFrame], None],
    threshold: float = 0.8,
    n: int = 3,
    query_name: str = "dedup_ingest",
    checkpoint_dir: str | None = None,
):
    """Start an available-now stream that, per micro-batch, matches the
    incoming documents against the persisted corpus signature index and
    hands ``(batch_id, matches)`` to ``on_batch`` — matches has the
    (d1=new doc, d2=corpus doc, n_common, jaccard) shape of the batch
    operator. The handler decides the sink: a production loop appends
    the non-matching docs to the corpus and their signatures to the
    index (both bucketed writes), making the pipeline self-maintaining.

    Doc_id spaces of the stream and the index must be disjoint (same
    precondition as the batch operator)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        with PinScope() as scope:
            matches = dedup.incremental_lsh_matches_indexed(
                batch_df.sparkSession, batch_df, index_table, threshold=threshold, n=n
            )
            on_batch(batch_id, scope.adopt(matches))

    return _start(docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir)


def gated_ingest_stream(
    docs_stream: DataFrame,
    on_batch: Callable[[int, DataFrame], None],
    quality_min: float = 0.68,
    splits: dict[str, float] | None = None,
    query_name: str = "gated_ingest",
    checkpoint_dir: str | None = None,
    clean: bool = False,
    langs: tuple[str, ...] | None = None,
):
    """The stateless front half of corpus assembly run continuously at
    ingest: per micro-batch, optional text normalization
    (`textclean.clean_text` — ``clean=True``), optional language filter
    (`textstats.lang_id` — ``langs``), quality gate + Gopher repetition
    gate + deterministic hash split, handing the gated, split-stamped
    frame to ``on_batch``. Every stage is a projection or doc-keyed
    join WITHIN the micro-batch — all PER-DOC decisions, so batch
    boundaries cannot change any outcome (the hash split keys on
    doc_id and never sees the text, so it is content-independent and
    unaffected by the hygiene stages); dedup against the persisted
    corpus index composes via :func:`dedup_ingest_stream` in the same
    foreachBatch loop. With ``clean`` the normalized batch persists
    for the duration of the batch: the language/quality/repetition
    scans and the output projection all read the 8-regex chain's
    output ONCE instead of re-running it per consumer."""
    from pyspark.sql import functions as F

    from ..llmdata import sampling, textclean, textstats

    if isinstance(langs, str):
        raise TypeError(
            "langs must be a collection of language codes, not a "
            f"bare string {langs!r} — isin(*'en') would test "
            "membership in its CHARACTERS and empty every micro-batch"
        )
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        with PinScope() as scope:
            if clean:
                batch_df = scope.persist(textclean.with_clean_text(batch_df))
            if langs:
                ok = textstats.lang_id(batch_df).where(
                    F.col("pred_lang").isin(*langs)
                ).select("doc_id")
                batch_df = batch_df.join(ok, "doc_id", "left_semi")
            kept = _quality_repetition_gate(batch_df, scope, quality_min)
            on_batch(batch_id, sampling.hash_split(kept, splits))

    return _start(docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir)


def embedding_dedup_stream(
    vec_stream: DataFrame,
    index_table: str,
    on_batch: Callable[[int, DataFrame], None],
    threshold: float,
    dim: int,
    query_name: str = "embedding_dedup",
    checkpoint_dir: str | None = None,
):
    """Per micro-batch, match incoming embeddings against the persisted
    multi-table sign-LSH index (`simsearch.write_embedding_index`) and
    hand ``(batch_id, matches)`` to ``on_batch`` — matches has the
    (d1 = new vector, d2 = corpus vector, cosine) shape of the batch
    operator. The embedding analog of :func:`dedup_ingest_stream`: each
    batch pays O(batch) + O(candidates), the corpus is never re-keyed,
    and the handler owns the sink (a self-maintaining loop appends
    non-matching vectors and their keys to the two bucketed tables).
    vec_id spaces of stream and index must be disjoint."""
    from ..llmdata import simsearch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        with PinScope() as scope:
            matches = simsearch.incremental_embedding_matches(
                batch_df.sparkSession, batch_df, index_table, threshold, dim
            )
            on_batch(batch_id, scope.adopt(matches))

    return _start(vec_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir)


def multimodal_dedup_stream(
    docs_stream: DataFrame,
    index_table: str,
    on_batch: Callable[[int, DataFrame], None],
    threshold: float = 0.995,
    dim: int = 64,
    query_name: str = "multimodal_dedup",
    checkpoint_dir: str | None = None,
):
    """Per micro-batch, extract byte-histogram feature vectors from the
    incoming payload documents (`multimodal.feature_table` — the Arrow
    kernel; a real image/audio encoder drops into the same slot) and
    match them against the persisted multi-table sign-LSH embedding
    index, handing ``(batch_id, matches)`` with the (d1, d2, cosine)
    shape to the handler — the byte-level sibling of
    :func:`embedding_dedup_stream`. The batch ALSO pairs against itself
    (`simsearch.mt_dup_pairs`, d1 < d2, both ids from this batch), so
    two byte-identical payloads landing in the same drop are caught
    before a self-maintaining handler appends them both to the index.
    Even so, the stream is batch-boundary-DEPENDENT where
    `CorpusPipeline.dedup_bytes` sees the whole corpus at once: it
    reports match pairs and leaves the keep/append decision to the
    handler, rather than electing cluster canonicals. The batch rung's
    degenerate-payload policy is shared code, not a copy
    (`multimodal.usable_features`): NULL vectors (NULL payload) and
    zero vectors (empty payload) never enter the match, so one bad
    upload cannot kill the stream. Each batch pays O(batch) +
    O(candidates); the corpus index is never re-keyed. doc_id spaces
    of stream and index must be disjoint."""
    from pyspark.sql import functions as F

    from ..llmdata import multimodal, simsearch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        with PinScope() as scope:
            # persisted: the feature frame feeds four uncached
            # subtrees (index-match keys + normed verify side, intra keys
            # + normed side) and the Arrow byte-histogram kernel is the
            # dominant per-batch Python cost — without the cache it would
            # re-run per consumer
            feats = scope.persist(multimodal.usable_features(
                multimodal.feature_table(batch_df, dim=dim)
            ).select(F.col("doc_id").alias("vec_id"), "embedding"))
            matches = scope.adopt(simsearch.incremental_embedding_matches(
                batch_df.sparkSession, feats, index_table, threshold, dim,
            ))
            intra = scope.adopt(
                simsearch.mt_dup_pairs(feats, threshold=threshold, dim=dim)
            )
            on_batch(
                batch_id, matches.unionByName(intra.select("d1", "d2", "cosine"))
            )

    return _start(
        docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir
    )


def assembly_ingest_stream(
    docs_stream: DataFrame,
    index_table: str,
    bench_table: str,
    on_batch: Callable[[int, DataFrame], None],
    quality_min: float = 0.68,
    threshold: float = 0.8,
    n_dedup: int = 3,
    n_contam: int = 5,
    splits: dict[str, float] | None = None,
    query_name: str = "assembly_ingest",
    checkpoint_dir: str | None = None,
    on_stats: Callable[[int, dict], None] | None = None,
    emb_table: str | None = None,
    bench_emb_table: str | None = None,
    semantic_threshold: float = 0.9,
    dim: int = 64,
):
    """The composed corpus-assembly FRONT-END as one continuous ingest
    job — the streaming twin of ``corpus_assembly_v2``'s stateless
    prefix, per micro-batch:

    1. quality gate + Gopher repetition gate (projections over the
       batch, same operators as `gated_ingest_stream`);
    2. benchmark n-gram decontamination (`decontam.ngram_overlap`
       against the ``bench_table`` catalog table — eval side broadcast,
       never corpus x corpus);
    2b. OPTIONAL semantic decontamination rung (`decontam.
       semantic_contamination`) when BOTH ``emb_table`` (doc_id-keyed
       embeddings, looked up for the batch's docs by semi-join)
       and ``bench_emb_table`` are given — the paraphrase-proof rung
       completing ladder parity with ``CorpusPipeline.
       decontaminate_semantic``; docs WITHOUT a vector are untouched
       (the pipeline's anti-join convention), NULL vectors on either
       table are dropped from the rung (degrade, not crash — the LSH
       kernels raise on NULL by contract), and a half-supplied table
       pair raises up front. Precondition: stream doc_ids and
       ``bench_emb_table`` doc_ids must be disjoint (the
       `semantic_contamination` contract — a colliding id would
       silently skip its own contamination pair via the d1 != d2
       guard), the same shape as the signature-index precondition
       below;
    3. near-dup scrub against the PERSISTED corpus signature index
       (`dedup.incremental_lsh_matches_indexed` — bucketed index joins,
       O(batch) + O(candidates) per batch, corpus never rescanned);
    4. deterministic hash split stamp (`sampling.hash_split`).

    The micro-batch runs as ONE plan: each gate decides over the whole
    batch, its verdicts are left-joined to the batch by doc_id, and a
    doc's funnel stage is the first gate it fails — the chained gates'
    answer, since every gate is a per-doc function of the doc and of
    persisted state (the disjoint doc_id precondition below). A doc
    with a NULL doc_id stops at the quality gate, as a doc-keyed
    semi-join would stop it.

    The handler receives the surviving split-stamped frame per batch
    and owns the sink (a production loop appends survivors to the
    corpus and their signatures to the index, making the pipeline
    self-maintaining). That frame is frozen: one eager action computes
    the batch's verdict and stores the kept rows before the handler
    runs, so its writes to ``index_table`` can neither change the
    frame nor make Spark run the gates and the index match again; the
    stored rows are released when the handler returns. Decisions are
    batch-boundary independent BY CONSTRUCTION: every gate is a
    function of the doc's own content plus persisted state (benchmark
    table, signature index), and the split is a content-hash — so one
    drop or many yields the same corpus, as long as the handler does
    not write to ``index_table``. A handler that appends the batch's
    signatures to the index (the production loop above) makes the
    corpus depend on drop boundaries: near-duplicates inside one drop
    all survive, while across drops the later ones match the earlier
    append and are dropped. Reference analog: the CDC rule engine precedent
    (auditlog/models/rule.py:270-494) — a batch job's semantics applied
    continuously; doc_id spaces of stream and index must be disjoint
    (same precondition as the batch operator).

    ``on_stats`` (optional) receives ``(batch_id, funnel)`` per batch,
    where funnel = {n_in, n_gated, n_decontam, n_kept} (plus
    ``n_semantic`` when the semantic rung is on) — the streaming
    twin of ``corpus_assembly_v2``'s per-prefix survivor counts, the
    observability row a production ingest job appends to its metrics
    sink. The freezing action observes the funnel
    (``DataFrame.observe`` over the per-doc verdict, each doc counted at
    every stage it reaches), so it costs no job, and the plan is the
    same with or without ``on_stats``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..llmdata import decontam, sampling, textstats

    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    if (emb_table is None) != (bench_emb_table is None):
        raise ValueError(
            "the semantic rung needs BOTH emb_table and bench_emb_table "
            "(or neither to skip it); a half-supplied pair would "
            "silently ingest embedding-unscreened documents"
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with PinScope() as scope:
            with PinScope() as stages:
                docs = batch_df.select("doc_id", "text")
                # the text gates are projections of each row; the row
                # rides along in a struct, so no input column can collide
                # with the gates' own columns
                verdict = textstats.repetition_stats(
                    textstats.quality_scores(
                        batch_df.select(
                            "doc_id", "text", F.struct(*batch_df.columns).alias("__row")
                        ),
                        keep=("text", "__row"),
                    ),
                    keep=("__row", "quality"),
                )
                gated = (
                    F.col("doc_id").isNotNull()
                    & (F.col("quality") >= quality_min)
                    & ~F.col("repetitive")
                )
                fails = {"n_gated": ~F.coalesce(gated, F.lit(False))}
                # the other gates match the doc against persisted state;
                # each yields the ids it drops
                dropped = {"n_decontam": decontam.ngram_overlap(
                    docs, spark.table(bench_table), n=n_contam, min_hits=1
                ).where(F.col("contaminated"))}
                if emb_table is not None:
                    # the batch's vectors looked up by semi-join — O(batch)
                    # against the embeddings table's pruned scan. NULL-vector
                    # rows are dropped from BOTH lookup sides — they are
                    # exactly the "doc without a (usable) vector"
                    # passthrough case, and the LSH kernels raise on NULL
                    # by contract (one bad row must not kill the stream)
                    emb = (
                        spark.table(emb_table)
                        .where(F.col("embedding").isNotNull())
                        .join(docs.select("doc_id"), "doc_id", "left_semi")
                    )
                    dropped["n_semantic"] = stages.adopt(
                        decontam.semantic_contamination(
                            emb,
                            spark.table(bench_emb_table).where(
                                F.col("embedding").isNotNull()
                            ),
                            threshold=semantic_threshold, dim=dim,
                            id_col="doc_id",
                        )
                    ).where(F.col("contaminated"))
                dropped["n_kept"] = stages.adopt(dedup.incremental_lsh_matches_indexed(
                    spark, docs, index_table, threshold=threshold, n=n_dedup,
                )).select(F.col("d1").alias("doc_id"))
                for name, ids in dropped.items():
                    verdict = verdict.join(
                        ids.select("doc_id").distinct().withColumn(f"__{name}", F.lit(True)),
                        "doc_id", "left",
                    )
                    fails[name] = F.col(f"__{name}")
                # the funnel stage a doc reaches: the first gate it fails,
                # len(fails) if it passes all. Every gate is a function of
                # the doc and of persisted state, so running each over the
                # whole batch decides exactly what the chained gates did.
                first, *rest = fails.values()
                stage = F.when(first, 0)
                for k, fail in enumerate(rest, 1):
                    stage = stage.when(fail, k)
                stage = stage.otherwise(len(fails))
                funnel = ["n_in", *fails]
                # observed once over the verdict, each doc counted at
                # every stage it reaches. The one filter sits above the
                # CollectMetrics node, which no predicate is pushed
                # through, so the repetition flag is never filtered
                # directly (caller note on repetition_stats). A fresh
                # (uuid-named) observation per call, so a re-delivered
                # batch_id works.
                observed = Observation()
                kept = (
                    verdict.select("__row", stage.alias("__stage"))
                    .observe(observed, *[
                        F.count_if(F.col("__stage") >= k).alias(name)
                        for k, name in enumerate(funnel)
                    ])
                    .where(F.col("__stage") == len(fails))
                    .select("__row.*")
                )
                # one eager action computes the kept rows and the funnel;
                # the handler's index writes cannot re-run or change it
                frozen = scope.freeze(sampling.hash_split(kept, splits))
            on_batch(batch_id, frozen)
            if on_stats is not None:
                on_stats(batch_id, observed.get)

    return _start(docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir)


def segment_clean_stream(
    docs_stream: DataFrame,
    hot_table: str,
    on_batch: Callable[[int, DataFrame], None],
    k: int | None = None,
    query_name: str = "segment_clean",
    checkpoint_dir: str | None = None,
):
    """Per micro-batch, scrub incoming documents against the persisted
    hot-segment index (`llmdata.linedup.write_hot_segment_index`) and
    hand the reconstructed (doc_id, n_segs, n_removed, clean_text)
    frame to ``on_batch`` — boilerplate removal as an ingest-time
    service. Each batch pays O(batch); the corpus behind the index is
    never rescanned (the bucketed table joins exchange-free on its
    side, same story as the dedup signature index)."""
    from ..llmdata import linedup

    seg_k = k if k is not None else linedup.SEG_TOKENS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        hot = batch_df.sparkSession.table(hot_table)
        on_batch(batch_id, linedup.segment_clean(batch_df, hot, k=seg_k))

    return _start(docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir)


def lm_score_stream(
    docs_stream: DataFrame,
    model_table: str,
    on_batch: Callable[[int, DataFrame], None],
    query_name: str = "lm_score",
    checkpoint_dir: str | None = None,
):
    """Per micro-batch, score incoming documents under the PERSISTED
    corpus-trained LM (`llmdata.lm.write_lm_model`) and hand the
    (doc_id, n_bigrams, avg_prob) frame to ``on_batch`` — quality
    scoring as an ingest service. The smoothing vocabulary size comes
    from the training corpus (the model's meta table), so a batch's
    scores are identical whether it arrives in one drop or many."""
    from ..llmdata import lm

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(batch_id, lm.score_with_model(batch_df, model_table))

    return _start(docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir)


_CARD_MARKER = "_CARD_CHECKPOINT"


def _is_remote(path: str) -> bool:
    return "://" in path


def _norm_path(path: str) -> str:
    """One spelling per checkpoint: realpath for local paths (trailing
    slashes, relative spellings, symlinks all collapse); remote URIs
    keep their spelling minus trailing slashes — the same checkpoint
    written ``s3://b/ckpt`` and ``s3://b/ckpt/`` must compare equal or
    the ownership check falsely refuses a legitimate resume (scheme/
    authority case is NOT folded: two case-variant spellings of one
    remote store stay distinct, a refusal, never a double-count)."""
    import os

    return path.rstrip("/") if _is_remote(path) else os.path.realpath(path)


def _read_card_owner(state_dir: str) -> str | None:
    import os

    marker = os.path.join(state_dir, _CARD_MARKER)
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        return fh.read()


def _write_card_owner(state_dir: str, checkpoint_dir: str) -> None:
    import os

    os.makedirs(state_dir, exist_ok=True)
    with open(os.path.join(state_dir, _CARD_MARKER), "w") as fh:
        fh.write(_norm_path(checkpoint_dir))


def _checkpoint_has_commits(checkpoint_dir: str, spark=None) -> bool | None:
    """Whether the checkpoint has committed at least one batch, or
    ``None`` when that is UNKNOWN: local checkpoints list the
    directory; remote ones probe the ``commits/`` listing through the
    Hadoop FS API when a session is available. A remote checkpoint
    without a session — or whose probe RAISES (transient FS error,
    missing driver-side credentials, unconfigured scheme) — is
    unknown, never a guess and never a crash: the guard is documented
    best-effort, and a start must not hard-fail on an FS hiccup the
    stream itself may be about to retry through."""
    import os

    if not _is_remote(checkpoint_dir):
        commits = os.path.join(checkpoint_dir, "commits")
        return os.path.isdir(commits) and any(
            e.isdigit() for e in os.listdir(commits)
        )
    if spark is None:
        return None
    try:
        jvm = spark._jvm
        commits_path = jvm.org.apache.hadoop.fs.Path(
            _norm_path(checkpoint_dir) + "/commits"
        )
        fs = commits_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(commits_path):
            return False
        return any(
            st.getPath().getName().isdigit()
            for st in fs.listStatus(commits_path)
        )
    except Exception:  # noqa: BLE001 — py4j surfaces opaque Java errors
        return None


def _guard_card_state(
    state_dir: str, checkpoint_dir: str | None, spark=None
) -> None:
    """Start guard for `additive_card_stream` — best-effort (a remote
    state_dir skips it entirely; a remote checkpoint_dir's commits are
    probed through the Hadoop FS API when ``spark`` is given and are
    UNKNOWN otherwise, so the two committed-checkpoint refusals and
    the wiped-owner refusal only fire when the checkpoint is
    probeable) but it closes every batch-numbering restart that
    corrupts an existing delta log:

    - no checkpoint over an existing log: numbering restarts at 0,
      stale higher partitions double-count -> refused;
    - a DIFFERENT checkpoint than the log's recorded owner: same
      restart -> refused (rotation is fine while the log is empty);
    - the owning checkpoint path with its contents WIPED: same restart
      in disguise -> refused;
    - an already-committed checkpoint over an EMPTY state_dir:
      committed batches are never redelivered, the card permanently
      undercounts -> refused."""
    import os

    if _is_remote(state_dir):
        return
    has_log = os.path.isdir(state_dir) and any(
        e.startswith("batch_id=") for e in os.listdir(state_dir)
    )
    if checkpoint_dir is None:
        if has_log:
            raise ValueError(
                f"state_dir {state_dir!r} already holds a delta log; "
                "pass checkpoint_dir so batch ids stay stable across "
                "runs (or point at a fresh state_dir)"
            )
        return
    owner = _read_card_owner(state_dir)
    if owner is not None:
        # normalize on read too: a marker written by an older format
        # (or by hand) with a non-canonical spelling must still match
        owner = _norm_path(owner)
    ckpt = _norm_path(checkpoint_dir)
    # local checkpoints are always probeable; remote ones only when
    # the Hadoop FS probe succeeds (session available AND no FS error)
    # — an unprobeable checkpoint's commit state is UNKNOWN, so the
    # refusals that depend on it are skipped rather than fired on a
    # guess or crashed on a hiccup
    probe = _checkpoint_has_commits(checkpoint_dir, spark)
    ckpt_probeable = probe is not None
    ckpt_committed = bool(probe)
    if owner != ckpt:
        # an unowned state_dir, or one rotated to a new checkpoint
        if has_log and owner is None:
            raise ValueError(
                f"state_dir {state_dir!r} holds an unowned delta log "
                "(written without a checkpoint); a checkpointed run "
                "restarts batch ids at 0 and would double-count — "
                "start a fresh state_dir"
            )
        if has_log:
            raise ValueError(
                f"state_dir {state_dir!r} belongs to checkpoint "
                f"{owner!r}, not {ckpt!r}; reuse that checkpoint or "
                "start a fresh state_dir"
            )
        if ckpt_committed:
            raise ValueError(
                f"checkpoint {checkpoint_dir!r} has already committed "
                f"batches but state_dir {state_dir!r} is empty; "
                "committed batches are never redelivered, so the card "
                "would permanently undercount — start a fresh "
                "checkpoint with the fresh state_dir"
            )
        # empty log, uncommitted checkpoint: nothing to double- or
        # under-count — take ownership
        _write_card_owner(state_dir, checkpoint_dir)
        return
    if has_log and ckpt_probeable and not ckpt_committed:
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} owns state_dir "
            f"{state_dir!r} but holds no committed batches (wiped and "
            "recreated?); batch numbering would restart at 0 over the "
            "existing log — restore the checkpoint or start a fresh "
            "state_dir"
        )


_CARD_PARAMS_MARKER = "_CARD_PARAMS"


def _guard_card_params(state_dir: str, params: dict | None) -> None:
    """Parameter-identity guard for `additive_card_stream`: when the
    delta counts are only meaningful at a FIXED parameter choice (the
    truncation card's ``max_len``), the state_dir records it and a
    restart with a DIFFERENT value is refused — otherwise the new
    batches' counts silently merge with old partitions cut at the old
    value and the finished card describes no parameter at all.
    Best-effort like the ownership guard (a remote state_dir skips
    it); a parameter-free stream (``params is None``) writes and
    checks nothing. A mismatch against an EMPTY log (a start that
    failed before its first batch pinned the old params) rotates the
    marker instead of refusing — the same while-the-log-is-empty
    allowance the ownership guard gives checkpoint rotation. A COUNTED
    log with NO marker is refused rather than silently re-pinned to
    whatever the restarting stream passes (the marker-loss windows —
    a crash inside `compact_card_state` between its static rewrite and
    the marker restore, or a hand-deleted marker — must not defeat the
    identity guard; recovery is writing the marker back with the
    params the counts were actually built at)."""
    import json
    import os

    if params is None or _is_remote(state_dir):
        return
    want = json.dumps(params, sort_keys=True)
    marker = os.path.join(state_dir, _CARD_PARAMS_MARKER)
    has_log = os.path.isdir(state_dir) and any(
        e.startswith("batch_id=") for e in os.listdir(state_dir)
    )
    if os.path.exists(marker):
        with open(marker) as fh:
            have = fh.read()
        if have == want:
            return
        if has_log:
            raise ValueError(
                f"state_dir {state_dir!r} holds counts built with "
                f"params {have}, not {want}; merging them is "
                "meaningless — start a fresh state_dir for the new "
                "parameters"
            )
        # empty log: nothing was counted under the old params — rotate
    elif has_log:
        # counted log, marker gone: adopting `want` would merge new
        # batches into counts whose parameters nobody can prove match
        raise ValueError(
            f"state_dir {state_dir!r} holds batch partitions but no "
            f"{_CARD_PARAMS_MARKER} marker (crash inside "
            "compact_card_state before the marker restore, or a "
            "deleted marker?); re-pinning it to the restart's params "
            "would defeat the identity guard — restore the marker "
            "with the params the counts were built at (JSON, "
            "sort_keys=True) or start a fresh state_dir"
        )
    os.makedirs(state_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write(want)


@dataclass(frozen=True)
class AdditiveCard:
    """One additive dataset card, split into the halves a stream can
    maintain: ``counts(docs, **params)`` is the per-batch delta whose
    ``count_cols`` sum per ``keys`` (`_fold`), and ``finish`` presents
    the folded counts. The batch card is ``finish(counts(docs))``;
    `additive_card_stream` keeps the fold current at ingest, and the
    catalog's ``*_stream_fold`` entries certify it against the batch
    card's oracle."""

    counts: Callable[..., DataFrame]
    keys: tuple[str, ...]
    count_cols: tuple[str, ...]
    finish: Callable[[DataFrame], DataFrame]

    def refresh(self, log: DataFrame) -> DataFrame:
        """The card over a delta log (or any union of deltas)."""
        return self.finish(_fold(log, self.keys, self.count_cols))


def _fold(log: DataFrame, key_cols: tuple[str, ...],
          count_cols: tuple[str, ...]) -> DataFrame:
    """THE delta-log merge, shared by the per-batch refresh and the
    offline compaction so the two can never diverge (key set, sum,
    bigint cast)."""
    from pyspark.sql import functions as F

    return log.groupBy(*key_cols).agg(
        *[F.sum(c).cast("bigint").alias(c) for c in count_cols]
    )


CARDS: dict[str, AdditiveCard] = {
    "length": AdditiveCard(
        stats.length_hist_counts, ("source", "lo_tokens"), ("n_docs",),
        stats.finish_length_card,
    ),
    "ttr": AdditiveCard(
        stats.ttr_token_counts, ("source", "token"), ("cnt",),
        stats.finish_ttr_card,
    ),
    "pii": AdditiveCard(
        stats.pii_counts, ("source",),
        ("n_docs", "n_emails", "n_phones", "n_ids", "n_pii_docs"),
        stats.finish_pii_card,
    ),
    "charclass": AdditiveCard(
        stats.charclass_counts, ("source",),
        ("n_docs", "n_chars", "n_alpha", "n_digit", "n_space"),
        stats.finish_charclass_card,
    ),
    "fertility": AdditiveCard(
        stats.fertility_counts, ("pred_lang",),
        ("n_docs", "n_chars", "n_tokens"),
        stats.finish_fertility_card,
    ),
    "truncation": AdditiveCard(
        stats.truncation_counts, ("source",),
        ("n_docs", "n_tokens", "n_truncated", "tokens_lost"),
        stats.finish_truncation_card,
    ),
    "quality_lang": AdditiveCard(
        stats.quality_lang_counts, ("pred_lang",),
        ("n_docs", "q_micro", "qn", "low_q_docs"),
        stats.finish_quality_by_lang,
    ),
    "concentration": AdditiveCard(
        stats.concentration_counts, ("source",), ("n_docs_s", "n_tok_s"),
        stats.finish_concentration_card,
    ),
    "events_volume": AdditiveCard(
        ev.volume_counts, ("event_type",),
        ("n_events", "n_value", "value_cents"),
        ev.finish_volume_card,
    ),
}


def additive_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    card: AdditiveCard,
    on_batch: Callable[[int, DataFrame], None],
    query_name: str = "additive_card",
    checkpoint_dir: str | None = None,
    params: dict | None = None,
):
    """Incremental dataset-card maintenance: per micro-batch, compute
    the batch's ADDITIVE counts (``card.counts(batch, **params)``),
    append them to a batch_id-partitioned delta log, and hand the
    REFRESHED card (``card.finish`` over the re-merged log) to
    ``on_batch`` — the dataset card stays current at ingest time
    without ever re-scanning the corpus; each batch pays O(batch) +
    O(log). ``params``, the counts' keyword arguments, are also the
    state's identity (`_guard_card_params`).

    Replay convergence: the delta partition is keyed by batch_id and
    written with DYNAMIC partition overwrite (`etl.sinks.
    write_partitioned_snapshot`), so a crash-redelivered batch
    overwrites ITS OWN partition instead of double-counting — additive
    state made idempotent the same way the maintenance jobs scope
    their corrections. The log grows one bounded partition per batch
    (the delta is post-aggregate: #keys rows, never the batch's docs);
    `compact_card_state` folds it back to one base partition between
    runs.

    Replay convergence holds only when batch ids are stable, i.e. the
    stream runs WITH a checkpoint: a fresh un-checkpointed run against
    an existing delta log restarts batch numbering at 0 and would
    overwrite partition 0 while stale higher-numbered partitions keep
    double-counting the re-delivered documents — so reusing a
    non-empty local ``state_dir`` without ``checkpoint_dir`` is
    refused at start."""
    _guard_card_state(state_dir, checkpoint_dir, docs_stream.sparkSession)
    _guard_card_params(state_dir, params)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        from ..etl.sinks import write_partitioned_snapshot

        spark = batch_df.sparkSession
        with PinScope() as scope:
            # the aggregated delta is read twice (emptiness probe +
            # write); without the cache the whole counts aggregation
            # over the batch would run twice per micro-batch
            delta = scope.persist(
                card.counts(batch_df, **(params or {}))
                .withColumn("batch_id", F.lit(batch_id))
            )
            if not delta.isEmpty():
                write_partitioned_snapshot(delta, state_dir, ["batch_id"])
            try:
                log = spark.read.parquet(state_dir)
            except AnalysisException:
                # nothing ever written (every batch so far all-NULL
                # text): the empty delta carries the correct schema
                log = delta
            on_batch(batch_id, scope.adopt(card.refresh(log)))

    return _start(
        docs_stream.writeStream.foreachBatch(_process), query_name, checkpoint_dir
    )


def length_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    source_col: str = "source",
    query_name: str = "length_card",
    checkpoint_dir: str | None = None,
):
    """`stats.length_histogram_card` maintained incrementally: the
    (source, bucket) counts are the additive delta, the ceiling/share
    presentation reruns on the bounded merged frame — after any batch,
    the emitted card equals the batch card over every document seen so
    far (the parity pytest pins it)."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["length"], on_batch,
        query_name, checkpoint_dir, {"source_col": source_col},
    )


def ttr_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    source_col: str = "source",
    query_name: str = "ttr_card",
    checkpoint_dir: str | None = None,
):
    """`stats.ttr_card` maintained incrementally: the maintainable
    state is the (source, token, cnt) occurrence table — bounded by
    per-source VOCABULARY, not corpus size — because types and hapax
    counts are not additive but the counts they derive from are. The
    rollup/rates rerun on the merged state each batch."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["ttr"], on_batch,
        query_name, checkpoint_dir, {"source_col": source_col},
    )


def pii_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    source_col: str = "source",
    query_name: str = "pii_card",
    checkpoint_dir: str | None = None,
):
    """`stats.pii_rate_by_source` maintained incrementally: every
    count column (docs, per-category matches, any-match docs) is
    additive, so the per-source counts are the delta and the doc-rate
    presentation reruns on the bounded merged frame — PII incidence
    stays current at ingest time, the release-review read without a
    corpus re-scan."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["pii"], on_batch,
        query_name, checkpoint_dir, {"source_col": source_col},
    )


def charclass_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    source_col: str = "source",
    query_name: str = "charclass_card",
    checkpoint_dir: str | None = None,
):
    """`stats.charclass_profile_card` maintained incrementally: the
    per-source character-class sums are the additive delta, the
    fraction presentation reruns on the bounded merged frame — the
    encoding-health read stays current as drops arrive (a mojibake
    crawl surfaces on its FIRST batch, not at the next full-corpus
    audit)."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["charclass"], on_batch,
        query_name, checkpoint_dir, {"source_col": source_col},
    )


def fertility_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    query_name: str = "fertility_card",
    checkpoint_dir: str | None = None,
):
    """`stats.token_fertility_by_lang` maintained incrementally: the
    per-language (docs, chars, tokens) sums are the additive delta —
    the lang-ID projection runs only over each batch's documents —
    and the chars-per-token presentation reruns on the bounded merged
    frame (#profiles + 1 rows). A tokenizer-bias drift (a new crawl
    shifting a language's fertility) surfaces on its first batch, not
    at the next full-corpus audit."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["fertility"], on_batch,
        query_name, checkpoint_dir,
    )


def truncation_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    max_len: int = 512,
    source_col: str = "source",
    query_name: str = "truncation_card",
    checkpoint_dir: str | None = None,
):
    """`stats.truncation_loss_card` maintained incrementally: the
    per-source token/truncation sums at a FIXED max_len are the
    additive delta (the max_len is part of the state's identity) and
    the rate presentation reruns on the bounded merged frame — the
    cost of a candidate context length stays current as drops arrive,
    so a long-document crawl that would blow the truncation budget
    surfaces on its first batch. The state_dir records its max_len
    (`_guard_card_params`): restarting an existing state with a
    DIFFERENT cut is refused rather than silently merging counts that
    correspond to no single context length."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["truncation"], on_batch,
        query_name, checkpoint_dir, {"max_len": max_len, "source_col": source_col},
    )


def events_volume_stream(
    events_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    query_name: str = "events_volume",
    checkpoint_dir: str | None = None,
):
    """`operators.events.volume_card` maintained incrementally — the
    additive-card machinery applied to a NON-documents table: the
    per-type (events, values, integer cents) sums are the delta, the
    double total re-derives per batch. Money stays exact across
    replay/compaction because the maintained state is integer cents
    (each value DECIMAL(18,2)-rounded once, at first sight), never a
    running double."""
    return additive_card_stream(
        events_stream, state_dir, CARDS["events_volume"], on_batch,
        query_name, checkpoint_dir,
    )


def cluster_share_card_stream(
    drops_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    target_total: int,
    centroids: list[list[float]],
    n_centroids: int = 8,
    doc_id_col: str = "doc_id",
    domain_col: str = "source",
    vec_col: str = "embedding",
    salt: str = "cellsrc-v1",
    query_name: str = "cluster_share_card",
    checkpoint_dir: str | None = None,
):
    """`simsearch.cluster_share_mixture` maintained incrementally over
    joined ingest drops (doc_id, source, embedding): each micro-batch
    contributes the three additive grains of
    `simsearch.cluster_share_state_delta` — per-cell vector counts,
    (source, cell) occupancy, and the (source, keep-bucket) histogram
    — and the card finishes from the folded state ALONE
    (`cluster_share_card_from_state_log`): unlike the other card
    streams, not even the finish touches the batch's rows again, so
    the per-batch cost is O(batch) + O(bounded state) regardless of
    how much corpus the log has absorbed.

    Centroids are REQUIRED (pinned geometry — the additivity
    contract) and part of the state's identity via
    `_guard_card_params` (fingerprint + salt + cell count + column
    names): a restart pinning a different geometry or salt over an
    existing log is refused instead of silently merging assignments
    that correspond to no single geometry. ``target_total`` is
    deliberately NOT state identity — it is a finish-time knob, and
    the same state_dir re-finishes at any target (rerun with a new
    target, or call `cluster_share_card_from_state_log` offline on
    the folded log)."""
    from ..llmdata import simsearch
    from pyspark.sql import functions as F

    def _counts(b: DataFrame, **_identity) -> DataFrame:
        # reads its parameters from this closure: the identity below
        # records the pinned centroids by fingerprint only
        emb_b = b.where(F.col(vec_col).isNotNull()).select(
            F.col(doc_id_col).alias("vec_id"), F.col(vec_col)
        )
        return simsearch.cluster_share_state_delta(
            b,
            emb_b,
            centroids=centroids,
            n_centroids=n_centroids,
            id_col="vec_id",
            vec_col=vec_col,
            doc_id_col=doc_id_col,
            domain_col=domain_col,
            salt=salt,
        )

    card = AdditiveCard(
        _counts,
        ("grain", domain_col, "cell"),
        ("n",),
        lambda folded: simsearch.cluster_share_card_from_state_log(
            folded, target_total, domain_col=domain_col
        ),
    )
    return additive_card_stream(
        drops_stream, state_dir, card, on_batch, query_name, checkpoint_dir,
        {
            "centroids_fp": simsearch.centroid_fingerprint(centroids),
            "n_centroids": n_centroids,
            "salt": salt,
            "domain_col": domain_col,
            "vec_col": vec_col,
        },
    )


def compact_card_state(
    spark,
    state_dir: str,
    key_cols: tuple[str, ...],
    count_cols: tuple[str, ...] = ("n_docs",),
    checkpoint_dir: str | None = None,
) -> None:
    """Offline maintenance for an `additive_card_stream` delta log:
    fold every batch partition into ONE base partition (batch_id = -1,
    a value no stream batch ever uses). Run ONLY after the stream has
    TERMINATED CLEANLY (an availableNow stream that finished has
    committed every delivered batch) — "stopped" is not enough: after
    a crash between a delta write and its checkpoint commit, folding
    the uncommitted partition and then restarting would double-count
    that batch (the restart rewrites its partition while its counts
    already sit in the base). Pass the stream's ``checkpoint_dir`` to
    enforce this: only batch partitions recorded in the checkpoint's
    commits log are folded, uncommitted ones are left in place for the
    replay to overwrite."""
    import os

    from pyspark.sql import functions as F

    from ..etl.sinks import write_partitioned_snapshot

    state_local = not _is_remote(state_dir)
    owner = _read_card_owner(state_dir) if state_local else None
    if owner is not None:
        owner = _norm_path(owner)
    # the params-identity marker (`_guard_card_params`) must survive the
    # static rewrite too, or a compacted truncation state forgets its
    # max_len and a restart with a different cut is silently accepted
    params_marker = os.path.join(state_dir, _CARD_PARAMS_MARKER)
    params = None
    if state_local and os.path.exists(params_marker):
        with open(params_marker) as fh:
            params = fh.read()
    if checkpoint_dir is not None and state_local:
        if owner is None:
            # folding an UNOWNED log by an arbitrary checkpoint's
            # commit horizon (and then stamping that checkpoint as
            # owner) would launder a log the stream guard refuses into
            # one it accepts — over someone else's batch numbering
            raise ValueError(
                f"state_dir {state_dir!r} has no ownership marker; "
                "compact an un-checkpointed log with "
                "checkpoint_dir=None after whatever wrote it "
                "terminated cleanly"
            )
        if owner != _norm_path(checkpoint_dir):
            # folding by the WRONG checkpoint's commit horizon can fold
            # a partition the owning stream has not committed — the
            # very double-count this function guards against — and
            # stamping the wrong owner would refuse the real resume
            raise ValueError(
                f"state_dir {state_dir!r} belongs to checkpoint "
                f"{owner!r}, not {_norm_path(checkpoint_dir)!r}; "
                "compact with the owning checkpoint"
            )
    log = spark.read.parquet(state_dir)
    keep = None
    if checkpoint_dir is not None:
        commits = os.path.join(checkpoint_dir, "commits")
        if not os.path.isdir(commits):
            # a remote scheme or a mistyped path would silently fold
            # NOTHING (full rewrite, zero compaction) — fail loudly;
            # pass checkpoint_dir=None to fold everything unguarded
            raise ValueError(
                f"no commits log at {commits!r}; compaction needs the "
                "stream's LOCAL checkpoint_dir (or None to fold every "
                "partition after a clean termination)"
            )
        committed = {
            int(e) for e in os.listdir(commits) if e.isdigit()
        }
        if not committed:
            raise ValueError(
                f"commits log at {commits!r} is empty; nothing is "
                "provably committed — run the stream first or pass "
                "checkpoint_dir=None"
            )
        # batches commit strictly in order and Spark PURGES old commit
        # files (spark.sql.streaming.minBatchesToRetain, default 100):
        # anything at or below the newest retained commit is committed
        # even if its own file was purged. Only ids ABOVE the newest
        # commit can be uncommitted. -1 = a prior compaction's base.
        foldable = F.col("batch_id") <= max(committed)
        keep = log.where(~foldable)
        log = log.where(foldable)
    base = _fold(log, key_cols, count_cols).withColumn("batch_id", F.lit(-1))
    if keep is not None:
        base = base.unionByName(keep.select(*base.columns))
    # the rewrite reads the very files the static overwrite deletes:
    # materialize the folded rows (bounded: #keys + uncommitted
    # partitions) and cut the lineage BEFORE the delete happens
    base = base.localCheckpoint(eager=True)
    # static: replace the whole log, not just the partitions present
    write_partitioned_snapshot(base, state_dir, ["batch_id"], mode="static")
    # the static rewrite wiped both markers the stream starter checks.
    # Params FIRST: its content exists only in this process (a crash
    # before it lands leaves a counted, marker-less log that
    # `_guard_card_params` now REFUSES rather than silently re-pins,
    # and the content could not be rederived), whereas the owner is
    # recoverable by re-running the compaction with the same
    # validated checkpoint_dir.
    if params is not None:
        with open(params_marker, "w") as fh:
            fh.write(params)
    restore = (
        checkpoint_dir if checkpoint_dir is not None else owner
    )
    if restore is not None and not _is_remote(state_dir):
        _write_card_owner(state_dir, restore)


def quality_lang_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    low_cut: float = 0.5,
    query_name: str = "quality_lang_card",
    checkpoint_dir: str | None = None,
):
    """`stats.quality_by_lang` maintained incrementally: the per-
    predicted-language (docs, micro-unit quality sum, quality-carrying
    docs, below-cutoff docs) counts are the additive delta — the
    quality sum folds as an exact BIGINT because the per-doc score is
    prounded to 6 decimals (`stats.quality_lang_counts`) — and the
    mean/rate presentation reruns on the bounded merged frame. The
    gate-fairness read stays current as drops arrive: a new crawl
    whose language mix would be gutted by the shipped cutoff surfaces
    on the batch where it lands. ``low_cut`` is part of the state's
    identity (`_guard_card_params`): folding deltas taken at different
    cutoffs would silently mix two different below-cut definitions."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["quality_lang"], on_batch,
        query_name, checkpoint_dir, {"low_cut": low_cut},
    )


def concentration_card_stream(
    docs_stream: DataFrame,
    state_dir: str,
    on_batch: Callable[[int, DataFrame], None],
    source_col: str = "source",
    query_name: str = "concentration_card",
    checkpoint_dir: str | None = None,
):
    """`stats.source_concentration_card` maintained incrementally: the
    per-source doc/token counts are the additive delta and the
    HHI/dominant-source reduce reruns on the bounded merged frame —
    mixture concentration stays current as drops arrive, so one crawl
    silently taking over the token mass surfaces on the batch where it
    happens, not at the next full-corpus audit. The source_col is part
    of the state's identity (`_guard_card_params`)."""
    return additive_card_stream(
        docs_stream, state_dir, CARDS["concentration"], on_batch,
        query_name, checkpoint_dir, {"source_col": source_col},
    )
