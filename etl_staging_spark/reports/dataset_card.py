"""The assembled DATASET CARD — the one-page corpus report a
training-data release ships, built from the certified QA cards and
exported through the same HTML/PDF/xlsx machinery as the financial
reports (`reports.html`, `reports.pdf`, `etl.xlsx`).

Every number on the card comes from a registry-certified operator
(hash-matched against its DuckDB oracle by the driver), so the card is
not a new computation to trust — it is a PRESENTATION of already-
certified reads: corpus totals and mixture concentration, per-source
volume, quality distribution, exact and token-weighted duplication,
PII incidence, truncation cost at a stated context length, and the
boilerplate shortlist.

Scale shape: every section collects a BOUNDED frame — #sources rows,
#quality-bins (<= 21), top-k grams — never corpus-grain data; the
corpus-scale work happens inside the certified operators' distributed
plans. The driver-side assembly is O(report lines), the same posture
as `reports.general_ledger`.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..llmdata import stats
from ..tables import load, local_frame


def _num(v) -> dict:
    return {"no_format": v}


def _txt(s) -> dict:
    return {"name": "" if s is None else str(s)}


def _line(name: str, level: int, cols: list[dict], **extra) -> dict:
    return {"name": name, "level": level, "columns": cols, **extra}


HEADERS = ["metric / source", "docs", "tokens", "rate", "detail"]


def _src_label(s) -> str:
    # the NULL source is a real audit bucket, not a blank cell
    return "(no source)" if s is None else str(s)


def _collect_totals(spark: SparkSession, docs: DataFrame):
    """The card's corpus-totals path, shared with the registry entry
    that certifies it (`card_totals_frame`): ONE corpus scan collects
    the bounded per-source counts, then the finish half runs over the
    collected frame — re-running the full card would pay a second
    corpus aggregate for numbers already in hand. Returns (per_rows,
    conc_row); (None, None) on an empty drop."""
    per = stats.concentration_counts(docs).collect()
    if not per:
        return None, None
    # explicit schema: inference over collected Rows fails ("Some of
    # types cannot be determined") when every row's source is None — a
    # fully-NULL-source corpus is a bucket the card deliberately keeps
    per_df = local_frame(
        spark, per, "source string, n_docs_s bigint, n_tok_s bigint"
    )
    return per, stats.finish_concentration_card(per_df).collect()[0]


TOTALS_SCHEMA = (
    "row_kind string, pos bigint, label string, n_docs bigint,"
    " n_tokens bigint, doc_hhi double, token_hhi double,"
    " top_source string, top_doc_share double, top_token_share double"
)


def card_totals_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-totals section of the dataset card AS A FRAME — the
    registry-certified twin of the numbers the Corpus / concentration /
    dominant-source / Sources lines print. Runs the card's EXACT
    assembly path (`_collect_totals`: additive collect ->
    explicit-schema `local_frame` round-trip -> finish half), so the
    driver's hash gate certifies the card's re-derivation, not just
    its certified inputs. One 'total' row (pos 0) carries the corpus
    totals + HHI + dominant source; 'source' rows carry the per-source
    volumes at the card's print order (tokens desc, label asc)."""
    docs = load(spark, sf_dir, "documents")
    per, conc = _collect_totals(spark, docs)
    if per is None:
        return local_frame(spark, [], TOTALS_SCHEMA)
    rows = [(
        "total", 0, None, conc.n_docs, conc.n_tokens,
        conc.doc_hhi, conc.token_hhi, conc.top_source,
        conc.top_doc_share, conc.top_token_share,
    )]
    for i, r in enumerate(
        sorted(per, key=lambda r: (-(r.n_tok_s or 0), _src_label(r.source))),
        start=1,
    ):
        rows.append((
            "source", i, _src_label(r.source), r.n_docs_s, r.n_tok_s,
            None, None, None, None, None,
        ))
    return local_frame(spark, rows, TOTALS_SCHEMA)


def dataset_card_lines(
    spark: SparkSession, sf_dir: str, max_len: int = 64, top_grams: int = 10
) -> list[dict]:
    """Assemble the card's line tree from bounded collects of the
    certified cards. Sections: corpus & mixture concentration,
    per-source volume, quality histogram, duplication (doc- and
    token-weighted), PII incidence, truncation loss at ``max_len``,
    boilerplate top-``top_grams``."""
    docs = load(spark, sf_dir, "documents")
    lines: list[dict] = []

    per, conc = _collect_totals(spark, docs)
    if per is None:
        # an empty (or fully-filtered) drop gets a placeholder card,
        # not an IndexError from the report entry point
        return [_line("Corpus", 0, [
            _num(0), _num(0), _txt(None), _txt("EMPTY CORPUS"),
        ])]
    lines.append(_line("Corpus", 0, [
        _num(conc.n_docs), _num(conc.n_tokens), _txt(None),
        _txt(f"{conc.n_sources} sources"),
    ]))
    lines.append(_line("mixture concentration (HHI docs / tokens)", 1, [
        _txt(None), _txt(None), _num(conc.doc_hhi),
        _txt(f"token HHI {conc.token_hhi}"),
    ]))
    lines.append(_line("dominant source", 1, [
        _txt(None), _txt(None), _num(conc.top_token_share),
        _txt(f"{_src_label(conc.top_source)} "
             f"(docs {conc.top_doc_share}, tokens {conc.top_token_share})"),
    ]))

    # -- per-source volume (bounded: #sources; reuses the ONE collect) --
    lines.append(_line("Sources", 0, [_txt(None)] * 4))
    for r in sorted(
        per, key=lambda r: (-(r.n_tok_s or 0), _src_label(r.source))
    ):
        lines.append(_line(_src_label(r.source), 1, [
            _num(r.n_docs_s), _num(r.n_tok_s), _txt(None), _txt(None),
        ]))

    # -- quality distribution (bounded: <= 21 bins) ----------------------
    # the histogram builder lives in the catalog (import registers it);
    # reusing the REGISTERED entry keeps the card's numbers the exact
    # certified shape, not a near-copy that could drift
    from ..queries import catalog_llm  # noqa: F401
    from ..queries import registry

    qh = sorted(
        registry.QUERIES["quality_histogram"](spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    lines.append(_line("Quality (0.05-wide score bins)", 0, [_txt(None)] * 4))
    for r in qh:
        lines.append(_line(f"bin {r.bin / 20:.2f}+", 1, [
            _num(r.n_docs), _num(r.tokens), _num(r.avg_quality), _txt(None),
        ]))

    # -- duplication (bounded: #sources each) ----------------------------
    lines.append(_line("Duplication", 0, [_txt(None)] * 4))
    doc_rate = {r.source: r for r in stats.dup_rate_by_source(docs).collect()}
    tok_rate = {
        r.source: r for r in stats.dup_token_rate_by_source(docs).collect()
    }
    for s in sorted(doc_rate, key=lambda x: (x is None, _src_label(x))):
        dr, tr = doc_rate[s], tok_rate.get(s)
        lines.append(_line(_src_label(s), 1, [
            _num(dr.dup_docs), _num(tr.dup_tokens if tr else None),
            _num(dr.dup_rate),
            _txt(f"token-weighted {tr.dup_token_rate}" if tr else None),
        ]))

    # -- PII incidence (bounded: #sources) -------------------------------
    lines.append(_line("PII incidence", 0, [_txt(None)] * 4))
    for r in sorted(
        stats.pii_rate_by_source(docs).collect(),
        key=lambda r: (r.source is None, _src_label(r.source)),
    ):
        lines.append(_line(_src_label(r.source), 1, [
            _num(r.n_pii_docs), _txt(None), _num(r.pii_doc_rate),
            _txt(f"emails {r.n_emails}, phones {r.n_phones}, ids {r.n_ids}"),
        ]))

    # -- truncation loss at the stated context length --------------------
    lines.append(_line(
        f"Truncation loss at max_len={max_len}", 0, [_txt(None)] * 4,
    ))
    for r in sorted(
        stats.truncation_loss_card(docs, max_len=max_len).collect(),
        key=lambda r: (r.source is None, _src_label(r.source)),
    ):
        lines.append(_line(_src_label(r.source), 1, [
            _num(r.n_truncated), _num(r.tokens_lost), _num(r.loss_rate),
            _txt(f"trunc rate {r.trunc_rate}"),
        ]))

    # -- boilerplate shortlist (bounded: top_grams) ----------------------
    lines.append(_line("Boilerplate (most widespread 3-grams)", 0,
                       [_txt(None)] * 4))
    for r in stats.boilerplate_ngrams_topk(docs, k=top_grams).collect():
        lines.append(_line(f"#{r.rank} “{r.gram}”", 1, [
            _num(r.n_docs), _num(r.n_occurrences), _txt(None), _txt(None),
        ]))

    # -- topic balance (bounded: n_centroids cells) ----------------------
    # the certified cluster_profile read, when the release ships an
    # embeddings table alongside the documents; an embedding-less
    # corpus simply has no topic section. ONLY the missing-table case
    # is optional — a present-but-unreadable embeddings table must
    # surface its real error, not silently drop the topic section
    try:
        emb = load(spark, sf_dir, "embeddings")
    except AnalysisException as exc:
        if (exc.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        emb = None
    if emb is not None:
        from ..llmdata import simsearch

        lines.append(_line("Topic cells (IVF)", 0, [_txt(None)] * 4))
        for r in sorted(
            simsearch.cluster_profile(emb).collect(), key=lambda r: r.cell
        ):
            lines.append(_line(f"cell {r.cell}", 1, [
                _num(r.n_members), _txt(None), _num(r.share),
                _txt(f"coherence {r.avg_cos}, modal label "
                     f"{r.modal_label} ({r.modal_share})"),
            ]))

        # -- suggested reweight (bounded: #sources) -----------------------
        # the card not only DIAGNOSES topic concentration, it prints the
        # fix: the certified cluster-share mixture at a nominal
        # half-corpus target — what each source's keep count becomes
        # when topic-cell shares drive the mixture weights
        # (`mixture_cluster_share`; actuator:
        # `CorpusPipeline.mixture_by_cluster_share`)
        half = max(1, int(conc.n_docs) // 2)
        lines.append(_line(
            f"Suggested reweight (cluster-share mixture, target {half})",
            0, [_txt(None)] * 4,
        ))
        for r in sorted(
            simsearch.cluster_share_mixture(
                docs.select("doc_id", "source"), emb, half
            ).collect(),
            key=lambda r: (r.source is None, r.source or ""),
        ):
            lines.append(_line(_src_label(r.source), 1, [
                _num(r.n_docs), _num(r.n_kept), _num(r.avg_cell_share),
                _txt(f"avg cell share {r.avg_cell_share}"),
            ]))
    return lines


def export_dataset_card(
    spark: SparkSession,
    sf_dir: str,
    out_base: str,
    max_len: int = 64,
    formats: tuple[str, ...] = ("html", "pdf"),
) -> dict[str, str]:
    """Render the assembled card to ``out_base``.{html,pdf} via the
    shared report exporters. Returns {format: path}."""
    from .html import export_pdf, write_report_html

    lines = dataset_card_lines(spark, sf_dir, max_len=max_len)
    out: dict[str, str] = {}
    title = "Dataset card"
    if "html" in formats:
        out["html"] = write_report_html(
            f"{out_base}.html", title, HEADERS, lines, figure_type=None
        )
    if "pdf" in formats:
        out["pdf"] = export_pdf(
            f"{out_base}.pdf", title, HEADERS, lines, figure_type=None
        )
    return out
