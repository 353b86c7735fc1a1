"""The Arrow argmax kernel (`_ivf_cells_udf`) is the only implementation
of the cid-only decisions — IVF cells (cosine mode) and PQ codes
(raw-dot mode) — so it must be output-identical to the exact-decimal
expressions that publish scores (`_cell_scores_sql`, `_pq_best_sql`):
the double matmul is trusted only when every adjacent margin exceeds
the proven error envelope, and knife-edge rows (exact ties included —
the ties-toward-lower-cid rule cannot be certified by doubles) and rows
with a NULL element must fall back to the decimal rule."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import etl_staging_spark.llmdata.simsearch as ss
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def adv(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [0.0, 1.0, 0.0, 0.0], "a"),
        (2, [1.0, 0.0, 0.0, 0.0], "a"),        # exact dup of vec 0
        # knife-edge: equidistant (to double precision) from two cells
        (3, [0.7071067811865476, 0.7071067811865475, 0.0, 0.0], "b"),
        (5, [0.5, 0.5, None, 0.0], "n"),       # NULL element
        (6, [-1.0, 0.0, 0.0, 0.0], "a"),
        (7, [0.5, 0.5, 0.5, 0.5], "b"),
        (8, [1.0, 1e-17, 0.0, 0.0], "k"),      # sub-envelope perturbation
        (9, [0.6, 0.6, 0.0, 0.0], "t"),
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )


@pytest.fixture(scope="module")
def sf001(spark):
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _cmp_probe(df, cent_arrs, cent_norms, probe):
    scored = ss._cell_scores_sql(cent_arrs, "embedding", cent_norms, "nrm")
    exact = ss.with_norm(df, "embedding").select(
        "vec_id",
        F.expr(f"transform(slice(array_sort({scored}), 1, {probe}), s -> s.cid)")
        .alias("p"),
    ).collect()
    cells = ss._ivf_cells_udf(cent_arrs, cent_norms, probe)
    kernel = df.select("vec_id", cells(F.col("embedding")).alias("p")).collect()
    assert {r[0]: list(r[1]) for r in exact} == {r[0]: list(r[1]) for r in kernel}


def test_ivf_cells_kernel_matches_exact_on_ties_and_nulls(adv):
    cent_arrs, cent_norms = ss._resolve_centroids(
        adv, None, 4, "vec_id", "embedding"
    )
    for probe in (1, 2, 3, 4):  # 4 = every cell: all margins decide
        _cmp_probe(adv, cent_arrs, cent_norms, probe)


def test_ivf_cells_kernel_matches_exact_on_real_embeddings(sf001):
    cent_arrs, cent_norms = ss._resolve_centroids(
        sf001, None, 8, "vec_id", "embedding"
    )
    for probe in (1, 2, 3):
        _cmp_probe(sf001, cent_arrs, cent_norms, probe)


def test_pq_code_kernel_matches_exact(adv, sf001):
    for df, n_codes, m in ((adv, 4, 2), (adv, 4, 4), (sf001, 8, 2), (sf001, 8, 4)):
        d, books = ss.pq_codebooks(df, m, n_codes, "vec_id", "embedding")
        exact = df.select(
            "vec_id",
            F.array(*[
                F.expr(ss._pq_best_sql(books[j], f"slice(embedding, {j * d + 1}, {d})") + ".cid")
                for j in range(m)
            ]).alias("c"),
        ).collect()
        kernel = df.select(
            "vec_id", ss._pq_codes(books, "embedding", d).alias("c")
        ).collect()
        assert {r[0]: list(r[1]) for r in exact} == {r[0]: list(r[1]) for r in kernel}


def test_raw_dot_knife_edge_uses_mass_envelope(spark):
    """Raw dots have no scale, so a fixed gap certifies nothing. Code 1's
    products are (1e14, 0.0077, -1e14): the exact decimal dot is 0.0077,
    but double summation absorbs 0.0077 into 1e14 and returns 0.0 — a
    0.005 margin in favour of code 0 (dot 0.005), far above any fixed
    gap. Only the mass envelope (1e-11 * (2e14 + 1)) sends the row to
    the decimal rule, which picks code 1."""
    book = {0: [0.0, 0.005, 0.0], 1: [1e7, 0.0077, -1e7]}
    df = spark.createDataFrame(
        [(i, [1e7, 1.0, 1e7]) for i in range(64)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    exact = {
        r[0] for r in df.select(F.expr(ss._pq_best_sql(book, "embedding") + ".cid")).collect()
    }
    got = {
        r[0][0]
        for r in df.select(ss._ivf_cells_udf(book, None, 1)(F.col("embedding"))).collect()
    }
    assert got == exact == {1}
