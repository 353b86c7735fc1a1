"""NULL and zero vectors at every entry point whose cid-only decision
runs through an Arrow kernel (`_ivf_cells_udf`, `_mt_keys_udf`).

Defined behaviour: a NULL vector has no cell, code or bucket and is
excluded before the kernel (which raises on NULL by contract); a zero
vector has no cosine, so its cell is the lowest centroid id, and it
never verifies or ranks: the cosine scorers drop it before any pair
divides by its norm."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_staging_spark.llmdata import simsearch as ss
from etl_staging_spark.llmdata.hashing import hyperplanes
from etl_staging_spark.tables import release_pinned

DIM = 8
NULL_ID, ZERO_ID, ALL0_ID = 4, 5, 6


def _e(i):
    return [1.0 if j == i else 0.0 for j in range(DIM)]


def _mix(a, b):
    return [a if j == 0 else b if j == 1 else 0.0 for j in range(DIM)]


@pytest.fixture(scope="module")
def emb(spark):
    # a vector on the negative side of all 8 sign-LSH planes: its
    # bucket (and every band key) is all '0' — the bucket a NULL
    # vector fell into when the signs were SQL folds
    w = np.array(hyperplanes(ss.N_PLANES, DIM))
    all0 = (-np.linalg.solve(w, np.ones(DIM))).tolist()
    rows = [
        (0, _e(0)),
        (1, _e(1)),
        (2, _mix(0.9, 0.1)),
        (3, _mix(0.1, 0.9)),
        (NULL_ID, None),
        (ZERO_ID, [0.0] * DIM),
        (ALL0_ID, all0),
        (7, [2.0 * x for x in all0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _collect(df):
    rows = df.collect()
    release_pinned(df)
    return rows


def test_ivf_topk_excludes_null_vectors(emb):
    no_zero = emb.where(F.col("vec_id") != ZERO_ID)
    rows = _collect(ss.ivf_topk(
        no_zero, F.col("vec_id").isin(0, NULL_ID), dim=DIM, k=10,
        n_centroids=2, n_probe=2,
    ))
    assert {r.qid for r in rows} == {0}
    assert NULL_ID not in {r.cid for r in rows}
    assert all(r.cosine is not None for r in rows)


def test_semantic_dup_pairs_assigns_zero_vector(emb):
    # explicit centroids: nothing but the zero vector lands in cell 0,
    # so the zero vector is assigned (lowest id) and never scored
    cents = [[-1.0, -1.0] + [0.0] * 6, [1.0, 1.0] + [0.0] * 6]
    rows = _collect(ss.semantic_dup_pairs(
        emb.where(F.col("vec_id") < ALL0_ID), threshold=0.95, dim=DIM,
        centroids=cents,
    ))
    assert {(r.d1, r.d2) for r in rows} == {(0, 2), (1, 3)}
    assert {r.cell for r in rows} == {1}


def test_cluster_cell_counts_defines_null_and_zero(emb):
    rows = ss.cluster_cell_counts(
        emb.where(F.col("vec_id") < ALL0_ID), n_centroids=2
    ).collect()
    # cell 0 = {0, 2, zero vector}; cell 1 = {1, 3}; NULL excluded
    assert {r.cell: r.n_vecs for r in rows} == {0: 3, 1: 2}


def test_cluster_balanced_sample_defines_null_and_zero(emb):
    rows = ss.cluster_balanced_sample(
        emb.where(F.col("vec_id") < ALL0_ID), target_total=100, n_centroids=2
    ).collect()
    cells = {r.vec_id: r.cell for r in rows}
    assert NULL_ID not in cells
    assert cells[ZERO_ID] == 0


def test_pq_encode_excludes_null_vectors(emb):
    frame = emb.where(F.col("vec_id") < ALL0_ID)
    got = {r.vec_id: list(r.codes) for r in ss.pq_encode(frame, m=2, n_codes=2).collect()}
    d, books = ss.pq_codebooks(frame, 2, 2, "vec_id", "embedding")
    want = {
        r[0]: list(r[1])
        for r in frame.where(F.col("embedding").isNotNull()).select(
            "vec_id",
            F.array(*[
                F.expr(ss._pq_best_sql(books[j], f"slice(embedding, {j * d + 1}, {d})") + ".cid")
                for j in range(2)
            ]),
        ).collect()
    }
    assert got == want
    assert set(got) == {0, 1, 2, 3, ZERO_ID}


def test_pq_ivf_topk_routes_zero_vector_and_drops_null(emb):
    rows = _collect(ss.pq_ivf_topk(
        emb.where(F.col("vec_id") < ALL0_ID), k=10, n_queries=2,
        n_centroids=2, n_probe=1, m=2, n_codes=2,
    ))
    # query 0's cell (cell 0) holds vec 2 and the zero vector
    assert {r.cid for r in rows if r.qid == 0} == {2, ZERO_ID}
    assert NULL_ID not in {r.cid for r in rows}


def test_cosine_dup_pairs_excludes_null_vectors(emb):
    no_zero = emb.where(F.col("vec_id") != ZERO_ID)
    cands = ss.cosine_dup_pairs(
        no_zero, threshold=0.95, dim=DIM, bands=2, candidates_only=True
    )
    pairs = {(r.d1, r.d2) for r in _collect(cands)}
    assert (ALL0_ID, 7) in pairs
    assert all(NULL_ID not in p for p in pairs)
    verified = _collect(ss.cosine_dup_pairs(no_zero, threshold=0.95, dim=DIM))
    assert {(r.d1, r.d2) for r in verified} == {(0, 2), (1, 3), (ALL0_ID, 7)}


def test_lsh_bucketed_topk_excludes_null_vectors(emb):
    rows = _collect(ss.lsh_bucketed_topk(
        emb.where(F.col("vec_id") != ZERO_ID), F.col("vec_id") == ALL0_ID,
        dim=DIM, k=10,
    ))
    assert {r.cid for r in rows} == {7}
    assert rows[0].cosine == 1.0


def test_ivf_topk_never_ranks_zero_vector(emb):
    # the zero vector shares cell 0 with queries 0 and 2
    rows = _collect(ss.ivf_topk(
        emb.where(F.col("vec_id") < ALL0_ID), F.col("vec_id").isin(0, ZERO_ID),
        dim=DIM, k=10, n_centroids=2, n_probe=2,
    ))
    assert {r.qid for r in rows} == {0}
    assert ZERO_ID not in {r.cid for r in rows}
    assert {r.cid for r in rows} == {1, 2, 3}


def test_semantic_dup_pairs_never_verifies_zero_vector(emb):
    # seed centroids e0, e1: the zero vector shares cell 0 with 0 and 2
    rows = _collect(ss.semantic_dup_pairs(
        emb.where(F.col("vec_id") < ALL0_ID), threshold=0.95, dim=DIM,
        n_centroids=2,
    ))
    assert {(r.d1, r.d2) for r in rows} == {(0, 2), (1, 3)}


def test_cosine_topk_never_ranks_zero_vector(emb):
    rows = _collect(ss.cosine_topk(
        emb.where(F.col("vec_id") < ALL0_ID), F.col("vec_id").isin(0, ZERO_ID),
        k=10,
    ))
    assert {r.qid for r in rows} == {0}
    assert {r.cid for r in rows} == {1, 2, 3}


def test_lsh_multitable_topk_never_ranks_zero_vector(emb):
    rows = _collect(ss.lsh_multitable_topk(
        emb.where(F.col("vec_id") != NULL_ID),
        F.col("vec_id").isin(ALL0_ID, ZERO_ID), dim=DIM, k=10,
    ))
    assert {r.qid for r in rows} == {ALL0_ID}
    assert ZERO_ID not in {r.cid for r in rows}


def test_pq_adc_topk_null_query_ranks_nothing(spark):
    frame = spark.createDataFrame(
        [(0, _e(0)), (1, _e(1)), (2, _mix(0.9, 0.1)), (3, None)],
        "vec_id long, embedding array<double>",
    )
    rows = _collect(ss.pq_adc_topk(frame, k=10, n_queries=4, m=2, n_codes=2))
    assert {r.qid for r in rows} == {0, 1, 2}
    assert 3 not in {r.cid for r in rows}


def test_pq_codebooks_null_seed_is_degenerate(spark):
    # a NULL seed vector cannot define a code: the corpus is degenerate
    frame = spark.createDataFrame(
        [(0, None), (1, _e(1)), (2, _mix(0.9, 0.1)), (3, _e(0))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="degenerate corpus"):
        ss.pq_adc_topk(frame, k=10, n_queries=2, m=2, n_codes=2)
