"""Similarity-search operator tests: exact brute-force cosine top-k vs a
numpy oracle; LSH bucketing and the IVF approximate path checked for
determinism, recall against the exact result, and bucket/cell mechanics.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.similarity import (
    cosine_topk,
    ivf_ann_topk,
    ivf_index,
    pairwise_cosine_near_dups,
    with_lsh_bucket,
)

DIM, N = 8, 200
RNG = np.random.default_rng(7)
VECS = RNG.normal(size=(N, DIM)).astype(np.float32)
# plant near-duplicates: vector 10 ≈ 11, 20 ≈ 21
VECS[11] = VECS[10] + RNG.normal(scale=0.01, size=DIM).astype(np.float32)
VECS[21] = VECS[20] + RNG.normal(scale=0.01, size=DIM).astype(np.float32)
QUERY = VECS[10].astype(float).tolist()


def _np_cosine(m, q):
    q = np.asarray(q, dtype=np.float64)
    md = m.astype(np.float64)
    return (md @ q) / (np.linalg.norm(md, axis=1) * np.linalg.norm(q))


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [(i, [float(x) for x in VECS[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_matches_numpy(vec_df):
    got = cosine_topk(vec_df, QUERY, k=10).collect()
    sims = _np_cosine(VECS, QUERY)
    expected_order = sorted(range(N), key=lambda i: (-round(sims[i], 6), i))[:10]
    assert [r["id"] for r in got] == expected_order
    for r in got:
        assert r["cosine_sim"] == pytest.approx(sims[r["id"]], abs=2e-6)
    assert got[0]["id"] == 10 and got[1]["id"] == 11  # planted near-dup ranks 2nd


def test_lsh_bucket_determinism_and_near_dup_colocation(vec_df):
    b1 = {r["vec_id"]: r["bucket"] for r in with_lsh_bucket(vec_df, 8).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in with_lsh_bucket(vec_df, 8).collect()}
    assert b1 == b2
    assert 0 <= min(b1.values()) and max(b1.values()) < 2**8
    # ~identical vectors project to the same side of every hyperplane
    assert b1[10] == b1[11] and b1[20] == b1[21]


def test_ivf_index_assigns_every_vector(vec_df):
    centroids, assigned = ivf_index(vec_df, n_cells=8)
    assert centroids.count() == 8
    assert assigned.count() == N
    cells = {r["cell_id"] for r in assigned.select("cell_id").distinct().collect()}
    assert cells <= set(range(8))


def test_ivf_ann_recall(vec_df):
    exact = [r["id"] for r in cosine_topk(vec_df, QUERY, k=5).collect()]
    approx = [r["id"] for r in ivf_ann_topk(vec_df, QUERY, k=5, n_cells=8, n_probe=4).collect()]
    # probing half the cells must recover most of the true top-5,
    # and always the planted exact/near match
    assert 10 in approx and len(set(exact) & set(approx)) >= 3


def test_pairwise_near_dups_finds_planted_pairs(vec_df):
    pairs = {(r["id_a"], r["id_b"]) for r in pairwise_cosine_near_dups(vec_df, threshold=0.99).collect()}
    assert (10, 11) in pairs and (20, 21) in pairs


def test_on_testdata_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    q = [1.0] + [0.0] * (dim - 1)
    top = cosine_topk(emb, q, k=5).collect()
    assert len(top) == 5
    assert all(-1.0001 <= r["cosine_sim"] <= 1.0001 for r in top)
    sims = [r["cosine_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
