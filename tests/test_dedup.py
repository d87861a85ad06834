"""Deduplication operator tests: n-gram Jaccard, MinHash+LSH,
SimHash — validated against brute-force Python oracles on small corpora.
"""

from __future__ import annotations

import itertools
import re

import pytest

from crawler_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_duplicates,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat today"),    # near dup of 1
    (4, "pack my box with five dozen liquor jugs"),
    (5, "Pack my box with five dozen liquor jugs!!"),            # near dup of 4 (case/punct)
    (6, "completely different content about spark dataframes"),
    (7, ""),                                                     # empty
]


def _py_tokens(t):
    return [w for w in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split() if w]


def _py_shingles(t, n=3):
    toks = _py_tokens(t)
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}


def _py_jaccard(a, b, n=3):
    sa, sb = _py_shingles(a, n), _py_shingles(b, n)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "id long, text string")


def test_ngram_jaccard_matches_python_oracle(docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "id", "text", n=3, threshold=0.3).collect()
    }
    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = _py_jaccard(ta, tb)
        if j >= 0.3:
            expected[(ia, ib)] = j
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == pytest.approx(expected[k], abs=1e-6)
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (4, 5) in got and got[(4, 5)] == 1.0  # case/punct-insensitive


def test_stop_shingle_guard(docs_df):
    # dropping shingles shared by >1 docs removes the exact-dup pair's
    # entire intersection → pair disappears (guard works)
    got = ngram_jaccard_pairs(docs_df, "id", "text", n=3, threshold=0.9, max_shingle_freq=1)
    assert got.count() == 0


def test_minhash_signature_shape_and_determinism(docs_df):
    sigs = minhash_signatures(docs_df, "id", "text", num_hashes=32).collect()
    assert all(len(r["signature"]) == 32 for r in sigs)
    ids = {r["id"] for r in sigs}
    assert 7 not in ids  # empty doc has no shingles → dropped
    by_id = {r["id"]: r["signature"] for r in sigs}
    assert by_id[1] == by_id[2]  # identical text → identical signature
    # components use distinct hash seeds (regression: PySpark passes the
    # array index into 2-param lambdas, which once clobbered the seed)
    assert len(set(by_id[1])) > 16
    sigs2 = {r["id"]: r["signature"] for r in minhash_signatures(docs_df, "id", "text", num_hashes=32).collect()}
    assert by_id == sigs2  # deterministic across runs


def test_minhash_estimates_track_true_jaccard(docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_duplicates(docs_df, "id", "text", num_hashes=64, num_bands=16, threshold=0.25).collect()
    }
    assert got[(1, 2)] == 1.0  # exact dups always estimated 1.0
    for (a, b), est in got.items():
        true_j = _py_jaccard(DOCS[a - 1][1], DOCS[b - 1][1])
        assert abs(est - true_j) < 0.35, (a, b, est, true_j)  # 64-hash variance bound
    # dissimilar docs must not appear
    assert all(not (6 in pair) for pair in got)


def test_lsh_banding_recall_for_high_similarity(docs_df):
    # J=1.0 pairs are guaranteed candidates in every band
    sigs = minhash_signatures(docs_df, "id", "text", num_hashes=64)
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, 16, 4).collect()}
    assert (1, 2) in pairs and (4, 5) in pairs


def test_simhash_properties(docs_df):
    fps = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs_df, "id", "text").collect()}
    assert fps[1] == fps[2]  # identical text
    assert fps[4] == fps[5]  # tokens identical after normalization
    assert fps[1] != fps[6]
    near = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_duplicates(docs_df, "id", "text", max_hamming=3).collect()}
    assert near[(1, 2)] == 0 and near[(4, 5)] == 0
    assert all(h <= 3 for h in near.values())


def test_prefix_jaccard_equals_allpairs(spark):
    """Prefix-filtered exact Jaccard returns EXACTLY the unguarded
    all-shared-shingles result (completeness of the AllPairs prefix bound
    + exact verify) on real documents at two thresholds."""
    from crawler_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # 0.07 exercises the float-boundary class (0.07·100 = 7.0000000000000001
    # would drop exact-boundary pairs without the ε relaxation)
    for t in (0.07, 0.3, 0.5):
        plain = {
            (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=t).collect()
        }
        pref = {
            (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"], r["jaccard"])
            for r in ngram_jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=t).collect()
        }
        assert pref == plain, (t, len(pref), len(plain))


def test_near_dup_clusters_matches_union_find(spark):
    """Min-label propagation CC == union-find ground truth on a seeded
    random graph (chains, stars, cross-links, isolated pairs)."""
    import random

    from crawler_spark.operators.dedup import near_dup_clusters

    rng = random.Random(7)
    edges = set()
    for _ in range(300):
        a = rng.randrange(500)
        b = rng.randrange(500)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)

    parent = list(range(500))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}
    # canonical label = min member id, which union-by-min guarantees here
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["node"]: r["cluster_id"] for r in near_dup_clusters(df).collect()}
    assert got == want


def test_simhash_max_hamming_guard(docs_df):
    """The 4-chunk pigeonhole candidate join is only complete for
    hamming <= 3; a wider radius must be rejected, not silently lossy."""
    import pytest

    from crawler_spark.operators.dedup import simhash_near_duplicates

    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_duplicates(docs_df, "doc_id", "text", max_hamming=4)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_duplicates(docs_df, "doc_id", "text", max_hamming=-1)
