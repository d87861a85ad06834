"""Seen-set membership structures (SURVEY.md M3 / north rule): partitioned
Bloom filters (the state the epoch probes), the cuckoo sidecar with
deletions (built only on the deletion path), and the exact membership test
the engine runs (plain and bloom-accelerated). Properties: ZERO false
negatives (hard invariant), measured FPR below target, deletion support,
bloom bytes pinned to the documented sizing, exactness of the composed
filter+verify.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.seenset import (
    CuckooFilter,
    bloom_build,
    bloom_params,
    bloom_probe,
    build_filters,
    build_sidecar,
    flag_seen,
    probe_candidates,
)

RNG = np.random.default_rng(42)
KEYS = RNG.integers(0, 2**63, size=20_000, dtype=np.int64).view(np.uint64)
SEEN, UNSEEN = np.unique(KEYS[:10_000]), KEYS[10_000:]
UNSEEN = np.setdiff1d(UNSEEN, SEEN)


def test_bloom_no_false_negatives_and_fpr():
    m, k = bloom_params(len(SEEN), fpp=1e-3)
    state = bloom_build(SEEN, m, k)
    assert bloom_probe(state, SEEN, k).all()  # zero false negatives
    fpr = bloom_probe(state, UNSEEN, k).mean()
    assert fpr < 5e-3, fpr  # target 1e-3 with slack for finite sample


def test_bloom_sizing_formula():
    m, k = bloom_params(1000, fpp=1e-3)
    assert m >= 14_000  # ≈14.4 bits/key at 1e-3
    assert 7 <= k <= 12
    assert m % 64 == 0


def test_cuckoo_membership_and_fpr():
    ck = CuckooFilter.for_capacity(len(SEEN))
    assert ck.insert_many(SEEN) == 0  # no overflow at sized capacity
    assert ck.contains_many(SEEN).all()  # zero false negatives
    fpr = ck.contains_many(UNSEEN).mean()
    assert fpr < 2e-3, fpr  # 16-bit fp, 2 buckets × 4 slots → ~1e-3


def test_cuckoo_delete_restores_nonmembership():
    ck = CuckooFilter.for_capacity(len(SEEN))
    ck.insert_many(SEEN)
    victims = SEEN[:500]
    assert ck.delete_many(victims) == 0  # every victim found
    # deleted keys gone (modulo other keys' colliding fingerprints)
    assert ck.contains_many(victims).mean() < 2e-3
    # survivors unaffected — the property Bloom filters cannot give
    assert ck.contains_many(SEEN[500:]).all()


def test_cuckoo_serialization_roundtrip():
    ck = CuckooFilter.for_capacity(1000)
    ck.insert_many(SEEN[:1000])
    ck2 = CuckooFilter.from_bytes(ck.to_bytes())
    assert ck2.n_buckets == ck.n_buckets
    assert np.array_equal(ck2.contains_many(SEEN[:1000]), ck.contains_many(SEEN[:1000]))


@pytest.fixture(scope="module")
def seen_df(spark):
    return spark.createDataFrame(
        [(int(np.int64(k)),) for k in SEEN[:4000]], "seen_hash long"
    )


@pytest.fixture(scope="module")
def filters(spark, seen_df):
    f = build_filters(seen_df, n_partitions=8).cache()
    f.count()
    return f


@pytest.fixture(scope="module")
def sidecar(spark, seen_df):
    s = build_sidecar(seen_df, n_partitions=8).cache()
    s.count()
    return s


def test_build_filters_partition_coverage(filters, seen_df):
    assert filters.columns == ["pid", "n_keys", "k_hashes", "bloom"]
    rows = filters.collect()
    assert {r["pid"] for r in rows} == set(range(8)) or len(rows) <= 8
    assert sum(r["n_keys"] for r in rows) == seen_df.distinct().count()
    # every partition's bloom is bloom_build over that partition's unique
    # keys at the documented sizing: bloom_params(int(n * 1.3) + 16), fpp 1e-3
    keys = SEEN[:4000]
    pids = keys.view(np.int64) % 8  # == pmod(seen_hash, 8)
    for r in rows:
        part = np.unique(keys[pids == r["pid"]])
        m, k = bloom_params(int(len(part) * 1.3) + 16)
        assert (r["n_keys"], r["k_hashes"]) == (len(part), k)
        assert r["bloom"] == bloom_build(part, m, k)


def test_probe_no_false_negatives_spark(spark, filters, seen_df):
    cand = seen_df.select(F.col("seen_hash").alias("url_hash"))
    probed = probe_candidates(cand, filters, n_partitions=8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_probe_cuckoo_path(spark, sidecar, seen_df):
    assert sidecar.columns == ["pid", "n_keys", "overflowed", "cuckoo"]
    cand = seen_df.select(F.col("seen_hash").alias("url_hash"))
    probed = probe_candidates(cand, sidecar, n_partitions=8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_flag_seen_is_exact(spark, filters, seen_df):
    """Plain and bloom-accelerated paths flag exactly the seen candidates."""
    seen_keys = {r["seen_hash"] for r in seen_df.collect()}
    seen = seen_df.select("seen_hash", F.concat(F.lit("k@"), F.col("seen_hash")).alias("seen_key"))
    mixed = list(seen_keys)[:1500] + [int(np.int64(k)) for k in UNSEEN[:1500]]
    cand = spark.createDataFrame([(k, f"k@{k}") for k in mixed], "url_hash long, _skey string")
    expected = {k for k in mixed if k not in seen_keys}
    for flt, parts in ((None, 0), (filters, 8)):
        out = flag_seen(cand, seen, flt, parts)
        rows = out.collect()
        assert len(rows) == len(mixed)  # one row per candidate
        got = {r["url_hash"] for r in rows if r["_ex"] is None}
        assert got == expected  # exact: no FP survives, no FN dropped


def test_empty_partition_candidates_pass_through(spark, seen_df):
    # a candidate whose pid has NO filter row (empty seen partition) must
    # come back maybe_seen=False, not be dropped
    filters_sparse = build_filters(seen_df.limit(1), n_partitions=8)
    cand = spark.createDataFrame([(int(np.int64(k)),) for k in UNSEEN[:100]], "url_hash long")
    probed = probe_candidates(cand, filters_sparse, n_partitions=8)
    assert probed.count() == 100
    assert probed.filter(F.col("maybe_seen")).count() == 0


def test_cuckoo_overflowed_partition_degrades_to_maybe_seen(spark, sidecar, seen_df):
    """A partition whose cuckoo build overflowed has false negatives for
    the lost fingerprints, so the cuckoo probe must degrade the WHOLE
    partition to maybe_seen=True (conservative — the exact verify
    restores precision) instead of probing a filter that dropped keys."""
    # force the overflowed flag on pid 3 without rebuilding a filter
    forced = sidecar.withColumn(
        "overflowed",
        F.when(F.col("pid") == 3, F.lit(7)).otherwise(F.col("overflowed")),
    )
    cand = spark.createDataFrame(
        [(int(np.int64(k)),) for k in UNSEEN[:2000]], "url_hash long"
    )
    probed = probe_candidates(cand, forced, n_partitions=8)
    pid = F.pmod(F.col("url_hash"), F.lit(8)).cast("int")
    rows = probed.withColumn("_pid", pid).collect()
    # every candidate in the degraded partition reads maybe_seen
    assert all(r["maybe_seen"] for r in rows if r["_pid"] == 3)
    # other partitions keep real probe results (unseen keys mostly miss)
    others = [r for r in rows if r["_pid"] != 3]
    assert any(not r["maybe_seen"] for r in others)


def test_flag_seen_collision_cannot_drop_unseen_key(spark):
    """Suspects verify on the FULL string key, so a 64-bit hash collision
    between a candidate and a DIFFERENT seen URL cannot drop the unseen
    candidate (north rule)."""
    # two distinct urls forced onto one hash value (synthetic collision)
    seen = spark.createDataFrame(
        [(42, "type@url-seen")], "seen_hash long, seen_key string"
    )
    cand = spark.createDataFrame(
        [(42, "type@url-other"), (42, "type@url-seen"), (7, "type@url-fresh")],
        "url_hash long, _skey string",
    )
    filters = build_filters(seen, n_partitions=4)
    out = flag_seen(cand, seen, filters, n_partitions=4)
    # the collision survives, only the true dup is flagged
    assert {r["_skey"] for r in out.filter(F.col("_ex").isNull()).collect()} == {
        "type@url-fresh", "type@url-other",
    }
