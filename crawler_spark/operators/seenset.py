"""Partitioned URL-seen membership: Bloom filters + cuckoo-filter sidecar.

The reference's seen-set is an in-memory history array per traversal
(ghcrawler/lib/request.js:117-121, 247-251) plus the AttenuatedQueue TTL
cache (ghcrawler/providers/queuing/attenuatedQueue.js:36-69) — both
vanish at 10^10 URLs. The north rule replaces them with:

* **partitioned Bloom filters** (`build_filters`) — the seen set is
  hash-partitioned on `pmod(seen_hash, P)`; each partition aggregates its
  keys into an independent Bloom filter (classic double-hashing
  construction, Kirsch & Mitzenmacher 2006: g_i(x) = h1(x) + i*h2(x) mod
  m), built vectorized in numpy inside one `applyInPandas` call per
  partition — zero per-row Python. This is the state the epoch probes.
* **a cuckoo-filter sidecar** (`build_sidecar`; Fan et al., CoNEXT 2014)
  that supports *deletions* — needed when deadletter purges / forced
  reprocessing remove keys from the seen set, which a Bloom filter cannot
  do. Same partitioning; its insert runs per key in Python, so only the
  deletion path (`ops.remove_from_filters`) builds and reads it.
* **an exact verifier join** (`flag_seen`) over only the bloom-positive
  candidates — false positives are re-checked against the real seen
  table on the string key, so the final membership is EXACT (zero false
  positives escape, and blooms have zero false negatives by
  construction); the filters exist purely to keep the join's probe side
  small.

Scale shape: filters live as one row per partition in a DataFrame;
`probe_candidates` co-partitions candidates with filter states via a
**cogroup applyInPandas** (no broadcast of the multi-GB filter set; each
task sees exactly one partition's filter and that partition's
candidates).

Filter sizing: m = -n·ln(fpp)/ln(2)² bits, k = m/n·ln(2) hashes — at
fpp=1e-3, ~14.4 bits/key → a 10^10-key seen set is ~18 GB of filter
state *total*, split over P partitions (P=4096 → ~4.4 MB per
partition), each built and probed independently.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# shared hashing: split one 64-bit key into (h1, h2) for double hashing
# ---------------------------------------------------------------------------

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _h1_h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two derived hash streams from a 64-bit key (splitmix64 finalizer —
    public-domain constants), vectorized over the whole batch."""
    x = keys.astype(np.uint64)
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
    z = x
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK64
    z = z ^ (z >> np.uint64(31))
    h1 = z
    # second independent stream: one more splitmix round
    y = (z + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
    y = ((y ^ (y >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
    y = ((y ^ (y >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK64
    h2 = (y ^ (y >> np.uint64(31))) | np.uint64(1)  # odd → full-period stride
    return h1, h2


# ---------------------------------------------------------------------------
# Bloom filter: vectorized build/probe over numpy bit arrays
# ---------------------------------------------------------------------------


def bloom_params(n_keys: int, fpp: float = 1e-3) -> tuple[int, int]:
    """(m_bits, k_hashes) for target capacity/false-positive rate."""
    n = max(n_keys, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)  # whole words
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def bloom_build(keys: np.ndarray, m_bits: int, k: int) -> bytes:
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(keys):
        h1, h2 = _h1_h2(keys)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                             np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    return bits.tobytes()


def bloom_probe(state: bytes, keys: np.ndarray, k: int) -> np.ndarray:
    bits = np.frombuffer(state, dtype=np.uint8)
    m_bits = len(bits) * 8
    out = np.ones(len(keys), dtype=bool)
    if len(keys):
        h1, h2 = _h1_h2(keys)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            hit = (bits[(idx >> np.uint64(3)).astype(np.int64)]
                   >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
            out &= hit.astype(bool)
    return out


# ---------------------------------------------------------------------------
# Cuckoo filter: 4-slot buckets, 16-bit fingerprints, deletion support
# ---------------------------------------------------------------------------

_SLOTS = 4
_MAX_KICKS = 500


class CuckooFilter:
    """Partial-key cuckoo filter (Fan et al. 2014). Serializable state:
    an (n_buckets × 4) uint16 table; fingerprint 0 = empty slot."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        self.n_buckets = n_buckets
        self.table = table if table is not None else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)

    @classmethod
    def for_capacity(cls, n_keys: int, load: float = 0.84) -> "CuckooFilter":
        nb = max(8, 1 << math.ceil(math.log2(max(n_keys, 1) / (_SLOTS * load) + 1)))
        return cls(nb)

    def _fp_and_buckets(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        h1, h2 = _h1_h2(keys)
        fp = ((h2 >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty marker
        nb = np.uint64(self.n_buckets)
        i1 = (h1 % nb).astype(np.int64)
        # partial-key displacement: i2 = i1 XOR hash(fp) (mod power-of-2 buckets)
        i2 = (i1 ^ self._fp_hash(fp)) & (self.n_buckets - 1)
        return fp, i1, i2

    @staticmethod
    def _fp_hash(fp: np.ndarray) -> np.ndarray:
        x = fp.astype(np.uint64)
        x = (x * np.uint64(0x5BD1E995)) & _MASK64
        return (x ^ (x >> np.uint64(13))).astype(np.int64)

    # -- mutation (per key in Python: a free slot in i1 or i2, else the kick loop) --
    def insert_many(self, keys: np.ndarray) -> int:
        fp, i1, i2 = self._fp_and_buckets(keys)
        failed = 0
        for j in range(len(keys)):
            if not self._insert_one(int(fp[j]), int(i1[j]), int(i2[j])):
                failed += 1
        return failed

    def _insert_one(self, fp: int, i1: int, i2: int) -> bool:
        for b in (i1, i2):
            row = self.table[b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # kick loop (plain-int LCG: modular wraparound is intended)
        b = i1
        rng_state = fp | (i1 << 16)
        for _ in range(_MAX_KICKS):
            rng_state = (rng_state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            slot = rng_state >> 62
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = int((b ^ int(self._fp_hash(np.array([fp], dtype=np.uint16))[0])) & (self.n_buckets - 1))
            row = self.table[b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        return False

    def delete_many(self, keys: np.ndarray) -> int:
        """Remove one fingerprint copy per key; returns #not-found."""
        fp, i1, i2 = self._fp_and_buckets(keys)
        misses = 0
        for j in range(len(keys)):
            if not self._delete_one(int(fp[j]), int(i1[j]), int(i2[j])):
                misses += 1
        return misses

    def _delete_one(self, fp: int, i1: int, i2: int) -> bool:
        for b in (i1, i2):
            row = self.table[b]
            hit = np.nonzero(row == fp)[0]
            if len(hit):
                row[hit[0]] = 0
                return True
        return False

    # -- membership (fully vectorized) --
    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if not len(keys):
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_and_buckets(keys)
        t = self.table
        hit1 = (t[i1] == fp[:, None]).any(axis=1)
        hit2 = (t[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    # -- serialization --
    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, state: bytes) -> "CuckooFilter":
        table = np.frombuffer(state, dtype=np.uint16).reshape(-1, _SLOTS).copy()
        return cls(len(table), table)


# ---------------------------------------------------------------------------
# DataFrame-level API
# ---------------------------------------------------------------------------

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("k_hashes", T.IntegerType()),
        T.StructField("bloom", T.BinaryType()),
    ]
)

SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        # cuckoo insert overflows in this partition: when > 0 the cuckoo
        # filter has false NEGATIVES for the overflowed keys, so the probe
        # degrades such partitions to maybe_seen=True
        T.StructField("overflowed", T.LongType()),
        T.StructField("cuckoo", T.BinaryType()),
    ]
)


def _capacity(n_keys: int) -> int:
    """Filter sizing: 30% headroom over the partition's key count."""
    return int(n_keys * 1.3) + 16


def _bloom_state(keys: np.ndarray) -> dict:
    m_bits, k = bloom_params(_capacity(len(keys)))
    return {"k_hashes": k, "bloom": bloom_build(keys, m_bits, k)}


def _cuckoo_state(keys: np.ndarray) -> dict:
    ck = CuckooFilter.for_capacity(_capacity(len(keys)))
    overflowed = ck.insert_many(keys)
    return {"overflowed": int(overflowed), "cuckoo": ck.to_bytes()}


def _per_partition(seen: DataFrame, key_col: str, n_partitions: int, state, schema) -> DataFrame:
    """One row per hash partition `pmod(key, n_partitions)` of the seen
    set: `state(unique sorted keys)` as columns next to (pid, n_keys).
    `groupBy(pid)` co-locates each partition's keys; the per-group numpy
    build is a single Arrow batch pipeline."""
    pid = F.pmod(F.col(key_col), F.lit(n_partitions)).cast("int")
    parts = seen.select(F.col(key_col).alias("key"), pid.alias("pid"))

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = np.unique(pdf["key"].to_numpy(dtype=np.int64).view(np.uint64))
        return pd.DataFrame([{"pid": int(pdf["pid"].iloc[0]), "n_keys": len(keys), **state(keys)}])

    return parts.groupBy("pid").applyInPandas(_build, schema)


def build_filters(seen: DataFrame, key_col: str = "seen_hash", n_partitions: int = 32) -> DataFrame:
    """One bloom filter per hash partition of the seen set (BLOOM_SCHEMA):
    the state `flag_seen` probes every epoch."""
    return _per_partition(seen, key_col, n_partitions, _bloom_state, BLOOM_SCHEMA)


def build_sidecar(seen: DataFrame, key_col: str = "seen_hash", n_partitions: int = 32) -> DataFrame:
    """One cuckoo filter per hash partition of the seen set
    (SIDECAR_SCHEMA): the deletable state `ops.remove_from_filters`
    maintains. The insert runs per key in Python, so nothing on the
    epoch's path builds it."""
    return _per_partition(seen, key_col, n_partitions, _cuckoo_state, SIDECAR_SCHEMA)


def probe_candidates(
    candidates: DataFrame,
    filters: DataFrame,
    key_col: str = "url_hash",
    n_partitions: int = 32,
) -> DataFrame:
    """Adds `maybe_seen: boolean` to `candidates` — True iff the key's
    partition filter reports membership. `filters` is a build_filters
    frame (bloom probe) or a build_sidecar frame (cuckoo probe). Neither
    yields false negatives: bloom by construction; cuckoo because a
    partition whose build overflowed (build_sidecar sizes against it, but
    inputs can exceed the sizing) is degraded wholesale to maybe_seen=True
    rather than probed against a filter that may have dropped fingerprints.

    Cogroup co-partitions candidates with their single filter row — the
    scale path (no driver collect, no broadcast of filter state).
    """
    use = "bloom" if "bloom" in filters.columns else "cuckoo"
    pid = F.pmod(F.col(key_col), F.lit(n_partitions)).cast("int")
    cand = candidates.withColumn("_pid", pid)
    out_schema = T.StructType(
        candidates.schema.fields
        + [T.StructField("_pid", T.IntegerType()), T.StructField("maybe_seen", T.BooleanType())]
    )
    cand_cols = [f.name for f in candidates.schema.fields]

    def _probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.copy()
        if filt_pdf.empty or cand_pdf.empty:
            out["maybe_seen"] = False if not cand_pdf.empty else pd.Series([], dtype=bool)
            return out
        keys = cand_pdf[key_col].to_numpy(dtype=np.int64).view(np.uint64)
        row = filt_pdf.iloc[0]
        if use == "cuckoo":
            if int(row["overflowed"]) > 0:
                # an overflowed cuckoo partition has false NEGATIVES (the
                # lost key — or, after a failed kick loop, some OTHER
                # previously-inserted key's evicted fingerprint), which
                # would read as 'definitely unseen' and re-crawl seen
                # URLs. Degrade the whole partition to maybe_seen=True:
                # conservative (no false negatives), and the exact verify
                # every caller runs on maybe_seen rows restores precision.
                hit = np.ones(len(keys), dtype=bool)
            else:
                hit = CuckooFilter.from_bytes(row["cuckoo"]).contains_many(keys)
        else:
            hit = bloom_probe(row["bloom"], keys, int(row["k_hashes"]))
        out["maybe_seen"] = hit
        return out

    probed = (
        cand.groupBy("_pid")
        .cogroup(filters.withColumnRenamed("pid", "_pid").groupBy("_pid"))
        .applyInPandas(lambda c, f: _probe(c, f), out_schema)
    )
    return probed.select(*cand_cols, "maybe_seen")


def flag_seen(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None = None,
    n_partitions: int = 0,
) -> DataFrame:
    """The URL-seen membership test (SURVEY.md §2.1 S3): `candidates` plus
    `_ex`, True iff the candidate's `_skey` ('type@url') is a `seen_key`
    of `seen`, else NULL. Exact on the full string key, so a 64-bit hash
    collision can never drop an unseen URL (north rule).

    `seen` must be unique on `seen_key` (the store's append log of each
    epoch's new keys relies on it: every writer adds only absent keys),
    so the left join keeps one row per candidate without a distinct —
    and without an extra shuffle of the whole seen set.

    Without `filters` this is a plain left join of `_skey` against
    `seen_key`. With `filters` (per-partition states from build_filters,
    over `n_partitions` hash partitions of `seen_hash`) it is
    bloom-accelerated:

    1. probe: candidates' `url_hash` (== xxhash64('type@url') ==
       `seen_hash`, the key space the filters were built over) against
       their partition's bloom; bloom-negative rows are definitely unseen
       and pass through with `_ex` NULL and NO join (the overwhelming
       majority at steady state);
    2. verify: only bloom-positive suspects (true hits + ~fpp false
       positives) join the exact seen table on the string key.

    The result is identical to the plain join; only the physical plan
    changes — the join's probe side shrinks from |candidates| to
    |hits|·(1+fpp).

    `probed` is materialized once (non-eager localCheckpoint) because both
    branches consume it: without it the filter cogroup probe executes once
    per branch inside the single epoch action. localCheckpoint rather than
    persist on purpose: a catalog persist registers a CacheManager entry
    that only an explicit unpersist releases, so a per-epoch caller would
    leak one entry per epoch; localCheckpoint blocks live at the RDD layer
    and the ContextCleaner drops them once the returned DataFrame is
    garbage-collected. The materialized set is one epoch's candidate batch
    plus a boolean — bounded by batch size, not by the seen set. (Cluster
    caveat: localCheckpoint blocks are not recomputable after executor
    loss; under dynamic allocation prefer a caller-managed persist.)
    """
    seen_flags = seen.select(F.col("seen_key").alias("_skey"), F.lit(True).alias("_ex"))
    if filters is None:
        return candidates.join(seen_flags, "_skey", "left")
    if n_partitions <= 0:
        # pmod(hash, 0) is NULL row-wise (or a DIVIDE_BY_ZERO under
        # ANSI): every candidate would land in a filterless cogroup, read
        # as definitely-unseen, and every already-seen URL would
        # re-enqueue. Fail loudly instead of silently disabling the seen set.
        raise ValueError(
            "seen filters require n_partitions > 0 (enqueue_batch's "
            "n_filter_parts: the partition count build_filters was called with)"
        )
    probed = probe_candidates(candidates, filters, "url_hash", n_partitions).localCheckpoint(
        eager=False
    )
    verified = probed.filter(F.col("maybe_seen")).join(seen_flags, "_skey", "left")
    return (
        probed.filter(~F.col("maybe_seen"))
        .withColumn("_ex", F.lit(None).cast("boolean"))
        .unionByName(verified)
        .drop("maybe_seen")
    )
