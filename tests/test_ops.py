"""Queue-operations API tests (S15: flush/info/deadletter-requeue,
crawlerService.js:75-135) and incremental cuckoo filter maintenance on
seen-set deletions (the north rule's reason for the cuckoo sidecar).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.ops import (
    flush_queue,
    queue_info,
    remove_from_filters,
    requeue_deadletters,
)
from crawler_spark.operators.seenset import build_filters, build_sidecar, probe_candidates
from crawler_spark.storage.snapshots import SnapshotStore

FRONTIER_ROWS = [
    # url, type, spec_type, provider, namespace, name, revision, host,
    # queue, scope, policy, attempt_count, not_before_epoch, parent_epoch, enqueued_seq, url_hash
    ("cd:/npm/npmjs/-/a/1.0.0", "npm", "npm", "npmjs", None, "a", "1.0.0",
     "registry.npmjs.org", "normal", "global", "default", 0, 0, -1, 0, 111),
    ("cd:/npm/npmjs/-/b/1.0.0", "npm", "npm", "npmjs", None, "b", "1.0.0",
     "registry.npmjs.org", "later", "global", "default", 0, 0, -1, 1, 222),
    ("cd:/pypi/pypi/-/c/2.0", "pypi", "pypi", "pypi", None, "c", "2.0",
     "pypi.org", "normal", "local", "default", 0, 0, -1, 2, 333),
]
FRONTIER_SCHEMA = (
    "url string, type string, spec_type string, provider string, namespace string,"
    "name string, revision string, host string, queue string, scope string, policy string,"
    "attempt_count int, not_before_epoch int, parent_epoch int, enqueued_seq long, url_hash long"
)


@pytest.fixture()
def store(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path))
    frontier = spark.createDataFrame(FRONTIER_ROWS, FRONTIER_SCHEMA)
    seen = spark.createDataFrame(
        [("npm@cd:/npm/npmjs/-/dead/9.9.9", 999, 0), ("npm@cd:/npm/npmjs/-/a/1.0.0", 111, 0)],
        "seen_key string, seen_hash long, first_seen_epoch int",
    )
    dead = spark.createDataFrame(
        [("cd:/npm/npmjs/-/dead/9.9.9", "npm", 3, "Throttled", 6)],
        "url string, type string, epoch int, reason string, attempts int",
    )
    st.commit(epoch=5, replace={"frontier": frontier, "seen": seen, "deadletters": dead},
              meta={"next_seq": 3})
    return st


def test_queue_info(store):
    info = {(r["scope"], r["queue"]): r["count"] for r in queue_info(store).collect()}
    assert info == {("global", "normal"): 1, ("global", "later"): 1, ("local", "normal"): 1}


def test_flush_queue(store):
    assert flush_queue(store, "later", epoch=6) == 1
    left = {r["url"] for r in store.read("frontier").collect()}
    assert left == {"cd:/npm/npmjs/-/a/1.0.0", "cd:/pypi/pypi/-/c/2.0"}
    # previous snapshot still readable (time travel)
    assert store.read("frontier", version=0).count() == 3
    # the flush keeps the seq high-water mark: the next enqueue must not
    # reuse a surviving entry's enqueued_seq
    assert store.snapshot().meta["next_seq"] == 3


def test_requeue_deadletters_clears_seen_and_refills_frontier(spark, store):
    # seen is an append log: a later commit added one more dir of keys
    store.commit(epoch=5, append={"seen": spark.createDataFrame(
        [("pypi@cd:/pypi/pypi/-/c/2.0", 333, 5)], "seen_key string, seen_hash long, first_seen_epoch int",
    )}, meta={"next_seq": 3})
    assert len(store.snapshot().tables["seen"]) == 2
    n = requeue_deadletters(spark, store, epoch=6)
    assert n == 1
    frontier = store.read("frontier").collect()
    re = [r for r in frontier if "dead" in r["url"]]
    assert len(re) == 1
    r = re[0]
    assert (r["queue"], r["scope"], r["attempt_count"]) == ("later", "global", 0)
    assert r["not_before_epoch"] == 7  # politeness: not before the next epoch
    assert r["enqueued_seq"] == 3  # continues the FIFO high-water mark
    # seen key removed → the re-crawl is not history-filtered
    seen_keys = {x["seen_key"] for x in store.read("seen").collect()}
    assert "npm@cd:/npm/npmjs/-/dead/9.9.9" not in seen_keys
    assert "npm@cd:/npm/npmjs/-/a/1.0.0" in seen_keys  # others untouched
    assert "pypi@cd:/pypi/pypi/-/c/2.0" in seen_keys
    assert len(store.snapshot().tables["seen"]) == 1  # rewritten as one dir
    assert store.read("deadletters").count() == 0
    assert requeue_deadletters(spark, store, epoch=7) == 0  # idempotent on empty


def test_incremental_cuckoo_deletion(spark):
    seen = spark.createDataFrame([(h,) for h in range(1000, 1400)], "seen_hash long")
    sidecar = build_sidecar(seen, n_partitions=4).cache()
    removed = spark.createDataFrame([(h,) for h in range(1000, 1100)], "seen_hash long")
    updated = remove_from_filters(sidecar, removed, n_partitions=4).cache()
    assert updated.columns == sidecar.columns
    cand = seen.select(F.col("seen_hash").alias("url_hash"))
    # cuckoo path: removed keys no longer members, survivors still are
    probed = {r["url_hash"]: r["maybe_seen"]
              for r in probe_candidates(cand, updated, n_partitions=4).collect()}
    assert all(probed[h] for h in range(1100, 1400))          # no false negatives for survivors
    assert sum(probed[h] for h in range(1000, 1100)) <= 2      # removed gone (fp-rate slack)
    # the bloom half is allowed to stay stale-positive (cannot delete), but
    # must still have zero false negatives for survivors
    filters = build_filters(seen, n_partitions=4)
    bloom = {r["url_hash"]: r["maybe_seen"]
             for r in probe_candidates(cand, filters, n_partitions=4).collect()}
    assert all(bloom[h] for h in range(1100, 1400))
