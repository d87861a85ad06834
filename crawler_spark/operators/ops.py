"""Queue operations API — the Spark twins of the reference's REST ops
(ghcrawler/lib/crawlerService.js:75-135): queue info, flush, and
deadletter requeue.

Deadletter requeue is the operation that justifies the cuckoo sidecar
(north rule: "cuckoo-filter sidecar for deletions"): re-crawling a
deadlettered URL requires REMOVING its key from the URL-seen set. The
exact seen table handles that with an anti-join; the per-partition
Bloom filters the epoch probes cannot delete — but the cuckoo sidecar
(seenset.build_sidecar) can, so `remove_from_filters` updates it
incrementally instead of rebuilding it from 10^10 keys. A stale Bloom
positive after deletion is safe (false positives are always re-verified
against the exact table); the cuckoo filter answers deletions exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions.coordinates import host_for_provider, with_parsed_coordinates
from crawler_spark.operators.seenset import SIDECAR_SCHEMA, CuckooFilter
from crawler_spark.operators.skew import dense_global_seq
from crawler_spark.storage.snapshots import SnapshotStore


def queue_info(store: SnapshotStore) -> DataFrame:
    """Per-(scope, queue) frontier counts (inmemorycrawlqueue.js:60-65
    getInfo; crawlerService.js:96-104)."""
    frontier = store.read("frontier")
    return frontier.groupBy("scope", "queue").agg(F.count("*").alias("count"))


def flush_queue(store: SnapshotStore, queue: str, epoch: int) -> int:
    """Drop every frontier entry in `queue` (crawlerService.js:88-94
    flushQueue), committed as a new snapshot. Returns rows flushed."""
    snap = store.snapshot()
    frontier = store.read("frontier", version=snap.version)
    keep = frontier.filter(F.col("queue") != queue)
    row = frontier.agg(F.count_if(F.col("queue") == queue).alias("f")).collect()[0]
    flushed = int(row["f"])
    # flushing frees no seqs: later enqueues continue past the survivors'
    next_seq = int(snap.meta.get("next_seq", 0))
    store.commit(epoch=epoch, replace={"frontier": keep},
                 meta={"op": f"flush:{queue}", "next_seq": next_seq}, base=snap)
    return flushed


def publish_local(store: SnapshotStore, epoch: int) -> int:
    """ScopedQueueSets.publish (scopedQueueSets.js:82-104): drain every
    LOCAL queue and re-push its requests as requeuables onto the
    same-named GLOBAL queue — the shutdown path that hands locally-scoped
    work (tool tasks) to the fleet. The reference pops queue by queue in
    queue-set order; re-pushed requests land at the global tail, so they
    get fresh enqueued_seq values ordered by (queue rotation order, local
    FIFO order). Attempt counts and backoff gates are preserved
    (request.createRequeuable). One atomic snapshot commit; returns rows
    published."""
    from crawler_spark.config import QUEUE_NAMES

    snap = store.snapshot()
    frontier = store.read("frontier", version=snap.version)
    local = frontier.filter(F.col("scope") == "local")
    glob = frontier.filter(F.col("scope") != "local")
    next_seq = int(snap.meta.get("next_seq", 0))
    qorder = F.coalesce(
        *[F.when(F.col("queue") == q, F.lit(i)) for i, q in enumerate(QUEUE_NAMES)],
        F.lit(len(QUEUE_NAMES)),
    )
    moved = dense_global_seq(
        local, [qorder, F.col("enqueued_seq")], "enqueued_seq", next_seq
    ).withColumn("scope", F.lit("global"))
    n = moved.count()
    store.commit(
        epoch=epoch,
        replace={"frontier": glob.unionByName(moved.select(*frontier.columns))},
        meta={"op": "publish", "next_seq": next_seq + n},
        base=snap,
    )
    return n


def requeue_deadletters(
    spark: SparkSession, store: SnapshotStore, epoch: int, queue: str = "later"
) -> int:
    """Re-crawl every deadlettered coordinate (crawlerService.js:118-135
    requeueDeadletter): rebuild frontier entries from the deadletter rows
    (attempt_count reset), REMOVE their keys from the exact seen set so
    the fresh enqueue isn't history-filtered, and clear the deadletter
    table — one atomic snapshot commit."""
    snap = store.snapshot()
    dead = store.read("deadletters", version=snap.version)
    if dead is None or dead.isEmpty():
        return 0
    seen = store.read("seen", version=snap.version)
    frontier = store.read("frontier", version=snap.version)

    parsed = with_parsed_coordinates(dead.select("url", F.col("type").alias("request_type")))
    skey = F.concat(F.col("request_type"), F.lit("@"), F.col("canonical_url"))
    # next_seq continues from the stored high-water mark
    next_seq = int(snap.meta.get("next_seq", 0))
    entries = parsed.select(
        F.col("canonical_url").alias("url"),
        F.col("request_type").alias("type"),
        F.col("type").alias("spec_type"),
        "provider", "namespace", "name", "revision",
        host_for_provider(F.col("provider")).alias("host"),
        F.lit(queue).alias("queue"),
        F.lit("global").alias("scope"),
        F.lit("default").alias("policy"),
        F.lit(0).alias("attempt_count"),
        F.lit(epoch + 1).alias("not_before_epoch"),
        F.lit(-1).alias("parent_epoch"),
        F.xxhash64(skey).alias("url_hash"),
    ).dropDuplicates(["type", "url"])
    # dedup BEFORE seq assignment: every requeued coordinate gets exactly
    # one dense tail seq in (url, type) order (the old shape ranked the
    # raw rows first, so duplicate deadletters left gaps and kept an
    # arbitrary survivor's seq)
    entries = dense_global_seq(entries, ["url", "type"], "enqueued_seq", next_seq)
    n = entries.count()

    removed_keys = parsed.select(skey.alias("seen_key")).distinct()
    new_seen = seen.join(removed_keys, "seen_key", "left_anti")
    empty_dead = spark.createDataFrame([], dead.schema)
    store.commit(
        epoch=epoch,
        replace={
            "frontier": frontier.unionByName(entries),
            "seen": new_seen,
            "deadletters": empty_dead,
        },
        meta={"op": "requeue_deadletters", "next_seq": next_seq + n},
        base=snap,
    )
    return n


def remove_from_filters(
    sidecar: DataFrame, removed: DataFrame, key_col: str = "seen_hash", n_partitions: int = 32
) -> DataFrame:
    """Incremental sidecar maintenance after deletions: apply cuckoo
    deletions per partition of a seenset.build_sidecar frame (cogroup)
    WITHOUT rebuilding from the full key set. Returns the same schema;
    cuckoo probes of it stop reporting the removed keys. Bloom filters
    cannot delete, so they keep answering 'maybe' for removed keys; that
    only costs an extra exact-verify, never a false negative."""
    pid = F.pmod(F.col(key_col), F.lit(n_partitions)).cast("int")
    rem = removed.select(F.col(key_col).alias("key"), pid.alias("pid"))

    def _apply(filt_pdf: pd.DataFrame, rem_pdf: pd.DataFrame) -> pd.DataFrame:
        if filt_pdf.empty:
            return filt_pdf
        out = filt_pdf.copy()
        if rem_pdf.empty:
            return out
        keys = np.unique(rem_pdf["key"].to_numpy(dtype=np.int64).view(np.uint64))
        ck = CuckooFilter.from_bytes(out.iloc[0]["cuckoo"])
        misses = ck.delete_many(keys)
        out.iloc[0, out.columns.get_loc("cuckoo")] = ck.to_bytes()
        # only keys actually present were removed — misses (never inserted,
        # or lost to an insert overflow) must not drive n_keys below truth
        out.iloc[0, out.columns.get_loc("n_keys")] = (
            int(out.iloc[0]["n_keys"]) - (len(keys) - misses)
        )
        return out

    return (
        sidecar.groupBy("pid")
        .cogroup(rem.groupBy("pid"))
        .applyInPandas(lambda f, r: _apply(f, r), SIDECAR_SCHEMA)
    )
