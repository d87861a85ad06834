"""Targeted outcome-path scenarios — the batch twins of the reference's
queue/fetch unit tests: throttle→requeue backoff (goFetch.js:68-75),
retry-cap deadletter (crawler.js:330-342, cdConfig.js:21), 404 skip
(baseHandler.js:103-105), push attenuation (attenuatedQueue.js:36-69),
seen-set filtering (request.js:117-121,247-251), robots exclusion and
latest-version resolution (baseHandler.js:83-101). Spark engine and
pure-Python simulator must agree on every path.

MAX_REQUEUE_ATTEMPTS is patched from 5 → 2 in BOTH engines so the
deadletter path completes in ~6 epochs instead of ~21.
"""

from __future__ import annotations

import os

import pytest

import crawler_spark.operators.epoch as epoch_mod
import crawler_spark.simulator as sim_mod
from crawler_spark.data.generators import _spans_py, registry_df, robots_df, seeds_df
from crawler_spark.operators.epoch import CrawlEngine
from crawler_spark.simulator import CrawlSimulator
from crawler_spark.storage.snapshots import SnapshotStore

import random

_rng = random.Random(7)


def _reg(name, versions, status=200, fail_attempts=0, source=None):
    rows = []
    for i, (v, pre) in enumerate(versions):
        rows.append(
            {
                "provider": "npmjs", "namespace": None, "name": name, "version": v,
                "is_prerelease": pre, "release_seq": i, "status": status,
                "fail_attempts": fail_attempts,
                "source_type": "git" if source else None,
                "source_provider": "github" if source else None,
                "source_namespace": source[0] if source else None,
                "source_name": source[1] if source else None,
                "source_revision": source[2] if source else None,
                "payload_spans": _spans_py(f"npmjs/-/{name}/{v}", _rng),
            }
        )
    return rows


REGISTRY = (
    _reg("dead-a", [("1.0.0", False)], fail_attempts=99)       # always 429 → deadletter
    + _reg("slow-b", [("1.0.0", False)], fail_attempts=1,      # 429 once, then ok
           source=("shared", "repo", "cafe" * 10))
    + _reg("gone-c", [("1.0.0", False)], status=404)           # hard 404 → skip
    + _reg("multi-d", [("1.0.0", False), ("1.1.0", False), ("2.0.0-beta.1", True)],
           source=("shared", "repo", "cafe" * 10))             # latest resolution + shared source
    + _reg("plain-e", [("0.1.0", False)], source=("shared", "repo", "cafe" * 10))
    + _reg("robots-f", [("1.0.0", False)])                     # robots-gated
)

ROBOTS = [{"host": "registry.npmjs.org", "disallow_prefix": "robots-f"}]

SEEDS = [
    {"seed_id": 0, "type": "component", "url": "cd:/npm/npmjs/-/dead-a", "queue": "normal", "policy": "default"},
    {"seed_id": 1, "type": "component", "url": "cd:/npm/npmjs/-/slow-b", "queue": "soon", "policy": "default"},
    {"seed_id": 2, "type": "component", "url": "cd:/npm/npmjs/-/gone-c/1.0.0", "queue": "normal", "policy": "default"},
    {"seed_id": 3, "type": "component", "url": "cd:/npm/npmjs/-/multi-d", "queue": "immediate", "policy": "default"},
    {"seed_id": 4, "type": "component", "url": "cd:/npm/npmjs/-/multi-d", "queue": "later", "policy": "default"},  # dup → attenuated
    {"seed_id": 5, "type": "component", "url": "cd:/npm/npmjs/-/plain-e", "queue": "normal", "policy": "default"},
    {"seed_id": 6, "type": "component", "url": "cd:/npm/npmjs/-/robots-f/1.0.0", "queue": "normal", "policy": "default"},
    # storage-first reprocess (F1 dispatcher.js:29-43 + traversalPolicy
    # reprocess family): exact-revision re-crawl of multi-d AFTER its doc
    # landed — bypasses the seen filter, serves content from the store
    {"seed_id": 7, "type": "npm", "url": "cd:/npm/npmjs/-/multi-d/1.1.0", "queue": "normal",
     "policy": "reprocess", "not_before": 4},
    # originOnly re-crawl (policy 'always' = fetch origin, ignore storage)
    {"seed_id": 8, "type": "npm", "url": "cd:/npm/npmjs/-/plain-e/0.1.0", "queue": "normal",
     "policy": "always", "not_before": 4},
    # storageOnly miss (reprocess of a never-crawled coordinate) → Skipped
    {"seed_id": 9, "type": "npm", "url": "cd:/npm/npmjs/-/multi-d/1.0.0", "queue": "normal",
     "policy": "reprocess", "not_before": 4},
]

# host budget 6 lets multi-d and plain-e process in the SAME epoch → their
# shared source child is attenuated in-batch (S2); slow-b's copy arrives in a
# later epoch → seen_filtered (S3). Tool-task fan-out (6 local rows on one
# host the next epoch) exercises both the host-budget deferral and the
# batch-budget leftover paths.
HOST_BUDGET, BATCH_BUDGET, MAX_EPOCHS = 6, 6, 25


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    saved = (sim_mod.MAX_REQUEUE_ATTEMPTS, epoch_mod.MAX_REQUEUE_ATTEMPTS)
    sim_mod.MAX_REQUEUE_ATTEMPTS = epoch_mod.MAX_REQUEUE_ATTEMPTS = 2
    try:
        sim = CrawlSimulator(REGISTRY, ROBOTS, host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET)
        sres = sim.run(SEEDS, max_epochs=MAX_EPOCHS)
        store = SnapshotStore(spark, str(tmp_path_factory.mktemp("scenario")))
        eng = CrawlEngine(
            spark, store, registry_df(spark, REGISTRY), robots_df(spark, ROBOTS),
            host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET,
        )
        eng.run(seeds_df(spark, SEEDS), max_epochs=MAX_EPOCHS)
        return sres, store
    finally:
        sim_mod.MAX_REQUEUE_ATTEMPTS, epoch_mod.MAX_REQUEUE_ATTEMPTS = saved


def _key(r):
    return (r["epoch"], r["pop_index"], r["type"], r["url"], r["queue"], r["scope"],
            r["outcome"], r["attempt"], r["origin"])


def test_schedule_log_parity(runs):
    sres, store = runs
    spark_log = [_key(r) for r in store.read("schedule_log").orderBy("epoch", "pop_index", "url").collect()]
    sim_log = [_key(r) for r in sorted(sres.schedule_log, key=lambda r: (r["epoch"], r["pop_index"], r["url"]))]
    assert spark_log == sim_log


def test_every_outcome_path_exercised(runs):
    sres, _ = runs
    outcomes = {r["outcome"] for r in sres.schedule_log}
    assert outcomes == {
        "Processed", "Traversed", "Excluded", "Skipped", "Requeued",
        "Deadletter", "RobotsExcluded",
    }
    assert sum(m["attenuated"] for m in sres.metrics) >= 1  # dup seed coalesced
    assert sum(m["seen_filtered"] for m in sres.metrics) >= 1  # shared source URL


def test_deadletter_parity_and_cap(runs):
    sres, store = runs
    spark_dead = sorted(
        (r["url"], r["type"], r["epoch"], r["reason"], r["attempts"])
        for r in store.read("deadletters").collect()
    )
    sim_dead = sorted((d["url"], d["type"], d["epoch"], d["reason"], d["attempts"]) for d in sres.deadletters)
    assert spark_dead == sim_dead
    assert len(spark_dead) == 1 and spark_dead[0][0] == "cd:/npm/npmjs/-/dead-a"
    assert spark_dead[0][4] == 3  # patched cap 2 → dead on attempt 3


def test_throttle_backoff_schedule(runs):
    # slow-b: Requeued at its first schedule, Processed exactly once later,
    # with not_before honoring epoch+1+attempt (crawler.js:158-176 backoff)
    sres, _ = runs
    rows = [r for r in sres.schedule_log if "slow-b" in r["url"] and r["type"] == "npm"]
    assert [r["outcome"] for r in rows] == ["Requeued", "Processed"]
    assert rows[1]["epoch"] >= rows[0]["epoch"] + 2
    assert rows[1]["attempt"] == 1
    assert rows[1]["scope"] == "global"  # repush lands on global scope (S4)


def test_latest_version_resolution_lands_document(runs):
    # multi-d seeded without revision → resolved to 1.1.0 (prerelease excluded)
    sres, store = runs
    docs = {r["doc_id"] for r in store.read("documents").collect()}
    assert "cd:/npm/npmjs/-/multi-d/1.1.0" in docs
    assert not any("2.0.0-beta" in d for d in docs)
    assert docs == set(sres.documents)


def test_robots_exclusion(runs):
    sres, store = runs
    log = store.read("schedule_log").filter("outcome = 'RobotsExcluded'").collect()
    assert {r["url"] for r in log} == {"cd:/npm/npmjs/-/robots-f/1.0.0"}
    # never scheduled, never seen as a fetched document
    assert not any("robots-f" in d for d in sres.documents)


def test_seen_set_parity(runs):
    sres, store = runs
    seen_rows = store.read("seen").collect()
    spark_seen = {r["seen_key"]: r["first_seen_epoch"] for r in seen_rows}
    assert len(seen_rows) == len(spark_seen)  # unique by construction: enqueue_batch relies on it
    assert spark_seen == sres.seen


def test_storage_first_reprocess(runs):
    """The reprocess seed is served from the store (origin='storage', no
    fetch fates). Its freshness is 'version' (traversalPolicy.js:152-154)
    and the stored doc was processed at the CURRENT processor version, so
    shouldProcess=false → the doc is not re-landed but the subtree IS
    traversed (processMode='traverse', crawler.js:495-497), and the
    reprocess children bypass the seen filter; the tool tasks then find
    their own stored docs at the current version → Excluded. (The
    version-bump path that turns these into Processed is covered in
    test_freshness.py.)"""
    sres, store = runs
    log = store.read("schedule_log").collect()
    storage_rows = [r for r in log if r["origin"] == "storage"]
    assert storage_rows, "no storage-first hits scheduled"
    hit = [r for r in storage_rows if r["url"] == "cd:/npm/npmjs/-/multi-d/1.1.0" and r["type"] == "npm"]
    assert len(hit) == 1 and hit[0]["outcome"] == "Traversed"
    assert hit[0]["epoch"] >= 4  # not_before honored
    # the traversed subtree re-schedules its tool tasks (reprocess cascade)
    reprocessed_tools = [
        r for r in log
        if r["type"] in ("licensee", "scancode", "reuse")
        and r["url"] == "cd:/npm/npmjs/-/multi-d/1.1.0" and r["epoch"] > hit[0]["epoch"]
    ]
    assert len(reprocessed_tools) == 3
    assert all(r["outcome"] == "Excluded" for r in reprocessed_tools)
    # sim agrees exactly (origin included in the full-log parity test)
    sim_storage = [r for r in sres.schedule_log if r["origin"] == "storage"]
    assert len(sim_storage) == len(storage_rows)


def test_fetch_policy_matrix(runs):
    """traversalPolicy fetch families: 'always' is originOnly — it ignores
    storage, but the dispatcher's 8h fetched-result cache still serves the
    recent origin fetch (dispatcher.js:77-88, cdConfig.js:22) →
    origin='cache', processed with no fate checks; 'reprocess' is
    storageOnly (a storage miss is markSkip, never an origin fetch)."""
    sres, store = runs
    log = store.read("schedule_log").collect()
    always_rows = [r for r in log if r["url"] == "cd:/npm/npmjs/-/plain-e/0.1.0"
                   and r["type"] == "npm" and r["epoch"] >= 4]
    assert always_rows and all(
        (r["outcome"], r["origin"]) == ("Processed", "cache") for r in always_rows
    )
    miss_rows = [r for r in log if r["url"] == "cd:/npm/npmjs/-/multi-d/1.0.0" and r["type"] == "npm"]
    assert miss_rows and all(
        (r["outcome"], r["origin"]) == ("Skipped", "origin") for r in miss_rows
    )
    # first-run tool tasks fetch their subject through the same cache (the
    # package fetch 1-2 epochs earlier shares the cacheKey)
    tool_first = [r for r in log if r["type"] in ("licensee", "scancode", "reuse")
                  and r["outcome"] == "Processed"]
    assert tool_first and any(r["origin"] == "cache" for r in tool_first)


def test_bloom_accelerated_engine_identical(spark, runs, tmp_path_factory):
    """use_seen_filters=True (partitioned bloom probe + exact string-key
    verify, M3) must produce a bit-identical crawl: same schedule log,
    same seen set. Only the anti-join physical plan differs."""
    sres, _ = runs
    saved = (sim_mod.MAX_REQUEUE_ATTEMPTS, epoch_mod.MAX_REQUEUE_ATTEMPTS)
    sim_mod.MAX_REQUEUE_ATTEMPTS = epoch_mod.MAX_REQUEUE_ATTEMPTS = 2
    try:
        store = SnapshotStore(spark, str(tmp_path_factory.mktemp("bloom_eng")))
        eng = CrawlEngine(
            spark, store, registry_df(spark, REGISTRY), robots_df(spark, ROBOTS),
            host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET,
            use_seen_filters=True, n_filter_parts=4,
        )
        eng.run(seeds_df(spark, SEEDS), max_epochs=MAX_EPOCHS)
    finally:
        sim_mod.MAX_REQUEUE_ATTEMPTS, epoch_mod.MAX_REQUEUE_ATTEMPTS = saved
    spark_log = [_key(r) for r in store.read("schedule_log").orderBy("epoch", "pop_index", "url").collect()]
    sim_log = [_key(r) for r in sorted(sres.schedule_log, key=lambda r: (r["epoch"], r["pop_index"], r["url"]))]
    assert spark_log == sim_log
    seen_rows = store.read("seen").collect()
    spark_seen = {r["seen_key"]: r["first_seen_epoch"] for r in seen_rows}
    assert len(seen_rows) == len(spark_seen)  # unique by construction: enqueue_batch relies on it
    assert spark_seen == sres.seen


def test_per_host_lineage_metrics(runs):
    """epoch_host_metrics (per-partition lineage + counters, north rule)
    must agree exactly with an aggregation of the schedule log."""
    _, store = runs
    hm = store.read("epoch_host_metrics")
    assert hm is not None
    from collections import Counter

    log = [r for r in store.read("schedule_log").collect() if r["outcome"] != "RobotsExcluded"]
    expect_sched = Counter(r["epoch"] for r in log)
    got_sched = Counter()
    got_storage = 0
    for r in hm.collect():
        got_sched[r["epoch"]] += r["scheduled"]
        got_storage += r["storage_hits"]
        assert r["scheduled"] == (
            r["processed"] + r["traversed"] + r["excluded"]
            + r["skipped"] + r["requeued"] + r["deadlettered"]
        )
    assert got_sched == expect_sched
    assert got_storage == sum(1 for r in log if r["origin"] == "storage")


def test_pinned_and_unpinned_same_doc_single_row(spark, tmp_path):
    """Two DIFFERENT scheduled urls resolving to the SAME document in one
    epoch (an unpinned and a pinned request for the same package, latest
    = the pinned revision) must land ONE document row, the simulator's
    dict-write last-pop-wins semantics (simulator.py:396), so the
    documents table stays unique on (doc_id, epoch)."""
    registry = _reg("pin-g", [("1.2.0", False)])
    seeds = [
        {"seed_id": 0, "type": "npm", "url": "cd:/npm/npmjs/-/pin-g", "queue": "normal", "policy": "default"},
        {"seed_id": 1, "type": "npm", "url": "cd:/npm/npmjs/-/pin-g/1.2.0", "queue": "normal", "policy": "default"},
    ]
    sim = CrawlSimulator(registry, [], host_budget=8, batch_budget=8)
    sres = sim.run(seeds, max_epochs=4)
    store = SnapshotStore(spark, str(tmp_path))
    eng = CrawlEngine(spark, store, registry_df(spark, registry), host_budget=8, batch_budget=8)
    eng.run(seeds_df(spark, seeds), max_epochs=4)

    rows = store.read("documents").collect()
    # both urls were really scheduled in epoch 0 (distinct, both unseen)
    log0 = [r for r in store.read("schedule_log").collect() if r["epoch"] == 0]
    assert len(log0) == 2
    # exactly one row per (doc_id, epoch) — no duplicate append
    keys = [(r["doc_id"], r["epoch"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert set(r["doc_id"] for r in rows) == set(sres.documents)
    # and the surviving spans equal the simulator's surviving write
    by_id = {r["doc_id"]: r for r in rows}
    for doc_id, doc in sres.documents.items():
        got = [(s["kind"], s["text"], s["media_ref"]) for s in by_id[doc_id]["spans"]]
        want = [(s.get("kind"), s.get("text"), s.get("media_ref")) for s in doc["spans"]]
        assert got == want, doc_id


def test_unknown_queue_fails_loudly(spark):
    """A queue outside the configured four never joins pop_schedule's
    (scope, queue) space and would strand in the frontier forever —
    both engines reject it at seed intake instead (the reference's
    queue lookup throws on an unknown name too)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from crawler_spark.operators.epoch import seeds_to_frontier

    bad = [{"seed_id": 0, "type": "npm", "url": "cd:/npm/npmjs/-/x/1.0.0",
            "queue": "urgent", "policy": "default"}]
    with pytest.raises(ValueError, match="unknown queue"):
        CrawlSimulator(_reg("x", [("1.0.0", False)]), []).seed(bad, epoch=0)
    with pytest.raises(SparkRuntimeException, match="unknown queue"):
        seeds_to_frontier(seeds_df(spark, bad)).collect()


def test_enqueue_filters_require_partition_count(spark):
    """seen_filters with the default n_filter_parts=0 would pmod-by-zero
    every candidate into a filterless cogroup (silently disabling the
    seen set) — rejected loudly instead."""
    from crawler_spark.operators.epoch import enqueue_batch, seeds_to_frontier
    from crawler_spark.operators.seenset import build_filters

    seeds = [{"seed_id": 0, "type": "npm", "url": "cd:/npm/npmjs/-/x/1.0.0",
              "queue": "normal", "policy": "default"}]
    entries = seeds_to_frontier(seeds_df(spark, seeds))  # carries _order
    seen = spark.createDataFrame([], "seen_key string, seen_hash long, first_seen_epoch int")
    filters = build_filters(seen, n_partitions=4)
    with pytest.raises(ValueError, match="n_filter_parts"):
        enqueue_batch(entries, seen, 0, ["_order"], seen_filters=filters)


def test_unparseable_seed_url_fails_loudly(spark):
    """Both engines reject a seed whose url doesn't parse, instead of the
    engine enqueueing a null-coordinate row the simulator would crash on."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from crawler_spark.operators.epoch import seeds_to_frontier

    bad = [{"seed_id": 0, "type": "npm", "url": "not-a-coordinate",
            "queue": "normal", "policy": "default"}]
    with pytest.raises(ValueError, match="unparseable seed url"):
        CrawlSimulator(_reg("x", [("1.0.0", False)]), []).seed(bad, epoch=0)
    with pytest.raises(SparkRuntimeException, match="unparseable seed url"):
        seeds_to_frontier(seeds_df(spark, bad)).collect()


def test_epoch_refuses_to_overwrite_a_commit_made_while_it_planned(spark, tmp_path):
    """A second engine on the same store submits `b` (v1) while run_epoch
    plans from v0: the epoch raises CommitConflict instead of publishing
    a v2 built on v0 that drops `b` from the frontier."""
    from crawler_spark.storage.snapshots import CommitConflict

    registry = registry_df(spark, _reg("race-a", [("1.0.0", False)]) + _reg("race-b", [("1.0.0", False)]))

    def seed(i, name):
        return {"seed_id": i, "type": "npm", "url": f"cd:/npm/npmjs/-/{name}/1.0.0",
                "queue": "normal", "policy": "default"}

    eng = CrawlEngine(spark, SnapshotStore(spark, str(tmp_path)), registry)
    eng.bootstrap(seeds_df(spark, [seed(0, "race-a")]))
    other = CrawlEngine(spark, SnapshotStore(spark, str(tmp_path)), registry)
    fetch_and_route = eng._fetch_and_route

    def interloper_commits_first(*args):
        other.submit_requests(seeds_df(spark, [seed(1, "race-b")]), epoch=0)
        return fetch_and_route(*args)

    eng._fetch_and_route = interloper_commits_first
    with pytest.raises(CommitConflict):
        eng.run_epoch(0)
    assert eng.store.current_version() == 1
    assert "cd:/npm/npmjs/-/race-b/1.0.0" in {r["url"] for r in eng.store.read("frontier").collect()}
    # the losing epoch's data dirs are gone; every dir left is published
    data = tmp_path / "data"
    on_disk = {str(data / t / d) for t in os.listdir(data) for d in os.listdir(data / t)}
    assert on_disk == {d for v in (0, 1) for ds in eng.store.snapshot(v).tables.values() for d in ds}
