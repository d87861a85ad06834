"""End-to-end epoch-engine parity vs the pure-Python reference simulator
(SURVEY.md §5 plan item (b)): crawl-order, URL-seen-set, and document
span-sequence EXACT match on identical fixture inputs — the north rule's
correctness invariant. Also covers checkpoint resume (M6): re-running from
a mid-crawl snapshot reproduces the identical final state.
"""

from __future__ import annotations

import pytest

from crawler_spark.data.generators import (
    gen_registry_py,
    gen_robots_py,
    gen_seeds_py,
    registry_df,
    robots_df,
    seeds_df,
)
from crawler_spark.operators.epoch import CrawlEngine
from crawler_spark.simulator import CrawlSimulator
from crawler_spark.storage.snapshots import SnapshotStore

N_NAMES, N_SEEDS, HOST_BUDGET, BATCH_BUDGET, MAX_EPOCHS = 12, 8, 3, 8, 60


@pytest.fixture(scope="module")
def fixture_rows():
    return (
        gen_registry_py(N_NAMES),
        gen_seeds_py(N_SEEDS, n_names=N_NAMES),
        gen_robots_py(),
    )


@pytest.fixture(scope="module")
def sim_result(fixture_rows):
    reg, seeds, robots = fixture_rows
    sim = CrawlSimulator(reg, robots, host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET)
    return sim.run(seeds, max_epochs=MAX_EPOCHS)


@pytest.fixture(scope="module")
def spark_run(spark, fixture_rows, tmp_path_factory):
    reg, seeds, robots = fixture_rows
    store = SnapshotStore(spark, str(tmp_path_factory.mktemp("snap")))
    eng = CrawlEngine(
        spark, store, registry_df(spark, reg), robots_df(spark, robots),
        host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET,
    )
    metrics = eng.run(seeds_df(spark, seeds), max_epochs=MAX_EPOCHS)
    return store, metrics


def _spark_log(store):
    return [
        (r["epoch"], r["pop_index"], r["type"], r["url"], r["queue"], r["scope"], r["outcome"], r["attempt"])
        for r in store.read("schedule_log").orderBy("epoch", "pop_index", "url").collect()
    ]


def _sim_log(res):
    return [
        (r["epoch"], r["pop_index"], r["type"], r["url"], r["queue"], r["scope"], r["outcome"], r["attempt"])
        for r in sorted(res.schedule_log, key=lambda r: (r["epoch"], r["pop_index"], r["url"]))
    ]


def test_crawl_order_exact_match(sim_result, spark_run):
    store, _ = spark_run
    assert _spark_log(store) == _sim_log(sim_result)


def test_seen_set_exact_match(sim_result, spark_run):
    store, _ = spark_run
    seen_rows = store.read("seen").collect()
    spark_seen = {r["seen_key"]: r["first_seen_epoch"] for r in seen_rows}
    assert len(seen_rows) == len(spark_seen)  # unique by construction: enqueue_batch relies on it
    assert spark_seen == sim_result.seen


def test_seen_is_an_append_log_of_each_epochs_new_keys(spark, sim_result, spark_run):
    """Each commit appends only the keys it first saw: after bootstrap and
    three epochs the manifest lists four `seen` dirs, dir i >= 1 holds
    exactly the keys epoch i-1 added, no key is in two dirs, and the
    table equals the simulator's seen set as of that epoch."""
    store, _ = spark_run
    dirs = store.snapshot(3).tables["seen"]
    assert len(dirs) == 4
    rows = [spark.read.parquet(d).collect() for d in dirs]
    keys = [r["seen_key"] for rs in rows for r in rs]
    assert len(keys) == len(set(keys))
    seen = {r["seen_key"]: r["first_seen_epoch"] for rs in rows for r in rs}
    assert seen == {k: e for k, e in sim_result.seen.items() if e <= 2}
    # the bootstrap's seed keys carry epoch 0 as well
    boot = {r["seen_key"] for r in rows[0]}
    assert boot and all(r["first_seen_epoch"] == 0 for r in rows[0])
    for i in (1, 2, 3):
        added = {r["seen_key"] for r in rows[i]}
        assert added and added == {k for k, e in seen.items() if e == i - 1} - boot


def test_document_span_sequence_invariant(sim_result, spark_run):
    # per-row invariant: span-sequence equality (kind, text, media_ref,
    # order) on the latest store row per doc, plus exact _metadata parity
    # (etag / fetchedAt / processedAt / version — crawler.js:423-443)
    store, _ = spark_run
    latest = {}
    for r in store.read("documents").collect():
        if r["doc_id"] not in latest or r["epoch"] > latest[r["doc_id"]]["epoch"]:
            latest[r["doc_id"]] = r
    spark_docs = {
        k: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for k, r in latest.items()
    }
    sim_docs = {
        k: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in v["spans"]]
        for k, v in sim_result.documents.items()
    }
    assert spark_docs == sim_docs
    spark_meta = {
        k: (r["etag"], r["fetched_at_epoch"], r["processed_at_epoch"], r["version"],
            r["release_date"])
        for k, r in latest.items()
    }
    sim_meta = {
        k: (v["etag"], v["fetched_at"], v["processed_at"], v["version"],
            v["release_date"])
        for k, v in sim_result.documents.items()
    }
    assert spark_meta == sim_meta
    for spans in spark_docs.values():
        assert [s[3] for s in spans] == list(range(len(spans)))  # offsets dense


def test_outcome_coverage(sim_result):
    # the organic fixture exercises fetch + skip + traversal dedup; the
    # retry/deadletter/attenuation paths are covered by the targeted
    # scenarios in test_engine_scenarios.py
    outcomes = {r["outcome"] for r in sim_result.schedule_log}
    assert "Processed" in outcomes and "Skipped" in outcomes
    # traversal reaches every layer: component → package → concrete → tools
    types = {r["type"] for r in sim_result.schedule_log}
    assert "component" in types and "package" in types and "licensee" in types


def test_dedup_documents_parity(spark, fixture_rows, sim_result, spark_run):
    """Training-data layer composed with the crawl loop: near-dup
    clustering + keep-best over the ENGINE'S OWN harvested documents
    (CrawlEngine.dedup_documents — prefix-filtered exact Jaccard →
    connected components → representative selection) must equal the
    pure-Python mirror (simulator.dedup_documents_py: all-pairs Jaccard →
    union-find) over the simulator's documents."""
    from crawler_spark.simulator import dedup_documents_py

    reg, _, robots = fixture_rows
    store, _ = spark_run
    eng = CrawlEngine(
        spark, store, registry_df(spark, reg), robots_df(spark, robots),
        host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET,
    )
    spark_rows = sorted(
        (
            (r["doc_id"], r["cluster_id"], r["n_chars"], r["n_members"], r["is_representative"])
            for r in eng.dedup_documents(threshold=0.5, n=3).collect()
        )
    )
    sim_rows = [
        (r["doc_id"], r["cluster_id"], r["n_chars"], r["n_members"], r["is_representative"])
        for r in dedup_documents_py(sim_result.documents, threshold=0.5, n=3)
    ]
    assert spark_rows == sim_rows
    # non-vacuous: the organic crawl yields both real near-dup clusters
    # (per-subject tool outputs) and singletons, with exactly one
    # representative per cluster
    n_members = {r[1]: r[3] for r in sim_rows}
    assert any(v > 1 for v in n_members.values())
    assert any(v == 1 for v in n_members.values())
    reps_per_cluster = {}
    for r in sim_rows:
        reps_per_cluster[r[1]] = reps_per_cluster.get(r[1], 0) + (1 if r[4] else 0)
    assert all(v == 1 for v in reps_per_cluster.values())


@pytest.fixture(scope="module")
def resumed_run(spark, fixture_rows, spark_run, tmp_path_factory):
    """The parity crawl again, killed after four epochs and resumed by a
    new engine from the store's latest snapshot. The listing threshold is
    3 for the whole run, so every third commit folds `seen` into one dir:
    the crash leaves a multi-dir `seen` and the resumed run folds again."""
    reg, seeds, robots = fixture_rows
    _, full_metrics = spark_run
    n_epochs = len(full_metrics)
    assert n_epochs >= 6
    store = SnapshotStore(spark, str(tmp_path_factory.mktemp("resume")))

    def make_engine():
        return CrawlEngine(
            spark, store, registry_df(spark, reg), robots_df(spark, robots),
            host_budget=HOST_BUDGET, batch_budget=BATCH_BUDGET,
        )

    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    was = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        eng = make_engine()
        eng.bootstrap(seeds_df(spark, seeds))
        for epoch in range(4):
            eng.run_epoch(epoch)
        # simulate crash: throw the engine away; a NEW engine resumes from
        # the store's latest snapshot (epoch index = snapshot epoch + 1)
        eng2 = make_engine()
        epoch = store.snapshot().epoch + 1
        while epoch < n_epochs:
            eng2.run_epoch(epoch)
            epoch += 1
    finally:
        spark.conf.set(conf, was)
    return store


def _seen_at(store, version=None):
    rows = store.read("seen", version=version).collect()
    seen = {r["seen_key"]: r["first_seen_epoch"] for r in rows}
    assert len(rows) == len(seen)
    return seen


def test_resume_from_checkpoint(spark_run, resumed_run):
    """Kill between epochs, rebuild the engine from the snapshot store,
    continue — final frontier/seen/log identical to the uninterrupted run
    (SURVEY.md M6; Iceberg-snapshot resumability of the north rule)."""
    full_store, _ = spark_run
    store = resumed_run
    assert _spark_log(store) == _spark_log(full_store)
    assert _seen_at(store) == _seen_at(full_store)
    assert store.read("frontier").count() == full_store.read("frontier").count()


def test_seen_fold_bounds_dirs_and_keeps_time_travel(spark_run, resumed_run):
    """With the listing threshold at 3, the commit that finds three `seen`
    dirs folds them into one: the crawl never lists more than 3, ends with
    the unfolded run's seen set, and a version from before a fold still
    reads back its own rows."""
    full_store, _ = spark_run
    store = resumed_run
    versions = range(store.current_version() + 1)
    assert len(versions) >= 7  # bootstrap + at least 6 epochs
    assert [len(store.snapshot(v).tables["seen"]) for v in versions] == [v % 3 + 1 for v in versions]
    assert _seen_at(store) == _seen_at(full_store)
    assert _seen_at(store, 2) == _seen_at(full_store, 2)  # three dirs, before the first fold
