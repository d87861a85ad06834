"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ...}.

Headline composition:
* frontier_epoch — one warm `CrawlEngine.run_epoch` (schedule, fetch/route,
  documents, expansion, enqueue, commit) on perfbench's `frontier_wide`
  store at SPARK_GRAFT_FRONTIER_N frontier rows (default 2M), built
  untimed (`engine_epoch_reps`). frontier_urls_per_sec = scheduled URLs /
  epoch seconds, perfbench's `urls_per_s`.
* seen_bloom — the engine's seen-membership operator (seenset.flag_seen):
  partitioned bloom build over 1M string seen keys + probe of 2M
  candidates with exact verify on the string key, unseen rows kept.
* a representative slice of __spark_entry__ queries at the sf tables.

Every query except the epoch is executed with a noop write (full
execution, no sink I/O).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from crawler_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FRONTIER_N = int(os.environ.get("SPARK_GRAFT_FRONTIER_N", "2000000"))
BATCH_BUDGET = 500_000
HOST_BUDGET = 1000
FRONTIER_SEED = 42


def run_noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def release_caches(spark):
    """Drop per-query scratch state between measurements: catalog persists
    via clearCache, plus RDD-layer localCheckpoint blocks (e.g. the
    seen-set probe's materialized batch), which the CacheManager does NOT
    track — those need the driver to GC the DataFrame and the
    ContextCleaner to run, so flush both explicitly."""
    import gc

    spark.catalog.clearCache()
    gc.collect()  # drop py4j refs so the JVM objects become unreachable
    spark.sparkContext._jvm.System.gc()


def frontier_wide_size(n: int, batch: int) -> dict:
    """perfbench's full `frontier_wide` workload at `n` frontier rows, with
    this module's host budget and a batch budget of `batch`."""
    from perfbench.workloads import SIZES

    return dict(SIZES["frontier_wide"]["full"], n_frontier=n, host_budget=HOST_BUDGET, batch_budget=batch)


def engine_epoch_reps(spark, work_dir: str, size: dict, reps: int, warm: int = 1) -> dict:
    """Time warm `CrawlEngine.run_epoch(0)` on a `frontier_wide` store.

    Untimed set-up builds the store under `work_dir/store`
    (perfbench/workloads.py::build_frontier_wide) and copies it aside to
    `work_dir/pristine`. Every epoch, the `warm` untimed ones and the `reps`
    timed ones, runs on a fresh copy of the pristine store, so each does the
    same work; `work_dir/store` keeps the last epoch's commit. Returns the
    timed seconds and the URLs each epoch scheduled."""
    from perfbench.workloads import build_frontier_wide

    from crawler_spark.storage.snapshots import SnapshotStore

    live, pristine = os.path.join(work_dir, "store"), os.path.join(work_dir, "pristine")
    for d in (live, pristine):
        shutil.rmtree(d, ignore_errors=True)
    store = SnapshotStore(spark, live)
    engine = build_frontier_wide(spark, store, FRONTIER_SEED, size).engine(spark, store)
    shutil.copytree(live, pristine)
    secs = []
    for rep in range(warm + reps):
        if rep:
            shutil.rmtree(live)
            shutil.copytree(pristine, live)
        t0 = time.time()
        scheduled = engine.run_epoch(0)["scheduled"]
        if rep >= warm:
            secs.append(time.time() - t0)
    shutil.rmtree(pristine)
    return {"reps": secs, "scheduled": scheduled}


def seen_bloom_job(spark):
    from crawler_spark.operators.seenset import build_filters, flag_seen

    def key(ids):
        return F.concat(F.lit("npm@u"), ids.cast("string"))

    seen = spark.range(1_000_000).select(key(F.col("id")).alias("seen_key")).select(
        "seen_key", F.xxhash64("seen_key").alias("seen_hash")
    )
    cands = spark.range(2_000_000).select(
        key(F.col("id") % 1_500_000).alias("_skey"), F.col("id").alias("cand_id")
    ).withColumn("url_hash", F.xxhash64("_skey"))
    filters = build_filters(seen, n_partitions=64)
    return flag_seen(cands, seen, filters, n_partitions=64).filter(F.col("_ex").isNull())


def main():
    spark = get_spark("bench", parallelism=CPUS, shuffle_partitions=CPUS)
    import __spark_entry__ as entrymod

    queries: dict[str, float] = {}

    # the frontier store lives on tmpfs: a virtual disk's throughput can
    # vary widely enough to poison the epoch timings
    bench_dir = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = f"{bench_dir}/frontier_bench_{FRONTIER_N}"
    epoch = engine_epoch_reps(spark, work, frontier_wide_size(FRONTIER_N, BATCH_BUDGET), reps=1)
    shutil.rmtree(work)
    queries["frontier_epoch"] = epoch["reps"][0]
    release_caches(spark)
    # warm the Python-worker/Arrow path (the seen-set probe is the
    # process's first applyInPandas otherwise: worker-pool spawn + Arrow
    # codec JIT added ~2.5-4 s to the r3 timed number; isolated steady state
    # is ~3 s — see BASELINE.md round-4 section). In the engine the probe
    # runs every epoch, so steady state is the representative measurement.
    run_noop(seen_bloom_job(spark))
    release_caches(spark)
    t0 = time.time()
    queries["seen_bloom"] = run_noop(seen_bloom_job(spark))
    release_caches(spark)

    # q_minhash_near_dups / q_embed_near_pairs_lsh keep timing the RAW
    # operators (MinHash→LSH pipeline, multi-table-LSH pair generation)
    # with round-1-4 parameters, NOT the round-5 invariant-oracled driver
    # entries of the same names (those add an exact-pair computation for
    # verification, which would break round-over-round comparability).
    def _bench_minhash(spark, sf_dir):
        from crawler_spark.operators.dedup import minhash_near_duplicates

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return minhash_near_duplicates(d, "doc_id", "text", threshold=0.5)

    def _bench_embed_lsh(spark, sf_dir):
        from crawler_spark.operators.similarity import pairwise_cosine_near_dups

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return pairwise_cosine_near_dups(emb, threshold=0.35, n_planes=8, n_tables=8)

    qs = entrymod.queries()
    qs["q_minhash_near_dups"] = _bench_minhash
    qs["q_embed_near_pairs_lsh"] = _bench_embed_lsh
    for name in (
        "q_schedule_epoch", "q_fetch_join", "q_latest_maxby", "q_minhash_near_dups",
        # exact-Jaccard headline is the prefix-filtered (AllPairs/PPJoin)
        # form — identical values to q_ngram_jaccard without the guard,
        # and the only exact variant that survives 100×; the guarded
        # all-shared-shingles form stays an oracle-only query
        "q_ngram_jaccard_prefix", "q_cosine_topk", "q_embed_near_pairs_lsh",
        "q_token_quality", "q_langid", "q_dedup_fingerprint", "q_media_decode",
        "q_source_discovery", "q_maven_pom_merge", "q_manifest_discovery",
        "q_dedup_clusters",
    ):
        # q_embed_near_pairs_lsh (multi-table LSH prefilter) is the scale
        # path; the exact all-pairs q_embed_near_pairs stays a tiny-sf
        # correctness oracle only
        queries[name] = run_noop(qs[name](spark, SF_DIR))
        # release the operators' internal diamond persists (band/chunk/
        # shingle tables) — they are per-query scratch, and letting them
        # accumulate degrades every later measurement (executor memory
        # pressure), which is not what the per-query numbers should show
        release_caches(spark)

    total = queries["frontier_epoch"] + time.time() - t0
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline suite wall time (engine frontier epoch, bloom seen-set, entry queries)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "frontier_n": FRONTIER_N,
        "frontier_urls_per_sec": round(epoch["scheduled"] / queries["frontier_epoch"]),
        "cpus": CPUS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
