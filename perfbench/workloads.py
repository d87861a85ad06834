"""The three benchmark workloads: pristine-store builders and engine settings.

Every workload is a function of the generator seed only. Tables come from
the package's public generators (`gen_frontier_core`, `gen_registry_py`,
`gen_documents_spans`, the parity fixture generators) and land in a
`SnapshotStore` through `SnapshotStore.commit` (or `CrawlEngine.bootstrap`
for the parity fixture). The engine sees only the committed tables.

* ``crawl_fixture`` -- the tier-1 parity fixture; an epoch schedules at most
  10 URLs, so its cost is the engine's fixed per-epoch floor.
* ``frontier_wide`` -- a standing Zipf-skewed frontier of 3x10^5 rows over
  many hosts, large budgets, a seen set no larger than the frontier and no
  documents: scheduling and the frontier rewrite dominate.
* ``history_deep`` -- a small frontier and batch over a large seen set and
  a documents log spread over many append dirs, with the bloom/cuckoo seen
  filters on: per-epoch cost follows crawl history.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.config import POP_RNG_SEED, QUEUE_NAMES
from crawler_spark.data.generators import (
    FETCH_PROVIDERS,
    gen_documents_spans,
    gen_frontier_core,
    gen_registry_py,
    gen_robots_py,
    gen_seeds_py,
    registry_df,
    robots_df,
    seeds_df,
)
from crawler_spark.data.visitor_map import TOOL_TASKS
from crawler_spark.operators.epoch import FRONTIER_COLS, CrawlEngine
from crawler_spark.simulator import coord_url, latest_version_py
from crawler_spark.storage.snapshots import SnapshotStore

# registry provider -> coordinate type, as the registry fixtures spell them
SPEC_TYPE = {
    "npmjs": "npm", "pypi": "pypi", "cratesio": "crate", "mavencentral": "maven",
    "nuget": "nuget", "rubygems": "gem", "golang": "go", "packagist": "composer",
    "cocoapods": "pod", "debian": "deb",
}

# Sizes per workload; "tiny" is the smoke-test scale.
SIZES = {
    "crawl_fixture": {
        "full": dict(n_names=20, n_seeds=12, host_budget=4, batch_budget=10),
        "tiny": dict(n_names=20, n_seeds=12, host_budget=4, batch_budget=10),
    },
    "frontier_wide": {
        "full": dict(n_frontier=300_000, n_hosts=1000, n_registry=4000, resolve_share=0.8,
                     pinned_pct=30, host_budget=10, batch_budget=2000),
        "tiny": dict(n_frontier=2000, n_hosts=20, n_registry=40, resolve_share=0.8,
                     pinned_pct=30, host_budget=5, batch_budget=50),
    },
    "history_deep": {
        "full": dict(n_frontier=1000, n_hosts=16, n_history=200_000, seen_share_pct=50,
                     n_doc_dirs=4, docs_per_dir=10_000, host_budget=15, batch_budget=100),
        "tiny": dict(n_frontier=40, n_hosts=4, n_history=2000, seen_share_pct=50,
                     n_doc_dirs=3, docs_per_dir=200, host_budget=5, batch_budget=20),
    },
}


@dataclass
class Workload:
    """A built workload: the engine factory plus what the gate needs."""

    size: dict
    registry_rows: list[dict]
    robots_rows: list[dict]
    seed_rows: list[dict] = field(default_factory=list)
    use_seen_filters: bool = False
    rng_seed: int = POP_RNG_SEED

    def engine(self, spark: SparkSession, store: SnapshotStore) -> CrawlEngine:
        return CrawlEngine(
            spark, store, registry_df(spark, self.registry_rows), robots_df(spark, self.robots_rows),
            host_budget=self.size["host_budget"], batch_budget=self.size["batch_budget"],
            rng_seed=self.rng_seed, use_seen_filters=self.use_seen_filters,
        )


def _pick(options: list, col) -> F.Column:
    """`options[col mod len(options)]` as a column."""
    return F.element_at(F.array(*[F.lit(o) for o in options]), (F.pmod(col, F.lit(len(options))) + 1).cast("int"))


def synthetic_frontier(
    spark: SparkSession, n: int, seed: int, n_hosts: int, name_index, pinned_pct: int
) -> DataFrame:
    """Frontier rows in the engine's schema from `gen_frontier_core`'s skew
    model (Zipf hosts, 3/7/80/10 queue mix, FIFO seq). Each row is a
    package request for registry name `pkg-<name_index>`; `pinned_pct`% pin
    a revision the registry usually lacks, the rest resolve to latest."""
    core = gen_frontier_core(spark, n, seed=seed, n_hosts=n_hosts)
    j = name_index(F.col("enqueued_seq"))
    provider = _pick(list(FETCH_PROVIDERS), j)
    spec = _pick([SPEC_TYPE[p] for p in FETCH_PROVIDERS], j)
    namespace = F.when(provider == "mavencentral", F.concat(F.lit("ns"), F.pmod(j, F.lit(7))))
    name = F.format_string("pkg-%04d", j)
    pinned = F.pmod(F.xxhash64(F.col("enqueued_seq"), F.lit(seed + 13)), F.lit(100)) < pinned_pct
    revision = F.when(pinned, F.concat(F.lit("1."), F.col("rev_minor"), F.lit(".0")))
    url = F.concat(
        F.lit("cd:/"), spec, F.lit("/"), provider, F.lit("/"), F.coalesce(namespace, F.lit("-")),
        F.lit("/"), name, F.coalesce(F.concat(F.lit("/"), revision), F.lit("")),
    )
    rows = core.select(
        url.alias("url"), spec.alias("type"), spec.alias("spec_type"), provider.alias("provider"),
        namespace.alias("namespace"), name.alias("name"), revision.alias("revision"),
        F.concat(F.lit("host-"), F.col("host_id")).alias("host"),
        _pick(list(QUEUE_NAMES), F.col("queue_code")).alias("queue"),
        F.lit("global").alias("scope"), F.lit("default").alias("policy"),
        "attempt_count", "not_before_epoch", "parent_epoch", "enqueued_seq",
    )
    return rows.withColumn(
        "url_hash", F.xxhash64(F.concat(F.col("type"), F.lit("@"), F.col("url")))
    ).select(*FRONTIER_COLS)


def seen_of(keys: DataFrame, first_seen_epoch) -> DataFrame:
    """Seen rows in the engine's schema from a `seen_key` column."""
    return keys.select(
        "seen_key", F.xxhash64("seen_key").alias("seen_hash"),
        F.lit(first_seen_epoch).cast("int").alias("first_seen_epoch"),
    )


def build_crawl_fixture(spark: SparkSession, store: SnapshotStore, seed: int, size: dict) -> Workload:
    # the tables are exactly the tier-1 parity fixture (the generators'
    # default seed); the benchmark seed drives the pop-rotation RNG, so
    # seeds vary which URLs an epoch schedules, not the fixture itself
    wl = Workload(
        size,
        registry_rows=gen_registry_py(size["n_names"]),
        robots_rows=gen_robots_py(),
        seed_rows=gen_seeds_py(size["n_seeds"], n_names=size["n_names"]),
        rng_seed=seed,
    )
    wl.engine(spark, store).bootstrap(seeds_df(spark, wl.seed_rows))
    return wl


def build_frontier_wide(spark: SparkSession, store: SnapshotStore, seed: int, size: dict) -> Workload:
    wl = Workload(
        size,
        registry_rows=gen_registry_py(size["n_registry"], seed=seed),
        robots_rows=gen_robots_py(seed=seed),
    )
    # names beyond the registry's range are unknown to it: their share of
    # the name space is the unresolved share of the frontier
    name_space = round(size["n_registry"] / size["resolve_share"])
    frontier = synthetic_frontier(
        spark, size["n_frontier"], seed, size["n_hosts"],
        lambda seq: F.pmod(F.xxhash64(seq, F.lit(seed + 11)), F.lit(name_space)),
        size["pinned_pct"],
    )
    # every queued URL was seen when it was enqueued: the seen set is the
    # frontier's distinct keys, far smaller than the frontier itself
    seen = seen_of(
        frontier.select(F.concat("type", F.lit("@"), "url").alias("seen_key")).distinct(), -1
    )
    store.commit(
        epoch=-1, replace={"frontier": frontier, "seen": seen},
        meta={"next_seq": size["n_frontier"]},
    )
    return wl


def seen_children_keys(registry_rows: list[dict], seed: int, share_pct: int) -> list[str]:
    """The tool-task children keys (`tool@url`) that expanding an unpinned
    request would produce, for the registry names whose hash falls in the
    first `share_pct` percent: these names' children are already seen."""
    import zlib

    versions: dict[tuple, list[tuple[int, str]]] = {}
    for r in registry_rows:
        versions.setdefault((r["provider"], r["namespace"], r["name"]), []).append(
            (r["release_seq"], r["version"])
        )
    keys = []
    for (provider, namespace, name), vs in sorted(versions.items()):
        if zlib.crc32(f"{seed}:{name}".encode()) % 100 >= share_pct:
            continue
        latest = latest_version_py([v for _, v in sorted(vs)])
        url = coord_url({"type": SPEC_TYPE[provider], "provider": provider,
                         "namespace": namespace, "name": name, "revision": latest})
        keys += [f"{tool}@{url}" for tool in TOOL_TASKS]
    return keys


def build_history_deep(spark: SparkSession, store: SnapshotStore, seed: int, size: dict) -> Workload:
    n = size["n_frontier"]
    wl = Workload(
        size,
        registry_rows=gen_registry_py(n, seed=seed),
        robots_rows=gen_robots_py(seed=seed),
        use_seen_filters=True,
    )
    # one unpinned request per registry name: every scheduled name resolves
    frontier = synthetic_frontier(spark, n, seed, size["n_hosts"], lambda seq: seq, 0)
    history = spark.range(size["n_history"]).select(
        F.concat(F.lit("npm@cd:/npm/npmjs/-/hist-"), F.col("id"), F.lit("/1.0.0")).alias("seen_key")
    )
    known = spark.createDataFrame(
        [(k,) for k in seen_children_keys(wl.registry_rows, seed, size["seen_share_pct"])],
        "seen_key string",
    )
    queued = frontier.select(F.concat("type", F.lit("@"), "url").alias("seen_key"))
    seen = seen_of(history.unionByName(known).unionByName(queued), -1)
    store.commit(epoch=-1, replace={"frontier": frontier, "seen": seen}, meta={"next_seq": n})
    # the documents log: one append dir per past epoch, each re-landing the
    # same document ids, so the latest-per-doc aggregation spans every dir
    k = size["n_doc_dirs"]
    for i in range(k):
        ep = i - k - 1
        docs = gen_documents_spans(spark, size["docs_per_dir"], seed=seed + i).select(
            "doc_id", "spans", F.lit("npm").alias("doc_type"), F.lit(ep).alias("epoch"),
            F.lit(None).cast("string").alias("etag"), F.lit(ep).alias("fetched_at_epoch"),
            F.lit(ep).alias("processed_at_epoch"), F.lit(1).alias("version"),
            F.lit(None).cast("timestamp").alias("release_date"),
        )
        store.commit(epoch=-1, append={"documents": docs}, meta={"next_seq": n})
    return wl


BUILDERS = {
    "crawl_fixture": build_crawl_fixture,
    "frontier_wide": build_frontier_wide,
    "history_deep": build_history_deep,
}
