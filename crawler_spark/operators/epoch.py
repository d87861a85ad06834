"""The scheduling epoch — the Spark twin of the reference's crawl loop.

One epoch ≡ one batch pass of pop → fetch → process → store → expand
(/root/reference/ghcrawler/lib/crawler.js:111-126), expressed as a
DataFrame DAG committed atomically to the snapshot store:

1. **eligibility** — politeness/backoff gate `not_before_epoch <= epoch`
   (crawler.js:92-105,172-174) + parent-before-child `parent_epoch < epoch`
   (children durably enqueued before the parent acks, crawler.js:272-298).
2. **robots gate** — broadcast join against the robots table; disallowed
   coordinates are logged 'RobotsExcluded' and dropped (north rule).
3. **per-host politeness budget** — `row_number() OVER (PARTITION BY host
   ORDER BY scope_rank, enqueued_seq) <= budget` (north rule; the batch
   analogue of the reference's per-request delay gates).
4. **weighted pop ranking** — per-(scope,queue) FIFO rank via window;
   the global pop order comes from the shared `poporder` kernel run on
   the 8 per-queue *counts* (queueSet.js:60-98 semantics, local-first
   scopedQueueSets.js:51-60), then joined back as a broadcast map
   (scope, queue, fifo_rank) → pop_index. Driver-side work is O(batch)
   over 8 integers — independent of frontier size.
5. **fetch simulation** — scheduled batch ⨝ registry dims: latest-version
   resolution (max_by semver, baseHandler.js:83-101), 404 → 'Skipped',
   throttle → 'Requeued' with backoff or 'Deadletter' past 5 attempts
   (goFetch.js:68-75; crawler.js:330-342), payload spans land in
   `documents`.
6. **expansion** — processed rows ⨝ broadcast(visitor_map) → children,
   canonicalized + hashed, deduped within the batch ('Attenuated',
   attenuatedQueue.js:36-69), checked against the seen set
   (seenset.flag_seen; request.js:117-121, 247-251), inserted with
   deterministic `enqueued_seq` derived from (pop_index, edge_idx) — never
   `monotonically_increasing_id` (SURVEY.md §4).
7. **commit** — one atomic snapshot replacing {frontier} and appending
   {seen, documents, schedule_log, deadletters, epoch_metrics,
   epoch_host_metrics, harvest_events}; `seen` gains only new keys (`_commit`).

Scale notes: enqueued_seq assignment over the epoch's *new* rows uses a
range-partitioned two-phase dense rank (skew.py::dense_global_seq — no
single-partition sort at any batch size); every window partitions by
host or (scope,queue). The registry-name dim join is a hash join on
(provider,namespace,name) — broadcast when small. Hot-host skew is
handled by AQE skew-join plus the `salt` column for the budget window
(see scheduler notes in SURVEY.md §4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.config import (
    CRAWL_NOW,
    DEFAULT_BATCH_BUDGET,
    DEFAULT_HOST_BUDGET,
    DEFAULT_PROCESSOR_VERSIONS,
    FETCH_CACHE_TTL_EPOCHS,
    MAX_REQUEUE_ATTEMPTS,
    NAMED_POLICIES,
    POP_RNG_SEED,
    QUEUE_NAMES,
    REQUEUE_DELAY_EPOCHS,
)
from crawler_spark.functions.dates import extract_date
from crawler_spark.data.visitor_map import (
    PACKAGE_SPEC_TYPES,
    SOURCE_SPEC_TYPES,
    TERMINAL_TYPES,
    TRAVERSABLE_TYPES,
    VISITOR_EDGES,
    visitor_map_df,
)
from crawler_spark.functions.coordinates import host_for_provider, to_url, to_urn, with_parsed_coordinates
from crawler_spark.functions.versions import latest_version_agg
from crawler_spark.operators.seenset import flag_seen
from crawler_spark.poporder import epoch_rng, pop_schedule
from crawler_spark.storage.snapshots import SnapshotStore

FRONTIER_COLS = [
    "url", "type", "spec_type", "provider", "namespace", "name", "revision",
    "host", "queue", "scope", "policy", "attempt_count", "not_before_epoch",
    "parent_epoch", "enqueued_seq", "url_hash",
]

def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """POST /requests equivalent: rationalize + canonicalize seed rows into
    frontier entries (/root/reference/ghcrawler/routes/requests.js:24-41).
    The `_seed_bypass` marker lets enqueue_batch admit external
    re-submissions past the global seen set (the reference pushes every
    POSTed request; its seen history is per-traversal)."""
    parsed = with_parsed_coordinates(seeds.withColumnRenamed("type", "request_type"), "url")
    return parsed.withColumn("_seed_bypass", F.lit(True)).select(
        "_seed_bypass",
        # fail loudly on an unparseable seed url (the simulator twin
        # raises the same way): silently enqueueing a null-coordinate
        # row would log a NULL-url 'Processed' outcome and expand nothing
        F.when(
            F.col("canonical_url").isNotNull(), F.col("canonical_url")
        ).otherwise(
            F.raise_error(F.concat(F.lit("unparseable seed url: "), F.coalesce(F.col("url"), F.lit("NULL"))))
        ).alias("url"),
        F.col("request_type").alias("type"),
        F.col("type").alias("spec_type"),
        "provider", "namespace", "name", "revision", "host",
        # fail loudly on a queue outside the configured four: pop_schedule
        # iterates SCOPES × QUEUE_NAMES only, so an unknown queue would
        # otherwise sit in the frontier forever, silently unschedulable
        # (the reference's queue lookup throws on an unknown name too).
        # raise_error keeps this lazy — no extra validation action.
        F.when(
            F.coalesce(F.col("queue"), F.lit("normal")).isin(*QUEUE_NAMES),
            F.coalesce(F.col("queue"), F.lit("normal")),
        ).otherwise(
            F.raise_error(F.concat(F.lit("unknown queue: "), F.col("queue")))
        ).alias("queue"),
        F.lit("global").alias("scope"),
        F.coalesce(F.col("policy"), F.lit("default")).alias("policy"),
        F.lit(0).alias("attempt_count"),
        F.coalesce(F.col("not_before"), F.lit(0)).cast("int").alias("not_before_epoch"),
        F.lit(-1).alias("parent_epoch"),
        F.col("seed_id").cast("long").alias("_order"),
        F.xxhash64(F.concat(F.col("request_type"), F.lit("@"), F.col("canonical_url"))).alias("url_hash"),
    )


def _seen_key(type_col, url_col):
    return F.concat(type_col, F.lit("@"), url_col)


def enqueue_batch(
    entries: DataFrame,
    seen: DataFrame,
    next_seq: int,
    order_cols: list[str],
    seen_epoch: int = 0,
    seen_filters: DataFrame | None = None,
    n_filter_parts: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame, list[DataFrame]]:
    """Attenuation + seen-filter + deterministic seq assignment.

    `entries` must carry `_order`-able columns (`order_cols`) defining the
    reference push order. Returns (new_frontier_rows, new_seen_rows,
    fate_rows, cached_nodes): `fate_rows` is a LAZY (fate, n) DataFrame —
    fold it into the epoch's single counter action via
    `collect_fate_counters` (the r5 one-action-per-epoch contract) — and
    the caller unpersists each of `cached_nodes` after committing so the
    write path reuses the selection. Mirrors CrawlSimulator.enqueue_batch.

    Seen membership is seenset.flag_seen: with `seen_filters`
    (per-partition bloom states from seenset.build_filters over
    `n_filter_parts` partitions) it is bloom-accelerated, verifying
    suspects on the full string key. Result is identical to the plain
    join; only the physical plan changes.
    """
    okey = [F.col(c) for c in order_cols]
    # attenuation key includes the policy short form, matching the
    # reference cache key t:{attempt}:{type}@{url}:{policy}
    # (attenuatedQueue.js:66-69)
    policy_root = F.split_part(F.col("policy"), F.lit(":"), F.lit(1))
    w_dedup = Window.partitionBy(
        "attempt_count", "type", "url", policy_root
    ).orderBy(*okey)
    deduped = (
        entries.withColumn("_dup_rank", F.row_number().over(w_dedup))
        .withColumn("_is_dup", F.col("_dup_rank") > 1)
    )
    deduped = deduped.cache()
    uniq = deduped.filter(~F.col("_is_dup")).drop("_dup_rank", "_is_dup")

    fresh = uniq.filter(F.col("attempt_count") == 0)
    requeued = uniq.filter(F.col("attempt_count") > 0)
    skey = _seen_key(F.col("type"), F.col("url"))
    # Seen-set bypass: reprocess-family policies revisit despite history
    # (traversalPolicy.js:135-154), and external seed submissions always
    # enqueue (POST /requests pushes unconditionally — the global seen set
    # gates traversal-discovered children). Everything else is filtered.
    # _krank orders same-key rows within the batch: the first introduces
    # the key (simulator processes sequentially — later same-key default
    # rows in the SAME batch are filtered too).
    is_reprocess = (
        policy_root.startswith("reprocess")
        | policy_root.startswith("always")
        | policy_root.startswith("reharvest")
    )
    if "_seed_bypass" in entries.columns:
        is_reprocess = is_reprocess | F.coalesce(F.col("_seed_bypass"), F.lit(False))
    w_key = Window.partitionBy(skey).orderBy(*okey)
    fresh2 = fresh.withColumn("_skey", skey).withColumn(
        "_krank", F.row_number().over(w_key)
    )
    # `_ex`: True iff `_skey` is already in `seen`, else NULL
    flagged = flag_seen(fresh2, seen, seen_filters, n_filter_parts)
    flagged = flagged.cache()
    known = F.coalesce(F.col("_ex"), F.lit(False)) | (F.col("_krank") > 1)
    unseen = flagged.filter(is_reprocess | ~known)
    new_seen = (
        flagged.filter(~F.coalesce(F.col("_ex"), F.lit(False)) & (F.col("_krank") == 1))
        .select("type", "url")
    )
    unseen = unseen.drop("_skey", "_krank", "_ex")
    accepted = unseen.unionByName(requeued.select(*unseen.columns))
    # dense queue-tail seqs in reference push order, without a
    # single-partition sort (range-partitioned two-phase rank — the
    # 10^8-row-batch-safe form; operators/skew.py::dense_global_seq)
    from crawler_spark.operators.skew import dense_global_seq

    accepted = dense_global_seq(accepted, okey, "enqueued_seq", next_seq)
    new_frontier = accepted.select(*FRONTIER_COLS)
    new_seen = new_seen.select(
        _seen_key(F.col("type"), F.col("url")).alias("seen_key"),
        F.xxhash64(_seen_key(F.col("type"), F.col("url"))).alias("seen_hash"),
        F.lit(seen_epoch).cast("int").alias("first_seen_epoch"),
    )
    # LAZY fate tags instead of a collect (r5): every entry tagged with
    # its fate over the two cached nodes. The caller decides when/with
    # what to aggregate — run_epoch unions these with the outcome log so
    # the WHOLE epoch's counters cost ONE driver action (the old shape
    # was two: fates here, outcomes later — each a serial barrier,
    # VERDICT r4 item 3); bootstrap/submit collect them standalone.
    fate_rows = (
        deduped.filter(F.col("_is_dup")).select(F.lit("att").alias("_fate"))
        .unionAll(requeued.select(F.lit("enq").alias("_fate")))
        .unionAll(
            flagged.select(
                F.when(is_reprocess | ~known, F.lit("enq")).otherwise(F.lit("seen")).alias("_fate")
            )
        )
    )
    # caller unpersists [deduped, flagged] AFTER committing, so the write
    # path reuses the cached selection instead of recomputing it
    return new_frontier, new_seen, fate_rows, [deduped, flagged]


def collect_fate_counters(fate_rows: DataFrame, extra: DataFrame | None = None) -> dict:
    """ONE driver action over the fate tags (optionally unioned with
    outcome tags — `extra` rows must carry the same `_fate` column).
    Returns every count keyed by tag."""
    rows = fate_rows if extra is None else fate_rows.unionAll(extra)
    fc = {r["_fate"]: r["n"] for r in rows.groupBy("_fate").agg(F.count(F.lit(1)).alias("n")).collect()}
    return fc


def _enqueue_counters(fc: dict) -> dict:
    return {
        "attenuated": fc.get("att", 0),
        "seen_filtered": fc.get("seen", 0),
        "enqueued": fc.get("enq", 0),
    }


class CrawlEngine:
    """Epoch-batch crawl over a SnapshotStore."""

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        registry: DataFrame,
        robots: DataFrame | None = None,
        host_budget: int = DEFAULT_HOST_BUDGET,
        batch_budget: int = DEFAULT_BATCH_BUDGET,
        rng_seed: int = POP_RNG_SEED,
        use_seen_filters: bool = False,
        n_filter_parts: int = 16,
        policies: dict[str, tuple[str, str | int]] | None = None,
        processor_versions: dict[str, int] | None = None,
        tags: DataFrame | None = None,
    ):
        self.spark = spark
        self.store = store
        self.host_budget = host_budget
        self.batch_budget = batch_budget
        self.rng_seed = rng_seed
        # bloom-accelerated seen membership (M3): identical results,
        # smaller anti-join probe side — the 10^10-scale path
        self.use_seen_filters = use_seen_filters
        self.n_filter_parts = n_filter_parts
        if "etag" not in registry.columns:
            registry = registry.withColumn("etag", F.lit(None).cast("string"))
        if tags is not None:
            # source discovery (P22): fill unresolved source_* columns from
            # candidate URLs × the tags dim — a registry-dim preprocessing
            # join, so the has_source expansion edge consumes discovered
            # locations transparently (npmExtract.js:41-45 flow)
            from crawler_spark.operators.discovery import resolve_registry_sources

            registry = resolve_registry_sources(registry, tags)
        self.registry = registry
        # policy algebra dim (traversalPolicy.js:124-171 + custom specs):
        # tiny, broadcast into the fetch join. Integer freshness becomes
        # kind='days' with the horizon in f_n (epoch units).
        self.policies = {**NAMED_POLICIES, **(policies or {})}
        self.processor_versions = {**DEFAULT_PROCESSOR_VERSIONS, **(processor_versions or {})}
        self.policy_dim = spark.createDataFrame(
            [
                (root, fam, "days" if isinstance(fresh, int) else fresh,
                 fresh if isinstance(fresh, int) else None)
                for root, (fam, fresh) in self.policies.items()
            ],
            "policy_root string, family string, fkind string, f_n int",
        )
        self.robots = robots if robots is not None else spark.createDataFrame(
            [], "host string, disallow_prefix string"
        )
        # per-name fetch dim: status/fail_attempts constant per name in the
        # fixture (dispatcher storage-first + HTTP fate), latest resolved once
        self.registry_names = (
            registry.groupBy("provider", "namespace", "name")
            .agg(
                # min_by release_seq, not F.first: first() is
                # partition-order-dependent, and the simulator reads the
                # fixture's list head (rows are constant-per-name in
                # every fixture, but determinism shouldn't rest on that)
                F.min_by("status", "release_seq").alias("status"),
                F.min_by("fail_attempts", "release_seq").alias("fail_attempts"),
                latest_version_agg(F.col("version"), F.col("release_seq")).alias("latest_version"),
            )
        )
        self.visitor_map = visitor_map_df(spark).withColumn(
            "edge_idx",
            F.expr(
                "CASE "
                + " ".join(
                    f"WHEN parent_type='{p}' AND child_name='{n}' AND condition='{c}' THEN {i}"
                    for i, (p, n, _t, _s, c) in enumerate(VISITOR_EDGES)
                )
                + " END"
            ),
        )

    # ------------------------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> dict:
        """Create snapshot v0 with the seed frontier + seen set."""
        empty_seen = self.spark.createDataFrame(
            [], "seen_key string, seen_hash long, first_seen_epoch int"
        )
        entries = seeds_to_frontier(seeds)
        front, seen_new, fate_rows, cached = enqueue_batch(entries, empty_seen, 0, ["_order"], seen_epoch=0)
        counters = _enqueue_counters(collect_fate_counters(fate_rows))
        self.store.commit(
            epoch=-1,
            replace={"frontier": front, "seen": seen_new},
            meta={"next_seq": counters["enqueued"], "counters": counters},
        )
        for df in cached:
            df.unpersist()
        return counters

    # ------------------------------------------------------------------
    def submit_requests(self, seeds: DataFrame, epoch: int) -> dict:
        """POST /requests mid-crawl (routes/requests.js:24-41):
        canonicalize + enqueue external submissions into the current
        snapshot's frontier. Seeds bypass the global seen filter (the
        reference pushes every POSTed request — its seen history is
        per-traversal), which is how re-submitted default/reload/refresh
        requests reach the freshness gates at all."""
        snap = self.store.snapshot()
        next_seq = int(snap.meta.get("next_seq", 0))
        seen = self.store.read("seen")
        entries = seeds_to_frontier(seeds)
        front, seen_new, fate_rows, cached = enqueue_batch(entries, seen, next_seq, ["_order"], seen_epoch=epoch)
        counters = _enqueue_counters(collect_fate_counters(fate_rows))
        self._commit(
            snap, snap.epoch, seen, seen_new, replace={}, append={"frontier": front},
            meta={"next_seq": next_seq + counters["enqueued"], "counters": counters},
        )
        for df in cached:
            df.unpersist()
        return counters

    # ------------------------------------------------------------------
    def run_epoch(self, epoch: int) -> dict:
        spark = self.spark
        snap = self.store.snapshot()
        next_seq = int(snap.meta.get("next_seq", 0))
        frontier = self.store.read("frontier")
        seen = self.store.read("seen")

        eligible = frontier.filter(
            (F.col("not_before_epoch") <= epoch) & (F.col("parent_epoch") < epoch)
        )
        ineligible = frontier.filter(
            (F.col("not_before_epoch") > epoch) | (F.col("parent_epoch") >= epoch)
        )

        # -- robots gate (broadcast nested-loop on host+prefix; robots is tiny)
        rj = eligible.join(
            F.broadcast(self.robots),
            (eligible["host"] == self.robots["host"])
            & F.col("name").startswith(self.robots["disallow_prefix"]),
            "left",
        )
        # dedup on the unique frontier key, not a 16-column distinct: a
        # row matching several disallow prefixes fans out in the join,
        # and every fan-out copy is full-row identical, so the narrow
        # key gives the same set without shuffling all columns
        excluded = (
            rj.filter(self.robots["host"].isNotNull())
            .select(eligible["*"])
            .dropDuplicates(["enqueued_seq"])
        )
        allowed = rj.filter(self.robots["host"].isNull()).select(eligible["*"])

        # -- per-host politeness budget (S6), hot-host-salted (SURVEY §4):
        # two-phase top-k keeps every window partition bounded even when a
        # Zipf-head host owns most of the frontier. Identical result to a
        # plain per-host row_number ≤ budget (parity-tested).
        from crawler_spark.operators.skew import salted_topk_per_group

        scope_rank = F.when(F.col("scope") == "local", 0).otherwise(1)
        budgeted = allowed.withColumn("_scope_rank", scope_rank)
        offered, deferred = salted_topk_per_group(
            budgeted,
            ["host"],
            ["_scope_rank", "enqueued_seq"],
            self.host_budget,
            n_salts=8,
            salt_on="enqueued_seq",
        )
        offered = offered.drop("_scope_rank", "_host_rank", "_rank")
        deferred = deferred.drop("_scope_rank")

        offered = offered.cache()
        # -- weighted pop order from per-queue counts (S1/S4/S10)
        counts = {
            (r["scope"], r["queue"]): r["cnt"]
            for r in offered.groupBy("scope", "queue").agg(F.count("*").alias("cnt")).collect()
        }
        order = pop_schedule(counts, self.batch_budget, epoch_rng(epoch, self.rng_seed))
        if order:
            sched_pdf = pd.DataFrame(
                [(s, q, r, i) for i, (s, q, r) in enumerate(order)],
                columns=["scope", "queue", "fifo_rank", "pop_index"],
            )
            sched_map = spark.createDataFrame(sched_pdf)
        else:
            sched_map = spark.createDataFrame([], "scope string, queue string, fifo_rank long, pop_index long")

        w_fifo = Window.partitionBy("scope", "queue").orderBy("enqueued_seq")
        ranked = offered.withColumn("fifo_rank", (F.row_number().over(w_fifo) - 1).cast("long"))
        scheduled = ranked.join(F.broadcast(sched_map), ["scope", "queue", "fifo_rank"]).drop("fifo_rank")
        leftover = ranked.join(F.broadcast(sched_map), ["scope", "queue", "fifo_rank"], "left_anti").drop("fifo_rank")

        # -- fetch simulation + outcome routing (S8/S14, F1-F17); the
        # documents snapshot (epoch start) backs the dispatcher's
        # storage-first read (dispatcher.js:29-43)
        docs_now = self.store.read("documents")
        if docs_now is None:
            docs_now = self.spark.createDataFrame(
                [],
                "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
                "doc_type string, epoch int, etag string, fetched_at_epoch int, "
                "processed_at_epoch int, version int, release_date timestamp",
            )
        outcomes = self._fetch_and_route(scheduled, epoch, docs_now)
        outcomes = outcomes.cache()

        processed = outcomes.filter(F.col("outcome") == "Processed")
        requeues = outcomes.filter(F.col("outcome") == "Requeued").select(
            "url", "type", "spec_type", "provider", "namespace", "name", "revision",
            "host", "queue",
            F.lit("global").alias("scope"),  # repush lands global (S4)
            "policy",
            (F.col("attempt_count") + 1).alias("attempt_count"),
            (F.lit(epoch + 1) + (F.col("attempt_count") + 1) * F.lit(REQUEUE_DELAY_EPOCHS)).alias("not_before_epoch"),
            F.col("parent_epoch"),
            F.col("url_hash"),
            F.lit(0).alias("_grp"),
            F.col("pop_index").alias("_ord1"),
            F.lit(0).alias("_ord2"),
        )
        deadletters = outcomes.filter(F.col("outcome") == "Deadletter").select(
            "url", "type", F.lit(epoch).alias("epoch"), F.lit("Throttled").alias("reason"),
            (F.col("attempt_count") + 1).alias("attempts"),
        )

        # -- documents landing (K1-K3): fetched payloads + tool outputs
        docs = self._documents_of(processed, epoch)

        # -- expansion (P1-P24 routing via the visitor-map join); Traversed
        # rows expand WITHOUT re-landing a doc (processMode='traverse',
        # markNoSave — crawler.js:495-497)
        children = self._expand(
            outcomes.filter(F.col("outcome").isin("Processed", "Traversed")), epoch
        )

        new_entries = requeues.unionByName(children)
        seen_filters = None
        if self.use_seen_filters:
            from crawler_spark.operators.seenset import build_filters

            seen_filters = build_filters(seen, "seen_hash", self.n_filter_parts)
        new_frontier_rows, new_seen_rows, fate_rows, enq_cached = enqueue_batch(
            new_entries, seen, next_seq, ["_grp", "_ord1", "_ord2"], seen_epoch=epoch,
            seen_filters=seen_filters, n_filter_parts=self.n_filter_parts,
        )

        # -- schedule log
        log = (
            excluded.select(
                F.lit(epoch).alias("epoch"), F.lit(-1).cast("long").alias("pop_index"),
                "type", "url", "queue", "scope", F.lit("RobotsExcluded").alias("outcome"),
                F.col("attempt_count").alias("attempt"), F.lit("-").alias("origin"),
            )
            .unionByName(
                outcomes.select(
                    F.lit(epoch).alias("epoch"), "pop_index", "type", "url", "queue", "scope",
                    "outcome", F.col("attempt_count").alias("attempt"), "origin",
                )
            )
        )

        # -- metrics (per-partition lineage + counters, north rule): ONE
        # aggregation — and ONE driver action — now covers the
        # robots-excluded count, every outcome count, AND the enqueue fate
        # counters (r5; the r4 shape was two actions: fates inside
        # enqueue_batch, outcomes here — each a serial barrier that the
        # Amdahl fit charged to the fixed floor)
        fc = collect_fate_counters(
            fate_rows, extra=log.select(F.concat(F.lit("oc:"), F.col("outcome")).alias("_fate"))
        )
        counters = _enqueue_counters(fc)
        oc = {k[3:]: v for k, v in fc.items() if k.startswith("oc:")}
        n_excluded = oc.pop("RobotsExcluded", 0)
        metrics = {
            "epoch": epoch,
            "robots_excluded": n_excluded,
            "scheduled": sum(oc.values()),
            "processed": oc.get("Processed", 0),
            "traversed": oc.get("Traversed", 0),
            "excluded": oc.get("Excluded", 0),
            "skipped": oc.get("Skipped", 0),
            "requeued": oc.get("Requeued", 0),
            "deadlettered": oc.get("Deadletter", 0),
            **counters,
        }
        metrics_df = spark.createDataFrame([metrics])
        # per-partition lineage + counters (north rule): the politeness
        # partition key (host) is the stable unit of work — one row per
        # (epoch, host) with outcome counts, joinable back to the full
        # schedule_log lineage
        host_metrics = (
            outcomes.groupBy("host")
            .agg(
                F.count("*").alias("scheduled"),
                *[
                    F.sum(F.when(F.col("outcome") == oc, 1).otherwise(0)).alias(col)
                    for oc, col in [
                        ("Processed", "processed"), ("Traversed", "traversed"),
                        ("Excluded", "excluded"), ("Skipped", "skipped"),
                        ("Requeued", "requeued"), ("Deadletter", "deadlettered"),
                    ]
                ],
                F.sum(F.when(F.col("origin") == "storage", 1).otherwise(0)).alias("storage_hits"),
            )
            .select(F.lit(epoch).alias("epoch"), "*")
        )

        new_frontier = (
            ineligible.select(*FRONTIER_COLS)
            .unionByName(deferred.select(*FRONTIER_COLS))
            .unionByName(leftover.select(*FRONTIER_COLS))
            .unionByName(new_frontier_rows)
        )
        # K4/K5 delta stream (azureQueueStore.js:66-70 / webhookDeltaStore):
        # one event per upsert, with DETERMINISTIC event time — one epoch ≡
        # the reference's 5 s loop quantum (config.REQUEUE_DELAY_EPOCHS
        # note), anchored at a fixed base so replays are bit-identical.
        # Downstream consumers read this table as a Structured Stream
        # (crawler_spark/streaming/harvest_stream.py).
        harvest = docs.select(
            "doc_id",
            F.col("doc_type"),
            F.lit(epoch).alias("epoch"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(secs=F.lit(epoch * 5))).alias("event_ts"),
        )

        self._commit(
            snap, epoch, seen, new_seen_rows,
            replace={"frontier": new_frontier},
            append={
                "documents": docs,
                "schedule_log": log,
                "deadletters": deadletters,
                "epoch_metrics": metrics_df,
                "epoch_host_metrics": host_metrics,
                "harvest_events": harvest,
            },
            meta={"next_seq": next_seq + counters["enqueued"], "counters": metrics},
        )
        offered.unpersist()
        outcomes.unpersist()
        for df in enq_cached:
            df.unpersist()
        return metrics

    # ------------------------------------------------------------------
    def _commit(self, snap, epoch: int, seen: DataFrame, new_seen: DataFrame, replace: dict,
                append: dict, meta: dict) -> None:
        """Commit `seen` as an append log (flag_seen admits only absent keys,
        so `new_seen` is one more dir, like an insert-only Iceberg commit),
        folded into one dir when one more would make its read start a listing job."""
        limit = int(self.spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        if len(snap.tables["seen"]) >= limit:
            replace = {**replace, "seen": seen.unionByName(new_seen)}
        else:
            append = {**append, "seen": new_seen}
        self.store.commit(epoch=epoch, replace=replace, append=append, meta=meta)

    # ------------------------------------------------------------------
    def _cur_version_col(self) -> F.Column:
        """Current processor schema version for the request type (the
        'version' freshness comparand) — a when-chain over the tiny
        processor_versions dict, default 1."""
        cur = F.lit(1)
        for t, v in self.processor_versions.items():
            cur = F.when(F.col("type") == t, F.lit(v)).otherwise(cur)
        return cur.cast("int")

    @staticmethod
    def _should_process_storage(stored_version, stored_processed, cur_version, epoch: int):
        """shouldProcess for STORAGE-served content, per freshness kind
        (traversalPolicy.js:211-231). Origin/cache fetches always process
        (a fresh fetch result carries no prior _metadata), so only the
        storage branch needs the full matrix:
          match          → never (content didn't come from origin)
          version/matchOrVersion → stored version missing or behind
          days (N)       → stored processedAt missing or > N epochs old
          always         → always
        """
        kind = F.col("fkind")
        return (
            F.when(kind == "always", F.lit(True))
            .when(kind == "match", F.lit(False))
            .when(
                kind.isin("version", "matchOrVersion"),
                stored_version.isNull() | (stored_version < cur_version),
            )
            .when(
                kind == "days",
                stored_processed.isNull() | ((F.lit(epoch) - stored_processed) > F.col("f_n")),
            )
            .otherwise(F.lit(False))
        )

    def _fetch_and_route(self, scheduled: DataFrame, epoch: int, docs_now: DataFrame) -> DataFrame:
        """Join the scheduled batch against the registry + document dims
        and attach outcome + resolved coordinates + payload/source/doc
        stamp columns. Implements the full TraversalPolicy algebra:

        * fetch families (traversalPolicy.js:4-11): storageOnly /
          storageOriginIfMissing serve any stored doc (storage rules);
          mutables / originStorage serve a stored doc only while the 8h
          fetched-cache window holds (cdConfig.js:22, dispatcher.js:77-114)
          OR its etag still matches origin (304 revalidation,
          crawler.js:426-433) — stale + changed-etag falls through to a
          full origin fetch with fates; originOnly ignores storage but
          still hits the dispatcher's fetched-result cache (origin='cache',
          no fate checks — a cached *origin* result replays).
        * freshness gate (shouldProcess, traversalPolicy.js:211-231) forks
          Processed vs Traversed (expand only, markNoSave) vs Excluded
          (terminal, crawler.js:481-499).

        All dims (registry names, registry rows, policy dim) broadcast;
        the stored-doc joins are hash joins keyed on doc_id — uniform,
        skew-free. Fates (404/throttle) apply only to true origin fetches."""
        fetchable = scheduled.filter(F.col("type").isin(*PACKAGE_SPEC_TYPES))
        terminal = scheduled.filter(F.col("type").isin(*TERMINAL_TYPES))
        structural = scheduled.filter(
            ~F.col("type").isin(*PACKAGE_SPEC_TYPES) & ~F.col("type").isin(*TERMINAL_TYPES)
        )
        pol = F.broadcast(self.policy_dim)
        policy_root = F.split_part(F.col("policy"), F.lit(":"), F.lit(1))

        def with_policy(df: DataFrame) -> DataFrame:
            out = df.withColumn("policy_root", policy_root).join(pol, "policy_root", "left")
            return (
                out.withColumn("family", F.coalesce(F.col("family"), F.lit("mutables")))
                .withColumn("fkind", F.coalesce(F.col("fkind"), F.lit("match")))
                .drop("policy_root")
            )

        # latest store row per doc_id (documents is an append log; the
        # newest epoch's metadata wins — max_by, no window). The key is
        # (epoch, processed_at_epoch) — the same latest-row key
        # dedup_documents uses (dedup.py) — so if the log ever held two
        # rows with one epoch for a doc_id, both consumers deterministically
        # agree on "latest" (simulator semantics: dict overwrite, last
        # write wins).
        stored = (
            docs_now.select(
                "doc_id",
                F.struct("epoch", "spans", "etag", "fetched_at_epoch",
                         "processed_at_epoch", "version", "release_date").alias("_d"),
            )
            .groupBy("doc_id")
            .agg(
                F.max_by(
                    F.col("_d"),
                    F.struct(F.col("_d")["epoch"], F.col("_d")["processed_at_epoch"]),
                ).alias("_d")
            )
        )
        stored_subject = stored.select(
            F.col("doc_id").alias("url"),
            F.col("_d.spans").alias("_stored_spans"),
            F.col("_d.etag").alias("_stored_etag"),
            F.col("_d.fetched_at_epoch").alias("_stored_fetched"),
            F.col("_d.processed_at_epoch").alias("_stored_processed"),
            F.col("_d.version").alias("_stored_version"),
            F.col("_d.release_date").alias("_stored_release_date"),
        )
        cur_version = self._cur_version_col()
        ttl = F.lit(FETCH_CACHE_TTL_EPOCHS)
        traversable = F.col("type").isin(*TRAVERSABLE_TYPES)

        # ---- fetchable (concrete package types) --------------------------
        names = F.broadcast(
            self.registry_names.withColumn("_ns", F.coalesce(F.col("namespace"), F.lit("-"))).drop("namespace")
        )
        j = with_policy(fetchable).withColumn("_ns", F.coalesce(F.col("namespace"), F.lit("-"))).join(
            names, ["provider", "_ns", "name"], "left"
        )
        j = j.withColumn("resolved_revision", F.coalesce(F.col("revision"), F.col("latest_version")))
        full = F.broadcast(
            self.registry.select(
                "provider",
                F.coalesce(F.col("namespace"), F.lit("-")).alias("_ns"),
                "name",
                F.col("version").alias("resolved_revision"),
                F.col("etag").alias("_reg_etag"),
                F.col("release_date_raw").alias("_reg_rd_raw"),
                "payload_spans", "source_type", "source_provider",
                "source_namespace", "source_name", "source_revision",
            )
        )
        j = j.join(full, ["provider", "_ns", "name", "resolved_revision"], "left")
        j = j.join(stored_subject, "url", "left")

        storage_allowed = F.col("family") != "originOnly"
        storage_rules = F.col("family").isin("storageOnly", "storageOriginIfMissing")
        storage_only = F.col("family") == "storageOnly"
        has_stored = F.col("revision").isNotNull() & F.col("_stored_spans").isNotNull()
        cache_fresh = F.coalesce(F.col("_stored_fetched") + ttl > F.lit(epoch), F.lit(False))
        etag_ok = F.col("_reg_etag").isNull() | F.col("_stored_etag").eqNullSafe(F.col("_reg_etag"))
        storage_hit = has_stored & storage_allowed & (storage_rules | cache_fresh | etag_ok)
        cache_hit = ~storage_hit & has_stored & (F.col("family") == "originOnly") & cache_fresh
        served = storage_hit | cache_hit
        throttled = F.col("attempt_count") < F.col("fail_attempts")
        sp_storage = self._should_process_storage(
            F.col("_stored_version"), F.col("_stored_processed"), cur_version, epoch
        )
        gated = (
            F.when(sp_storage, "Processed")
            .when(traversable, "Traversed")
            .otherwise("Excluded")
        )
        outcome = (
            F.when(storage_hit, gated)
            .when(cache_hit, "Processed")  # cached origin result → fresh-content semantics
            .when(storage_only, "Skipped")  # storageOnly miss → markSkip
            .when(F.col("status").isNull(), "Skipped")  # markSkip 'Missing'
            .when(F.col("status") == 404, "Skipped")
            .when(
                throttled,
                F.when(F.col("attempt_count") + 1 > MAX_REQUEUE_ATTEMPTS, "Deadletter").otherwise("Requeued"),
            )
            .when(F.col("payload_spans").isNull(), "Skipped")  # revision not in registry
            .otherwise("Processed")  # origin fetch: no prior metadata → every freshness kind processes
        )
        # URL rewrite after revision resolution (abstractFetch semantics):
        # the log keeps the as-scheduled url; documents/expansion use the
        # resolved coordinate (resolved_* columns).
        resolved_url = to_url(
            F.col("spec_type"), F.col("provider"), F.col("namespace"),
            F.col("name"), F.col("resolved_revision"),
        )
        landed = outcome.isin("Processed", "Traversed")
        fetched = j.select(
            *scheduled.columns,
            outcome.alias("outcome"),
            F.when(storage_hit, "storage").when(cache_hit, "cache").otherwise("origin").alias("origin"),
            F.when(landed, F.col("resolved_revision")).otherwise(F.col("revision")).alias("resolved_rev"),
            F.when(landed, resolved_url).otherwise(F.col("url")).alias("resolved_url"),
            F.when(served, F.col("_stored_spans")).otherwise(F.col("payload_spans")).alias("payload_spans"),
            "source_type", "source_provider", "source_namespace",
            "source_name", "source_revision",
            F.when(served, F.col("_stored_etag")).otherwise(F.col("_reg_etag")).alias("doc_etag"),
            F.when(served, F.col("_stored_fetched")).otherwise(F.lit(epoch)).cast("int").alias("doc_fetched_at"),
            # releaseDate rides the fetch result (scancode.js:37-42 carries
            # document.releaseDate into _metadata): a served stored doc
            # keeps its stamp; an origin fetch parses the registry's raw
            # date string through the utils.js extractDate chain
            F.when(served, F.col("_stored_release_date"))
            .otherwise(extract_date(F.col("_reg_rd_raw"), CRAWL_NOW)).alias("doc_release_date"),
            cur_version.alias("cur_version"),
        )

        # ---- terminals (tool tasks) --------------------------------------
        # subject fetch goes through the dispatcher: a stored TOOL doc
        # (keyed by the tool URN) is the storage-first hit; otherwise the
        # subject content comes from the 8h fetched-cache when the package
        # fetch is recent (same cacheKey — the subject's url path), else a
        # true origin roundtrip. Tool tasks carry no fetch fates (their
        # subject already landed).
        turn = to_urn(
            F.col("spec_type"), F.col("provider"), F.col("namespace"), F.col("name"),
            F.col("revision"), F.col("type"),
        )
        stored_tool = stored.select(
            F.col("doc_id").alias("_turn"),
            F.col("_d.processed_at_epoch").alias("_tool_processed"),
            F.col("_d.version").alias("_tool_version"),
            F.lit(True).alias("_has_tool"),
        )
        tj = (
            with_policy(terminal)
            .withColumn("_turn", turn)
            .join(stored_tool, "_turn", "left")
            .join(
                stored_subject.select("url", F.col("_stored_fetched").alias("_subj_fetched")),
                "url", "left",
            )
        )
        t_storage_hit = F.coalesce(F.col("_has_tool"), F.lit(False)) & storage_allowed
        t_subj_fresh = F.coalesce(F.col("_subj_fetched") + ttl > F.lit(epoch), F.lit(False))
        t_sp = self._should_process_storage(
            F.col("_tool_version"), F.col("_tool_processed"), cur_version, epoch
        )
        t_outcome = F.when(
            t_storage_hit, F.when(t_sp, "Processed").otherwise("Excluded")  # terminals never traverse
        ).otherwise("Processed")
        null_spans = F.lit(None).cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        )
        nulls = [
            null_spans.alias("payload_spans"),
            F.lit(None).cast("string").alias("source_type"),
            F.lit(None).cast("string").alias("source_provider"),
            F.lit(None).cast("string").alias("source_namespace"),
            F.lit(None).cast("string").alias("source_name"),
            F.lit(None).cast("string").alias("source_revision"),
        ]
        terminated = tj.select(
            *scheduled.columns,
            t_outcome.alias("outcome"),
            F.when(t_storage_hit, "storage").when(t_subj_fresh, "cache").otherwise("origin").alias("origin"),
            F.col("revision").alias("resolved_rev"),
            F.col("url").alias("resolved_url"),
            *nulls,
            F.lit(None).cast("string").alias("doc_etag"),
            F.lit(epoch).cast("int").alias("doc_fetched_at"),
            F.lit(None).cast("timestamp").alias("doc_release_date"),
            cur_version.alias("cur_version"),
        )

        # ---- structural (component/package/source): no stored doc of
        # their own → every freshness gate passes, no fates
        structured = structural.select(
            *scheduled.columns,
            F.lit("Processed").alias("outcome"),
            F.lit("origin").alias("origin"),
            F.col("revision").alias("resolved_rev"),
            F.col("url").alias("resolved_url"),
            *nulls,
            F.lit(None).cast("string").alias("doc_etag"),
            F.lit(epoch).cast("int").alias("doc_fetched_at"),
            F.lit(None).cast("timestamp").alias("doc_release_date"),
            cur_version.alias("cur_version"),
        )
        return fetched.unionByName(terminated).unionByName(structured).select(
            *scheduled.columns, "outcome", "origin", "resolved_rev", "resolved_url",
            "payload_spans", "source_type",
            "source_provider", "source_namespace", "source_name", "source_revision",
            "doc_etag", "doc_fetched_at", "doc_release_date", "cur_version",
        )

    # ------------------------------------------------------------------
    def _documents_of(self, processed: DataFrame, epoch: int) -> DataFrame:
        """Fetched payload spans + tool-output docs (K1/K3 sinks), stamped
        with the reference's _metadata (crawler.js:423-443, 650): etag +
        fetchedAt carried over for storage/cache-served reprocessing,
        processedAt = now, version = the current processor version."""
        fetched_docs = processed.filter(F.col("payload_spans").isNotNull()).select(
            F.col("pop_index").alias("_pop"),
            F.col("resolved_url").alias("doc_id"),
            F.col("payload_spans").alias("spans"),
            F.col("type").alias("doc_type"),
            F.lit(epoch).alias("epoch"),
            F.col("doc_etag").alias("etag"),
            F.col("doc_fetched_at").alias("fetched_at_epoch"),
            F.lit(epoch).cast("int").alias("processed_at_epoch"),
            F.col("cur_version").alias("version"),
            F.col("doc_release_date").alias("release_date"),
        )
        tool = processed.filter(F.col("type").isin(*TERMINAL_TYPES))
        tool_docs = tool.select(
            F.col("pop_index").alias("_pop"),
            to_urn(
                F.col("spec_type"), F.col("provider"), F.col("namespace"), F.col("name"),
                F.col("revision"), F.col("type"),
            ).alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.concat(F.col("type"), F.lit(" output for "), F.col("url")).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("spans"),
            F.col("type").alias("doc_type"),
            F.lit(epoch).alias("epoch"),
            F.lit(None).cast("string").alias("etag"),
            F.lit(epoch).cast("int").alias("fetched_at_epoch"),
            F.lit(epoch).cast("int").alias("processed_at_epoch"),
            F.col("cur_version").alias("version"),
            # tool docs carry no release date in this model (the payload
            # is a simulated tool landing; the subject's date lives on the
            # package doc)
            F.lit(None).cast("timestamp").alias("release_date"),
        )
        docs = fetched_docs.unionByName(tool_docs)
        # One epoch can schedule two DIFFERENT urls that resolve to the
        # same document (a pinned and an unpinned request for the same
        # package both resolving to latest): the simulator's dict write
        # (simulator.py:396) makes the LAST pop win, and the chunked
        # store requires (doc_id, epoch) unique per committed batch.
        # Mirror it exactly: keep the max-pop_index row per doc_id.
        # pop_index is unique within the epoch, so this is deterministic;
        # duplicates are a same-document rarity, so the per-doc window
        # stays bounded at any batch size.
        w = Window.partitionBy("doc_id").orderBy(F.col("_pop").desc())
        return (
            docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_pop")
        )

    # ------------------------------------------------------------------
    def _expand(self, processed: DataFrame, epoch: int) -> DataFrame:
        """Visitor-map broadcast join → child frontier entries."""
        vm = F.broadcast(self.visitor_map)
        j = processed.join(vm, processed["type"] == vm["parent_type"])
        cond = (
            (F.col("condition") == "always")
            | ((F.col("condition") == "spec_source") & F.col("spec_type").isin(*SOURCE_SPEC_TYPES))
            | ((F.col("condition") == "spec_package") & F.col("spec_type").isin(*PACKAGE_SPEC_TYPES))
            | ((F.col("condition") == "has_source") & F.col("source_type").isNotNull())
        )
        j = j.filter(cond)
        is_src_edge = F.col("condition") == "has_source"
        c_spec_type = F.when(is_src_edge, F.col("source_type")).otherwise(F.col("spec_type"))
        c_provider = F.when(is_src_edge, F.col("source_provider")).otherwise(F.col("provider"))
        c_namespace = F.when(is_src_edge, F.col("source_namespace")).otherwise(F.col("namespace"))
        c_name = F.when(is_src_edge, F.col("source_name")).otherwise(F.col("name"))
        c_revision = F.when(is_src_edge, F.col("source_revision")).otherwise(F.col("resolved_rev"))
        c_url = to_url(type_=c_spec_type, provider=c_provider, namespace=c_namespace, name=c_name, revision=c_revision)
        c_type = F.when(F.col("child_type") == "$spec", F.col("spec_type")).otherwise(F.col("child_type"))
        return j.select(
            c_url.alias("url"),
            c_type.alias("type"),
            c_spec_type.alias("spec_type"),
            c_provider.alias("provider"),
            c_namespace.alias("namespace"),
            c_name.alias("name"),
            c_revision.alias("revision"),
            host_for_provider(c_provider).alias("host"),
            F.col("queue"),
            F.col("child_scope").alias("scope"),
            F.concat(F.split_part(F.col("policy"), F.lit(":"), F.lit(1)), F.lit(":"), F.col("child_name")).alias("policy"),
            F.lit(0).alias("attempt_count"),
            F.lit(0).alias("not_before_epoch"),
            F.lit(epoch).alias("parent_epoch"),
            F.xxhash64(F.concat(c_type, F.lit("@"), c_url)).alias("url_hash"),
            F.lit(1).alias("_grp"),
            F.col("pop_index").alias("_ord1"),
            F.col("edge_idx").alias("_ord2"),
        )

    # ------------------------------------------------------------------
    def run(self, seeds: DataFrame, max_epochs: int = 50) -> list[dict]:
        """Drain the frontier (or hit max_epochs); returns per-epoch metrics."""
        self.bootstrap(seeds)
        all_metrics = []
        for epoch in range(max_epochs):
            frontier = self.store.read("frontier")
            if frontier is None or frontier.isEmpty():
                break
            all_metrics.append(self.run_epoch(epoch))
        return all_metrics

    # ------------------------------------------------------------------
    def dedup_documents(self, threshold: float = 0.5, n: int = 3) -> DataFrame:
        """Training-data layer composed with the crawl loop: near-dup
        clustering + keep-best representative over THIS crawl's harvested
        document spans (the K1 store table) — not a side corpus. Exact
        mirror: `simulator.dedup_documents_py` (parity-tested in
        tests/test_engine_parity.py::test_dedup_documents_parity)."""
        from crawler_spark.operators.dedup import dedup_documents

        docs = self.store.read("documents")
        return dedup_documents(docs, threshold=threshold, n=n)
