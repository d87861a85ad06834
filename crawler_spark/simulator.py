"""Pure-Python reference simulator — the golden oracle for crawl semantics.

Implements, request-at-a-time, the reference's scheduling/fetch/process
loop (SURVEY.md §2/§3) over the same fixture inputs the Spark engine
consumes:

- weighted queue rotation + local-first pop (queueSet.js:60-98,
  scopedQueueSets.js:51-60) via the shared `poporder` kernel,
- per-host politeness budget + robots gate (north rule; batch analogue of
  crawler.js:92-105),
- retry/backoff/deadletter (crawler.js:330-342, cdConfig.js:21),
- attenuated duplicate pushes (attenuatedQueue.js:36-69),
- URL-seen filtering keyed `type@url` (request.js:117-121, 382-384),
- latest-version resolution excluding prereleases (baseHandler.js:83-101),
- visitor-map traversal expansion with parent-before-child epoch ordering
  (request.js:247-251; children durably enqueued before parent ack,
  crawler.js:272-298 → children eligible from parent_epoch+1),
- document landing as interleaved span arrays.

The Spark engine (operators/epoch.py) must reproduce this simulator's
schedule log, seen set, and document spans EXACTLY — that is the
crawl-order / URL-seen-set / span-sequence parity the north rule demands.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from crawler_spark.config import (
    CRAWL_NOW,
    DEFAULT_BATCH_BUDGET,
    DEFAULT_HOST_BUDGET,
    DEFAULT_PROCESSOR_VERSIONS,
    FETCH_CACHE_TTL_EPOCHS,
    MAX_REQUEUE_ATTEMPTS,
    NAMED_POLICIES,
    PROVIDER_HOSTS,
    QUEUE_NAMES,
    REQUEUE_DELAY_EPOCHS,
    UNKNOWN_HOST,
)
from crawler_spark.data.visitor_map import (
    PACKAGE_SPEC_TYPES,
    SOURCE_SPEC_TYPES,
    TERMINAL_TYPES,
    TRAVERSABLE_TYPES,
    visitor_edges_py,
)
from crawler_spark.functions.dates import extract_date_py
from crawler_spark.poporder import epoch_rng, pop_schedule

import datetime as _dt

_CRAWL_NOW_DT = _dt.datetime.fromisoformat(CRAWL_NOW)

_COORD_RE = re.compile(r".*:/*([^/]+)/([^/]+)/([^/]+)/([^/]+)/?([^/]+)?(/tool/.+)?")
_SEMVER_RE = re.compile(r"^v?(\d+)(?:\.(\d+))?(?:\.(\d+))?(?:-([0-9A-Za-z.\-]+))?(?:\+.*)?$")


def canonicalize_py(url: str) -> dict | None:
    """entitySpec.js:10-53 canonicalization (python twin of
    functions/coordinates.py; parity-tested)."""
    m = _COORD_RE.match(url or "")
    if not m:
        return None
    type_, provider, namespace, name, revision, tool_spec = m.groups()
    tool = tool_version = None
    if tool_spec:
        parts = tool_spec.split("/")
        tool = parts[2].lower() if len(parts) > 2 else None
        tool_version = parts[3].lower() if len(parts) > 3 else None
    out = {
        "type": type_.lower(),
        "provider": provider.lower(),
        "namespace": None if namespace == "-" else namespace,
        "name": name,
        "revision": revision,
        "tool": tool,
        "tool_version": tool_version,
    }
    out["canonical_url"] = coord_url(out)
    return out


def coord_url(c: dict) -> str:
    """entitySpec.js:64-75."""
    s = f"cd:/{c['type']}/{c['provider']}/{c['namespace'] or '-'}/{c['name']}"
    if c.get("revision"):
        s += f"/{c['revision']}"
    if c.get("tool"):
        s += f"/tool/{c['tool']}"
    if c.get("tool_version"):
        s += f"/{c['tool_version']}"
    return s


def coord_urn(c: dict, tool: str | None = None) -> str:
    """entitySpec.js:55-62."""
    s = f"urn:{c['type']}:{c['provider']}:{c['namespace'] or '-'}:{c['name']}"
    if c.get("revision"):
        s += f":revision:{c['revision']}"
    t = tool or c.get("tool")
    if t:
        s += f":tool:{t}"
    if c.get("tool_version"):
        s += f":{c['tool_version']}"
    return s


def semver_key_py(version: str) -> int:
    """Twin of functions/versions.py::semver_key (parity-tested)."""
    m = _SEMVER_RE.match(version or "")
    if not m:
        return 0
    cap = (1 << 20) - 1
    maj = min(int(m.group(1)), cap)
    mino = min(int(m.group(2) or 0), cap)
    pat = min(int(m.group(3) or 0), cap)
    return (maj << 40) | (mino << 20) | pat


def is_prerelease_py(version: str) -> bool:
    m = _SEMVER_RE.match(version or "")
    return bool(m and m.group(4))


def _semver_cmp_key_py(version: str) -> int:
    """Twin of versions.semver_cmp_key: release bit below the triple."""
    return (semver_key_py(version) << 1) | (0 if is_prerelease_py(version) else 1)


def latest_version_py(versions: list[str]) -> str | None:
    """baseHandler.js:83-101, exactly: the filtered reduce SEEDED with the
    unfiltered list head `versions[0]` — the seed participates, so a
    prerelease head that semver-outranks every stable version wins, and
    an all-prerelease list returns its head (twin of
    versions.latest_version_agg; `versions` must arrive in registry list
    order, i.e. release_seq-sorted)."""
    if not versions:
        return None
    best = versions[0]
    for cur in versions:
        if not is_prerelease_py(cur) and _semver_cmp_key_py(cur) > _semver_cmp_key_py(best):
            best = cur
    return best


def tool_output_span(tool_type: str, subject_url: str) -> list[dict]:
    """Deterministic stand-in for a tool run's stored output (scancode/
    licensee/reuse/clearlydefined CLI execution is out of sandbox scope;
    /root/reference/providers/process/scancode.js:29-66)."""
    return [
        {"kind": "text", "text": f"{tool_type} output for {subject_url}", "media_ref": None, "offset": 0}
    ]


FETCHABLE_TYPES = set(PACKAGE_SPEC_TYPES)  # concrete package types consult the registry


@dataclass
class SimResult:
    schedule_log: list[dict] = field(default_factory=list)  # epoch,pop_index,type,url,queue,scope,outcome,attempt
    seen: dict[str, int] = field(default_factory=dict)  # 'type@url' -> first_seen_epoch
    # doc_id -> {spans, etag, fetched_at, processed_at, version}
    # (the reference's document._metadata: crawler.js:423-443, 650)
    documents: dict[str, dict] = field(default_factory=dict)
    deadletters: list[dict] = field(default_factory=list)
    metrics: list[dict] = field(default_factory=list)
    epochs_run: int = 0


class CrawlSimulator:
    def __init__(
        self,
        registry_rows: list[dict],
        robots_rows: list[dict] | None = None,
        host_budget: int = DEFAULT_HOST_BUDGET,
        batch_budget: int = DEFAULT_BATCH_BUDGET,
        rng_seed: int | None = None,
        policies: dict[str, tuple[str, str | int]] | None = None,
        processor_versions: dict[str, int] | None = None,
        tags_rows: list[dict] | None = None,
    ):
        self.tags_rows = tags_rows
        self.set_registry(registry_rows)
        self.robots = [(r["host"], r["disallow_prefix"]) for r in (robots_rows or [])]
        self.host_budget = host_budget
        self.batch_budget = batch_budget
        self.rng_seed = rng_seed
        # named traversal policies (traversalPolicy.js:124-171) + custom
        # registrations (e.g. {'refresh3': ('originStorage', 3)} for the
        # N-epoch freshness axis)
        self.policies = {**NAMED_POLICIES, **(policies or {})}
        self.processor_versions = {**DEFAULT_PROCESSOR_VERSIONS, **(processor_versions or {})}
        self.edges_by_parent: dict[str, list[dict]] = {}
        for e in visitor_edges_py():
            self.edges_by_parent.setdefault(e["parent_type"], []).append(e)
        self.frontier: list[dict] = []
        self.next_seq = 0
        self.res = SimResult()

    def set_registry(self, registry_rows: list[dict]) -> None:
        """(Re)load the registry dim — fixtures swap it mid-crawl to
        simulate upstream mutation (new etags/payloads). Source discovery
        (P22) resolves candidate_urls against the tags dim here, the twin
        of the engine's registry preprocessing."""
        from crawler_spark.operators.discovery import resolve_registry_sources_py

        registry_rows = resolve_registry_sources_py(registry_rows, getattr(self, "tags_rows", None))
        self.registry = {}
        for r in registry_rows:
            self.registry.setdefault((r["provider"], r["namespace"], r["name"]), []).append(r)

    # -- enqueue ---------------------------------------------------------------
    def _host_of(self, provider: str) -> str:
        return PROVIDER_HOSTS.get(provider, UNKNOWN_HOST)

    def enqueue_batch(self, entries: list[dict], epoch: int) -> dict:
        """Attenuation + seen-filter + frontier insert; returns counters.

        Attenuation key includes attempt count (attenuatedQueue.js:66-69);
        the URL-seen set is keyed 'type@url' (request.js:382-384). The seen
        set admits a *traversal-discovered* coordinate once, globally — the
        batch-engine semantic for the reference's per-traversal history +
        attenuated cross-pushes (SURVEY.md S2/S3). Bypass rules:
        - explicit re-crawl policies (reprocess*/always/reharvest*) revisit
          despite history (traversalPolicy.js:124-171);
        - externally submitted seeds ('_seed' flag) always enqueue — the
          reference's POST /requests pushes unconditionally (routes/
          requests.js:24-41; its seen set is per-traversal, not global),
          which is what lets a re-seeded default/reload request reach the
          freshness gates at all."""
        counters = {"attenuated": 0, "seen_filtered": 0, "enqueued": 0}
        batch_keys: set[tuple] = set()
        for e in entries:
            # attenuation key includes the policy short form, matching the
            # reference cache key t:{attempt}:{type}@{url}:{policy}
            # (attenuatedQueue.js:66-69)
            policy_root = (e.get("policy") or "default").split(":")[0]
            akey = (e.get("attempt_count", 0), e["type"], e["url"], policy_root)
            if akey in batch_keys:
                counters["attenuated"] += 1
                continue
            batch_keys.add(akey)
            skey = f"{e['type']}@{e['url']}"
            if e.get("attempt_count", 0) == 0:
                if skey in self.res.seen:
                    if not (
                        policy_root.startswith(("reprocess", "always", "reharvest"))
                        or e.get("_seed")
                    ):
                        counters["seen_filtered"] += 1
                        continue
                else:
                    self.res.seen[skey] = epoch
            e = dict(e)
            e["enqueued_seq"] = self.next_seq
            self.next_seq += 1
            self.frontier.append(e)
            counters["enqueued"] += 1
        return counters

    def seed(self, seeds: list[dict], epoch: int = 0) -> dict:
        """POST /requests: enqueue external submissions (can be called
        mid-crawl — `epoch` stamps the seen-set entries)."""
        entries = []
        for s in seeds:
            c = canonicalize_py(s["url"])
            if c is None or not c.get("canonical_url"):
                # mirror of seeds_to_frontier's raise_error
                raise ValueError(f"unparseable seed url: {s.get('url')!r}")
            queue = s.get("queue") or "normal"
            if queue not in QUEUE_NAMES:
                # mirror of seeds_to_frontier's raise_error: an unknown
                # queue never joins pop_schedule's (scope, queue) space
                # and would strand in the frontier forever
                raise ValueError(f"unknown queue: {queue}")
            entries.append(
                {
                    "type": s["type"],
                    "url": c["canonical_url"],
                    "coord": c,
                    "queue": queue,
                    "scope": "global",
                    "policy": s.get("policy") or "default",
                    "attempt_count": 0,
                    "not_before_epoch": int(s.get("not_before") or 0),
                    "parent_epoch": -1,
                    "host": self._host_of(c["provider"]),
                    "_seed": True,
                }
            )
        return self.enqueue_batch(entries, epoch=epoch)

    # -- one epoch ---------------------------------------------------------------
    def run_epoch(self, epoch: int) -> dict:
        log = self.res.schedule_log
        m = {"epoch": epoch, "robots_excluded": 0, "scheduled": 0, "processed": 0, "traversed": 0,
             "excluded": 0, "skipped": 0, "requeued": 0, "deadlettered": 0, "attenuated": 0,
             "seen_filtered": 0, "enqueued": 0}

        # 1. eligibility: politeness/backoff gate + parent-before-child
        eligible, rest = [], []
        for e in self.frontier:
            (eligible if e["not_before_epoch"] <= epoch and e["parent_epoch"] < epoch else rest).append(e)

        # 2. robots gate (north rule): disallowed coordinate prefixes never scheduled
        allowed = []
        for e in eligible:
            if any(e["host"] == h and e["coord"]["name"].startswith(p) for h, p in self.robots):
                m["robots_excluded"] += 1
                log.append(dict(epoch=epoch, pop_index=-1, type=e["type"], url=e["url"],
                                queue=e["queue"], scope=e["scope"], outcome="RobotsExcluded",
                                attempt=e["attempt_count"], origin="-"))
            else:
                allowed.append(e)

        # 3. per-host politeness budget: first `budget` per host by (scope, seq)
        by_host: dict[str, list[dict]] = {}
        for e in allowed:
            by_host.setdefault(e["host"], []).append(e)
        offered, deferred = [], []
        for h, rows in by_host.items():
            rows.sort(key=lambda e: (0 if e["scope"] == "local" else 1, e["enqueued_seq"]))
            offered.extend(rows[: self.host_budget])
            deferred.extend(rows[self.host_budget:])

        # 4. weighted-rotation pop order over the offered set
        fifo: dict[tuple, list[dict]] = {}
        for e in offered:
            fifo.setdefault((e["scope"], e["queue"]), []).append(e)
        for rows in fifo.values():
            rows.sort(key=lambda e: e["enqueued_seq"])
        counts = {k: len(v) for k, v in fifo.items()}
        # epoch-start document snapshot incl. metadata (the engine's
        # docs_now read — one epoch ≡ one consistent store view)
        self._docs_at_epoch_start = {k: dict(v) for k, v in self.res.documents.items()}
        rng = epoch_rng(epoch) if self.rng_seed is None else epoch_rng(epoch, self.rng_seed)
        order = pop_schedule(counts, self.batch_budget, rng)
        popped_keys = set()
        children: list[dict] = []
        requeues: list[dict] = []
        for pop_index, (scope, queue, rank) in enumerate(order):
            e = fifo[(scope, queue)][rank]
            popped_keys.add(id(e))
            m["scheduled"] += 1
            outcome, origin = self._process_one(e, epoch, pop_index, children, requeues)
            log.append(dict(epoch=epoch, pop_index=pop_index, type=e["type"], url=e["url"],
                            queue=e["queue"], scope=e["scope"], outcome=outcome,
                            attempt=e["attempt_count"], origin=origin))
            key = {"Processed": "processed", "Traversed": "traversed", "Excluded": "excluded",
                   "Skipped": "skipped", "Requeued": "requeued", "Deadletter": "deadlettered"}[outcome]
            m[key] += 1

        # 5. frontier update: unscheduled survivors + requeues + accepted children
        leftovers = [e for e in offered if id(e) not in popped_keys]
        self.frontier = rest + deferred + leftovers
        c1 = self.enqueue_batch(requeues, epoch)
        c2 = self.enqueue_batch(children, epoch)
        for k in ("attenuated", "seen_filtered", "enqueued"):
            m[k] = c1[k] + c2[k]
        self.res.metrics.append(m)
        return m

    # -- request processing -------------------------------------------------------
    def _policy_of(self, e: dict) -> tuple[str, str | int]:
        """Policy spec root → (fetch family, freshness)
        (traversalPolicy.js getPolicy + the named constructors 124-171)."""
        root = (e.get("policy") or "default").split(":")[0]
        return self.policies.get(root, NAMED_POLICIES["default"])

    def _should_process(self, freshness: str | int, origin: str, stored: dict | None,
                        cur_version: int, epoch: int) -> bool:
        """TraversalPolicy.shouldProcess (traversalPolicy.js:211-231).

        `stored` is the doc's prior metadata when it was served from
        storage, None for origin/cache fetches (a fresh fetch result
        carries no _metadata.version/processedAt — crawler.js:426-443)."""
        if freshness == "always":
            return True
        if freshness == "match":
            # process iff the content came from origin (the dispatcher's
            # 8h fetched-cache re-serves an *origin* result — dispatcher.js
            # :77-114 — so 'cache' counts as origin here)
            return origin != "storage"
        if isinstance(freshness, int):
            # N freshness: stored processedAt expired (in epochs;
            # _hasExpired, traversalPolicy.js:95-105)
            if origin != "storage" or stored is None or stored.get("processed_at") is None:
                return True
            return (epoch - stored["processed_at"]) > freshness
        if freshness in ("version", "matchOrVersion"):
            # !document.version || version < current — an origin fetch has
            # no stored version, so 'match' is subsumed (traversalPolicy.js
            # :226-228)
            if origin != "storage" or stored is None or stored.get("version") is None:
                return True
            return stored["version"] < cur_version
        raise ValueError(f"Invalid freshness {freshness!r}")

    def _finish(self, e, c, reg_row, epoch, children, origin, freshness, stored,
                doc_write: tuple[str, dict] | None) -> tuple[str, str]:
        """Apply the shouldProcess / shouldTraverse fork
        (crawler.js:481-499): process → store doc + expand; no-process →
        traverse (expand only) when the type has next steps, else
        markSkip('Excluded')."""
        rtype = e["type"]
        cur_version = self.processor_versions.get(rtype, 1)
        if self._should_process(freshness, origin, stored, cur_version, epoch):
            if doc_write is not None:
                doc_id, doc = doc_write
                self.res.documents[doc_id] = doc
            self._expand_children(e, c, reg_row, epoch, children)
            return "Processed", origin
        if rtype in TRAVERSABLE_TYPES:
            self._expand_children(e, c, reg_row, epoch, children)
            return "Traversed", origin
        return "Excluded", origin

    def _process_one(self, e: dict, epoch: int, pop_index: int,
                     children: list[dict], requeues: list[dict]) -> tuple[str, str]:
        c = e["coord"]
        rtype = e["type"]
        family, freshness = self._policy_of(e)
        cur_version = self.processor_versions.get(rtype, 1)
        storage_allowed = family != "originOnly"
        storage_rules = family in ("storageOnly", "storageOriginIfMissing")
        storage_only = family == "storageOnly"
        ttl = FETCH_CACHE_TTL_EPOCHS

        if rtype in FETCHABLE_TYPES:
            rows = self.registry.get((c["provider"], c["namespace"], c["name"]))
            reg_exact = next((r for r in (rows or []) if r["version"] == c["revision"]), None) \
                if c["revision"] else None
            reg_etag = reg_exact.get("etag") if reg_exact else None
            stored = self._docs_at_epoch_start.get(c["canonical_url"]) if c["revision"] else None

            if stored is not None and storage_allowed:
                # storage-first (dispatcher.js:29-43) refined by the F1
                # remainder: under origin-consulting families (mutables/
                # originStorage) a stored doc is served only while the 8h
                # fetched-cache window holds (cdConfig.js:22) OR its etag
                # still matches origin (304 revalidation, crawler.js:
                # 426-433); a stale doc with a changed origin etag falls
                # through to a full origin fetch. storage-rules families
                # serve the stored doc unconditionally.
                cache_fresh = stored["fetched_at"] + ttl > epoch
                etag_ok = reg_etag is None or stored.get("etag") == reg_etag
                if storage_rules or cache_fresh or etag_ok:
                    return self._finish(e, c, reg_exact, epoch, children, "storage",
                                        freshness, stored,
                                        (c["canonical_url"], {
                                            "spans": stored["spans"], "etag": stored.get("etag"),
                                            "fetched_at": stored["fetched_at"],
                                            "processed_at": epoch, "version": cur_version,
                                            "release_date": stored.get("release_date"),
                                        }))
            if stored is not None and family == "originOnly" and stored["fetched_at"] + ttl > epoch:
                # dispatcher fetched-cache hit (dispatcher.js:77-88): the
                # cached *origin* result replays — no fate checks, content
                # from the cached copy, freshness sees an origin fetch
                return self._finish(e, c, reg_exact, epoch, children, "cache",
                                    freshness, None,
                                    (c["canonical_url"], {
                                        "spans": stored["spans"], "etag": stored.get("etag"),
                                        "fetched_at": stored["fetched_at"],
                                        "processed_at": epoch, "version": cur_version,
                                        "release_date": stored.get("release_date"),
                                    }))
            if storage_only:
                return "Skipped", "origin"  # storageOnly miss → markSkip (dispatcher shouldFetchMissing=null)
            if not rows:
                return "Skipped", "origin"  # markSkip 'Missing' (baseHandler.js:103-105)
            if rows[0]["status"] == 404:
                return "Skipped", "origin"
            if e["attempt_count"] < rows[0]["fail_attempts"]:
                # 429 throttle → requeue w/ backoff or deadletter (goFetch.js:68-75,
                # crawler.js:330-342)
                new_attempt = e["attempt_count"] + 1
                if new_attempt > MAX_REQUEUE_ATTEMPTS:
                    self.res.deadletters.append(dict(url=e["url"], type=rtype, epoch=epoch,
                                                     reason="Throttled", attempts=new_attempt))
                    return "Deadletter", "origin"
                r = dict(e)
                r["attempt_count"] = new_attempt
                r["scope"] = "global"  # repush lands global (scopedQueueSets.js:62-76)
                r["not_before_epoch"] = epoch + 1 + new_attempt * REQUEUE_DELAY_EPOCHS
                r["parent_epoch"] = e["parent_epoch"]
                requeues.append(r)
                return "Requeued", "origin"
            # resolve revision: absent → latest non-prerelease (baseHandler.js:83-96)
            if not c["revision"]:
                # registry list order = release_seq (the engine's order col)
                latest = latest_version_py(
                    [r["version"] for r in sorted(rows, key=lambda r: r["release_seq"])]
                )
                c = dict(c, revision=latest)
                c["canonical_url"] = coord_url(c)
            reg_row = next((r for r in rows if r["version"] == c["revision"]), None)
            if reg_row is None:
                return "Skipped", "origin"
            return self._finish(e, c, reg_row, epoch, children, "origin", freshness, None,
                                (c["canonical_url"], {
                                    "spans": reg_row["payload_spans"], "etag": reg_row.get("etag"),
                                    "fetched_at": epoch, "processed_at": epoch,
                                    "version": cur_version,
                                    # origin fetch parses the registry's raw
                                    # date through the extractDate chain
                                    # (lib/utils.js:70-97)
                                    "release_date": extract_date_py(
                                        reg_row.get("release_date_raw"), _CRAWL_NOW_DT),
                                }))

        if rtype in TERMINAL_TYPES:
            # tool task: fetch the subject content (storage-first; within
            # the 8h window the dispatcher's fetched-cache serves the
            # just-fetched package, keyed on the subject's url path —
            # dispatcher.js:77-80), run the tool, store under the tool URN
            # (abstractProcessor.js:224-227). Tool-doc revisits follow the
            # same family/freshness algebra keyed on the stored tool doc.
            urn = coord_urn(c, tool=rtype)
            stored_tool = self._docs_at_epoch_start.get(urn)
            if stored_tool is not None and storage_allowed:
                origin, stored = "storage", stored_tool
            else:
                subject = self._docs_at_epoch_start.get(c["canonical_url"])
                fresh_subject = subject is not None and subject["fetched_at"] + ttl > epoch
                origin, stored = ("cache" if fresh_subject else "origin"), None
            return self._finish(e, c, None, epoch, children, origin, freshness, stored,
                                (urn, {
                                    "spans": tool_output_span(rtype, e["url"]), "etag": None,
                                    "fetched_at": epoch, "processed_at": epoch,
                                    "version": cur_version,
                                    "release_date": None,
                                }))

        # structural types (component/package/source): no stored doc of
        # their own in this model — every freshness gate passes (a fresh
        # traversal doc has no prior metadata), no doc write
        return self._finish(e, c, None, epoch, children, "origin", freshness, None, None)

    def _expand_children(self, e: dict, c: dict, reg_row, epoch: int, children: list[dict]):
        """Visitor-map expansion (component/package/source routing + tool
        fan-out) — shared by origin-fetched and storage-served requests."""
        rtype = e["type"]
        for edge in self.edges_by_parent.get(rtype, []):
            cond = edge["condition"]
            if cond == "spec_source" and c["type"] not in SOURCE_SPEC_TYPES:
                continue
            if cond == "spec_package" and c["type"] not in PACKAGE_SPEC_TYPES:
                continue
            if cond == "has_source" and (reg_row is None or not reg_row.get("source_type")):
                continue
            child_type = c["type"] if edge["child_type"] == "$spec" else edge["child_type"]
            if cond == "has_source":
                cc = {
                    "type": reg_row["source_type"],
                    "provider": reg_row["source_provider"],
                    "namespace": reg_row["source_namespace"],
                    "name": reg_row["source_name"],
                    "revision": reg_row["source_revision"],
                    "tool": None,
                    "tool_version": None,
                }
                cc["canonical_url"] = coord_url(cc)
            else:
                cc = dict(c)
            children.append(
                {
                    "type": child_type,
                    "url": cc["canonical_url"],
                    "coord": cc,
                    "queue": e["queue"],  # children inherit origin queue (request.js:272-274)
                    "scope": edge["child_scope"],
                    "policy": f"{e['policy'].split(':')[0]}:{edge['child_name']}",
                    "attempt_count": 0,
                    "not_before_epoch": 0,
                    "parent_epoch": epoch,
                    "host": self._host_of(cc["provider"]),
                }
            )

    def run(self, seeds: list[dict], max_epochs: int = 50) -> SimResult:
        self.seed(seeds)
        epoch = 0
        while self.frontier and epoch < max_epochs:
            self.run_epoch(epoch)
            epoch += 1
        self.res.epochs_run = epoch
        return self.res


# ---------------------------------------------------------------------------
# training-data mirror: pure-Python corpus dedup over simulator documents
# (golden oracle for CrawlEngine.dedup_documents / operators.dedup.
# dedup_documents — same tokenization, same exact Jaccard, same
# min-label components, same keep-best tie-breaks)
# ---------------------------------------------------------------------------

_TOKEN_CLEAN_RE = re.compile(r"[^a-z0-9 ]")
_TOKEN_SPLIT_RE = re.compile(r" +")


def _doc_text_py(spans: list[dict]) -> str:
    """Mirror of operators.dedup.doc_text: text spans in offset order,
    newline-joined."""
    txt = sorted((s for s in spans if s["kind"] == "text"), key=lambda s: s["offset"])
    return "\n".join(s["text"] for s in txt)


def _shingles_py(text: str, n: int) -> set[str]:
    toks = [t for t in _TOKEN_SPLIT_RE.split(_TOKEN_CLEAN_RE.sub(" ", text.lower())) if t]
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def dedup_documents_py(
    documents: dict[str, dict], threshold: float = 0.5, n: int = 3
) -> list[dict]:
    """All-pairs exact n-gram Jaccard ≥ threshold → union-find components
    (cluster_id = min member id) → keep-best representative (longest text,
    ties → lowest doc_id). Returns one row per document, sorted by doc_id:
    {doc_id, cluster_id, n_chars, n_members, is_representative}."""
    texts = {k: _doc_text_py(v["spans"]) for k, v in documents.items()}
    sh = {k: _shingles_py(t, n) for k, t in texts.items()}
    ids = sorted(texts)
    parent = {k: k for k in ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the min id as the root so cluster_id = min member id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    withsh = [k for k in ids if sh[k]]
    for i, a in enumerate(withsh):
        for b in withsh[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
                union(a, b)

    clusters: dict[str, list[str]] = {}
    for k in ids:
        clusters.setdefault(find(k), []).append(k)
    out = []
    for root, members in clusters.items():
        rep_chars = max(len(texts[m]) for m in members)
        rep_id = min(m for m in members if len(texts[m]) == rep_chars)
        for m in members:
            out.append(
                {
                    "doc_id": m,
                    "cluster_id": root,
                    "n_chars": len(texts[m]),
                    "n_members": len(members),
                    "is_representative": m == rep_id,
                }
            )
    return sorted(out, key=lambda r: r["doc_id"])
