"""Deterministic synthetic inputs (no network, no wall clock).

Two families:

1. **Fixture generators (pure Python, seeded)** — `gen_seeds_py`,
   `gen_registry_py`, `gen_robots_py`. These produce the exact same rows
   for the Spark engine (via `createDataFrame`) and for the pure-Python
   reference simulator, so crawl-order / seen-set parity tests compare the
   two engines on identical inputs. They replace the reference's live
   registries and recorded HTTP fixtures (/root/reference/test/fixtures/).

2. **Scale generators (pure Spark expressions, lazy)** —
   `gen_frontier_core`, `gen_documents_spans`. `spark.range(N)` + hash
   expressions synthesize arbitrarily large frontiers / span corpora
   without materializing rows driver-side (SURVEY.md §7 hard part (e):
   the 10^10 frontier is lazy).

Registry semantics mirrored: multi-version catalogs with prereleases
(latest-version resolution, /root/reference/lib/baseHandler.js:83-101),
404 → skip 'Missing' (baseHandler.js:103-105), 429 → requeue 'Throttled'
(/root/reference/providers/fetch/goFetch.js:68-75) via `fail_attempts`
(429 until attempt_count >= fail_attempts), source-location discovery
(/root/reference/lib/sourceDiscovery.js:23-37), interleaved text+media
payload spans (attachments, /root/reference/providers/process/
abstractProcessor.js:97-113).
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.config import PROVIDER_HOSTS, QUEUE_NAMES

FETCH_PROVIDERS: tuple[str, ...] = (
    "npmjs", "pypi", "cratesio", "mavencentral", "nuget",
    "rubygems", "golang", "packagist", "cocoapods", "debian",
)
_PROVIDER_TO_SPEC_TYPE = {
    "npmjs": "npm", "pypi": "pypi", "cratesio": "crate", "mavencentral": "maven",
    "nuget": "nuget", "rubygems": "gem", "golang": "go", "packagist": "composer",
    "cocoapods": "pod", "debian": "deb",
}

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("provider", T.StringType()),
        T.StructField("namespace", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("is_prerelease", T.BooleanType()),
        T.StructField("release_seq", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("fail_attempts", T.IntegerType()),
        # origin ETag for conditional refetch (crawler.js:426-433; the
        # github fetcher's If-None-Match flow): changes whenever upstream
        # content changes — fixtures mutate it to simulate an upstream edit
        T.StructField("etag", T.StringType()),
        T.StructField("source_type", T.StringType()),
        T.StructField("source_provider", T.StringType()),
        T.StructField("source_namespace", T.StringType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("source_revision", T.StringType()),
        # ordered candidate repo URLs for source discovery (sourceDiscovery
        # .js:23-37) — used when source_* is not pre-resolved; the engine
        # resolves them against the tags dim at construction
        T.StructField("candidate_urls", T.ArrayType(T.StringType())),
        # registry-published release date, in one of the wire formats the
        # reference's extractDate chain handles (lib/utils.js:70-97) —
        # parsed into documents.release_date by the engine
        T.StructField("release_date_raw", T.StringType()),
        T.StructField("payload_spans", SPANS_TYPE),
    ]
)

# git tag refs dim for source discovery (discoverFromGitHubTags,
# /root/reference/lib/sourceDiscovery.js:107-128): one row per
# (repo, tag) with the commit sha the ref points at
TAGS_SCHEMA = T.StructType(
    [
        T.StructField("owner", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("sha", T.StringType()),
    ]
)

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("queue", T.StringType()),
        T.StructField("policy", T.StringType()),
        # optional earliest-epoch gate (maps to not_before_epoch; lets
        # fixtures schedule reprocess requests AFTER the original crawl
        # landed documents — the storage-first path, dispatcher.js:29-43)
        T.StructField("not_before", T.IntegerType()),
    ]
)


def _seed_row(d: dict) -> dict:
    return {**d, "not_before": d.get("not_before", 0)}

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("disallow_prefix", T.StringType()),
    ]
)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _spans_py(doc_key: str, rng: random.Random) -> list[dict]:
    """Interleaved text+media span list; offset dense 0..n-1."""
    n = rng.randint(2, 6)
    spans = []
    for i in range(n):
        if rng.random() < 0.3:
            token = _sha(f"{doc_key}:media:{i}")
            spans.append({"kind": "media", "text": None, "media_ref": f"urn:attachment:{token}", "offset": i})
        else:
            spans.append({"kind": "text", "text": f"content of {doc_key} span {i}", "media_ref": None, "offset": i})
    return spans


def _release_date_raw_py(rng: random.Random) -> str | None:
    """Deterministic registry release-date string in one of the wire
    formats the reference's extractDate chain handles (lib/utils.js:70-97):
    ISO 8601 (Z / offset), RFC 2822, HTTP-date, SQL timestamp, the
    pom-properties custom form — plus the failure modes the chain must
    null out (garbage, out-of-window future, pre-1950, absent)."""
    import datetime as dt

    base = dt.datetime(1995, 1, 1) + dt.timedelta(seconds=rng.randrange(30 * 365 * 86400))
    kind = rng.randrange(10)
    if kind == 0:
        return base.strftime("%Y-%m-%dT%H:%M:%SZ")  # ISO UTC
    if kind == 1:
        return base.strftime("%Y-%m-%dT%H:%M:%S") + "+05:30"  # ISO offset
    if kind == 2:
        return base.strftime("%a, %d %b %Y %H:%M:%S") + " +0000"  # RFC 2822
    if kind == 3:
        return base.strftime("%a, %d %b %Y %H:%M:%S GMT")  # HTTP-date
    if kind == 4:
        return base.strftime("%Y-%m-%d %H:%M:%S")  # SQL
    if kind == 5:  # pom properties: 'Mon Mar 2 20:46:54 GMT+01:00 2015'
        return f"{base.strftime('%a %b')} {base.day} {base.strftime('%H:%M:%S')} GMT+01:00 {base.year}"
    if kind == 6:
        return "unknown"  # unparseable → null
    if kind == 7:
        return "2099-01-01T00:00:00Z"  # > now+30d → null (utils.js:94-96)
    if kind == 8:
        return "1925-06-01T00:00:00Z"  # < 1950 → null (utils.js:91-93)
    return None  # registry publishes no date


def gen_registry_py(n_names: int = 50, seed: int = 42) -> list[dict]:
    """Per-provider version catalog rows; deterministic under `seed`."""
    rng = random.Random(seed)
    rows: list[dict] = []
    for i in range(n_names):
        provider = FETCH_PROVIDERS[i % len(FETCH_PROVIDERS)]
        name = f"pkg-{i:04d}"
        namespace = f"ns{i % 7}" if provider in ("mavencentral",) else None
        n_versions = rng.randint(1, 4)
        fate = rng.random()
        # per-name fetch fate: ~6% hard-404, ~8% throttled 2x then ok,
        # ~4% always-throttled (deadletter path), rest clean
        if fate < 0.06:
            status, fail_attempts = 404, 0
        elif fate < 0.14:
            status, fail_attempts = 200, 2
        elif fate < 0.18:
            status, fail_attempts = 200, 99
        else:
            status, fail_attempts = 200, 0
        has_source = rng.random() < 0.6
        for v in range(n_versions):
            is_pre = v == n_versions - 1 and n_versions > 1 and rng.random() < 0.4
            version = f"1.{v}.{rng.randint(0, 9)}" + ("-beta.1" if is_pre else "")
            doc_key = f"{provider}/{namespace or '-'}/{name}/{version}"
            rows.append(
                {
                    "provider": provider,
                    "namespace": namespace,
                    "name": name,
                    "version": version,
                    "is_prerelease": is_pre,
                    "release_seq": i * 100 + v,
                    "status": status,
                    "fail_attempts": fail_attempts,
                    "etag": f'W/"{_sha(doc_key + ":rev0")[:16]}"',
                    "source_type": "git" if has_source else None,
                    "source_provider": "github" if has_source else None,
                    "source_namespace": (namespace or name) if has_source else None,
                    "source_name": name if has_source else None,
                    "source_revision": _sha(doc_key)[:40] if has_source else None,
                    "release_date_raw": _release_date_raw_py(rng),
                    "payload_spans": _spans_py(doc_key, rng),
                }
            )
    return rows


def gen_seeds_py(n: int = 30, seed: int = 42, n_names: int = 50, dup_every: int = 9) -> list[dict]:
    """Seed requests (POST /requests shape, /root/reference/ghcrawler/
    routes/requests.js:24-41): mostly `component` coordinates, default
    policy, queue spread across the four priorities; every `dup_every`-th
    seed repeats an earlier URL to exercise attenuation (S2)."""
    rng = random.Random(seed + 1)
    rows: list[dict] = []
    for i in range(n):
        j = rng.randrange(n_names) if (dup_every and i % dup_every == dup_every - 1 and i > 0) else i % n_names
        provider = FETCH_PROVIDERS[j % len(FETCH_PROVIDERS)]
        spec_type = _PROVIDER_TO_SPEC_TYPE[provider]
        namespace = f"ns{j % 7}" if provider == "mavencentral" else "-"
        name = f"pkg-{j:04d}"
        # ~70% revision-less → latest-version resolution path
        revision = f"/1.{rng.randint(0,3)}.{rng.randint(0,9)}" if rng.random() < 0.3 else ""
        url = f"cd:/{spec_type}/{provider}/{namespace}/{name}{revision}"
        queue = QUEUE_NAMES[rng.randrange(4)] if rng.random() < 0.4 else "normal"
        rows.append({"seed_id": i, "type": "component", "url": url, "queue": queue, "policy": "default"})
    return rows


def gen_robots_py(seed: int = 42) -> list[dict]:
    """Synthetic robots.txt gate: per-host disallowed coordinate-path
    prefixes (north-rule robots gate; no analogue in the reference —
    it crawls registries, we model the politeness-gate shape)."""
    rng = random.Random(seed + 2)
    hosts = sorted(set(PROVIDER_HOSTS[p] for p in FETCH_PROVIDERS))
    rows = []
    for h in hosts:
        if rng.random() < 0.5:
            rows.append({"host": h, "disallow_prefix": f"pkg-00{rng.randrange(5)}"})
    return rows


# -- Spark-side fixture tables ------------------------------------------------

def registry_df(spark: SparkSession, rows: list[dict] | None = None, **kw) -> DataFrame:
    rows = rows if rows is not None else gen_registry_py(**kw)
    # etag / candidate_urls optional in hand-built fixtures
    rows = [{"etag": None, "candidate_urls": None, "release_date_raw": None, **r} for r in rows]
    return spark.createDataFrame(rows, REGISTRY_SCHEMA)


def tags_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame(rows, TAGS_SCHEMA)


def seeds_df(spark: SparkSession, rows: list[dict] | None = None, **kw) -> DataFrame:
    rows = rows if rows is not None else gen_seeds_py(**kw)
    return spark.createDataFrame([_seed_row(r) for r in rows], SEEDS_SCHEMA)


def robots_df(spark: SparkSession, rows: list[dict] | None = None, **kw) -> DataFrame:
    return spark.createDataFrame(rows if rows is not None else gen_robots_py(**kw), ROBOTS_SCHEMA)


# -- Scale generators (lazy, pure Spark expressions) ---------------------------

def gen_frontier_core(spark: SparkSession, n: int, seed: int = 42, n_hosts: int = 1000) -> DataFrame:
    """Numeric core of the synthetic frontier — the columns scheduling
    decisions need (host id, queue code, eligibility, FIFO seq), nothing
    string-typed (≈24 B/row). Callers project the engine's string
    columns from these (perfbench/workloads.py::synthetic_frontier).

    Skew: host popularity ~ Zipf via pow of a uniform hash (hot heads),
    queue mix 3/7/80/10."""
    h = F.xxhash64(F.col("id"), F.lit(seed))
    u = (F.pmod(h, F.lit(1_000_000)) / 1_000_000.0)  # uniform [0,1)
    host_id = F.least(
        F.floor(F.pow(u, F.lit(3.0)) * n_hosts).cast("int"), F.lit(n_hosts - 1)
    )  # cubed uniform → heavy mass at low ids (hot hosts)
    qmix = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 7)), F.lit(100))
    queue_code = (
        F.when(qmix < 3, 0).when(qmix < 10, 1).when(qmix < 90, 2).otherwise(3)
    )
    return spark.range(n).select(
        F.col("id").alias("enqueued_seq"),
        host_id.alias("host_id"),
        queue_code.cast("int").alias("queue_code"),
        F.lit(1).alias("scope_code"),  # 0=local, 1=global
        F.lit(0).alias("attempt_count"),
        F.lit(0).alias("not_before_epoch"),
        F.lit(-1).alias("parent_epoch"),
        F.pmod(h, F.lit(10)).cast("int").alias("rev_minor"),
    )


def gen_documents_spans(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Lazily synthesize an interleaved text+media `documents` table in the
    input_hint shape: (doc_id string, spans array<struct<kind,text,
    media_ref,offset>>). Span count 2-6, ~30% media, offsets dense."""
    doc_id = F.concat(F.lit("cd:/npm/npmjs/-/doc-"), F.col("id"))
    n_spans = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(5)) + 2).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            F.when(F.pmod(F.xxhash64(doc_id, i, F.lit(seed + 1)), F.lit(10)) < 3, F.lit("media"))
            .otherwise(F.lit("text"))
            .alias("kind"),
            F.when(
                F.pmod(F.xxhash64(doc_id, i, F.lit(seed + 1)), F.lit(10)) >= 3,
                F.concat(F.lit("text span "), i.cast("string"), F.lit(" of "), doc_id),
            ).alias("text"),
            F.when(
                F.pmod(F.xxhash64(doc_id, i, F.lit(seed + 1)), F.lit(10)) < 3,
                F.concat(F.lit("urn:attachment:"), F.sha2(F.concat(doc_id, i.cast("string")), 256)),
            ).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return spark.range(n).select(doc_id.alias("doc_id"), spans.alias("spans"))
