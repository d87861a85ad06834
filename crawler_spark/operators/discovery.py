"""Source-location discovery (P22) — /root/reference/lib/sourceDiscovery.js
re-expressed relationally.

The reference takes a version + an ordered list of candidate repo URLs,
resolves them to unique GitHub (owner, name) locations preserving first
occurrence (resolveGitHubLocations, sourceDiscovery.js:55-64), then for
each candidate in order probes the repo's tag refs with 8 patterns in
priority order (discoverFromGitHubTags, sourceDiscovery.js:107-128):

    {v}^{{}}  v{v}^{{}}  {v}  v{v}  rel/v{v}  v.{v}  {v}.0  v{v}.0

and returns SourceSpec('git','github', owner, name, sha) for the first
hit (searchForRevisions, sourceDiscovery.js:23-37).

Spark shape: candidates posexplode → parse/uniq (groupBy min ordinal) →
hash join against the `tags(owner, name, tag, sha)` dim on (owner, name)
→ pattern priority via array_position → one min_by per request. The only
shuffles key on (owner, name) and the request id — both uniform; the tag
dim can be arbitrarily large (it is NOT broadcast by default; Catalyst
broadcasts it when small).

The pure-Python twins (`*_py`) drive the simulator for exact parity.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# parse-github-url equivalent. The npm package is HOST-AGNOSTIC despite
# its name: it extracts owner/name from ANY git-ish URL (https/git/ssh),
# so resolveGitHubLocations' uniqWith dedups across hosts — a gitlab URL
# ahead of a same-(owner,name) github URL REMOVES the github one, and the
# provider check then fails the gitlab survivor (sourceDiscovery.js:39-64).
# Only discoverRevision's getProvider test is github-specific.
_OWNER_RE = r"[\w.-]+\.[A-Za-z]{2,}[:/]+([^/?#\s]+)/"
_NAME_RE = r"[\w.-]+\.[A-Za-z]{2,}[:/]+[^/?#\s]+/([^/?#\s]+)"


def repo_owner(url: Column) -> Column:
    return F.nullif(F.regexp_extract(url, _OWNER_RE, 1), F.lit(""))


def repo_name(url: Column) -> Column:
    raw = F.nullif(F.regexp_extract(url, _NAME_RE, 1), F.lit(""))
    return F.nullif(F.regexp_replace(raw, r"\.git$", ""), F.lit(""))


def is_github_url(url: Column) -> Column:
    """getProvider(candidate) === 'github' (utils.js)."""
    return url.rlike(r"(^|[/@.])github\.com[:/]")


def tag_patterns(version: Column) -> Column:
    """The 8 ref patterns, priority-ordered (sourceDiscovery.js:117-126)."""
    v = version
    return F.array(
        F.concat(v, F.lit("^{}")),
        F.concat(F.lit("v"), v, F.lit("^{}")),
        v,
        F.concat(F.lit("v"), v),
        F.concat(F.lit("rel/v"), v),
        F.concat(F.lit("v."), v),
        F.concat(v, F.lit(".0")),
        F.concat(F.lit("v"), v, F.lit(".0")),
    )


def discover_sources(
    requests: DataFrame,
    tags: DataFrame,
    id_col: str = "request_id",
    version_col: str = "version",
    cands_col: str = "candidate_urls",
) -> DataFrame:
    """One row per request that resolved: (id, owner, name, sha).

    Winner = first candidate URL (original order) that has any matching
    tag, best pattern within it — min_by over (cand_idx, pattern_idx),
    sha as the final tie-breaker for determinism under duplicate tag rows.
    """
    ex = requests.select(
        F.col(id_col).alias("_rid"),
        F.col(version_col).alias("_v"),
        F.posexplode(F.col(cands_col)).alias("cand_idx", "cand_url"),
    )
    parsed = ex.select(
        "_rid", "_v", "cand_idx",
        repo_owner(F.col("cand_url")).alias("owner"),
        repo_name(F.col("cand_url")).alias("name"),
        is_github_url(F.col("cand_url")).alias("_gh"),
    ).filter(F.col("owner").isNotNull() & F.col("name").isNotNull())
    # uniqWith on (owner, name), FIRST occurrence wins across hosts
    # (sourceDiscovery.js:62); only a first-occurrence github candidate
    # can resolve — a same-(owner,name) non-github URL earlier in the
    # list shadows the github one and the pair resolves nothing.
    uniq = parsed.groupBy("_rid", "owner", "name").agg(
        F.min("cand_idx").alias("cand_idx"),
        F.min_by("_gh", "cand_idx").alias("_gh"),
        F.min_by("_v", "cand_idx").alias("_v"),
    ).filter(F.col("_gh"))
    pat = uniq.withColumn("_patterns", tag_patterns(F.col("_v")))
    j = pat.join(tags, ["owner", "name"]).withColumn(
        "pattern_idx", F.array_position(F.col("_patterns"), F.col("tag"))
    ).filter(F.col("pattern_idx") > 0)
    win = j.groupBy("_rid").agg(
        F.min_by(
            F.struct("owner", "name", "sha"),
            F.struct("cand_idx", "pattern_idx", "sha"),
        ).alias("_w")
    )
    return win.select(
        F.col("_rid").alias(id_col),
        F.col("_w.owner").alias("owner"),
        F.col("_w.name").alias("name"),
        F.col("_w.sha").alias("sha"),
    )


def resolve_registry_sources(registry: DataFrame, tags: DataFrame | None) -> DataFrame:
    """Registry-dim preprocessing: rows carrying `candidate_urls` but no
    pre-resolved source get their source_* columns filled by discovery
    (the npmExtract→sourceDiscovery flow, providers/process/
    npmExtract.js:41-45). Rows without candidates pass through; discovery
    failure leaves source_type null (no `source` child edge)."""
    if tags is None or "candidate_urls" not in registry.columns:
        return registry
    base = registry.withColumn(
        "_rkey",
        # to_json(struct) -- injective for a fixed schema: field names say
        # which column is NULL, and JSON escaping keeps a separator byte
        # inside an id from colliding two tuples, which a separator-based
        # concat allows (and would cross-assign discovered sources)
        F.to_json(F.struct("provider", "namespace", "name", "version")),
    )
    todo = base.filter(
        F.col("source_type").isNull() & (F.size(F.coalesce(F.col("candidate_urls"), F.array())) > 0)
    )
    found = discover_sources(
        todo.select(F.col("_rkey").alias("request_id"), "version", "candidate_urls"),
        tags,
    ).select(
        F.col("request_id").alias("_rkey"),
        F.lit("git").alias("_d_type"), F.lit("github").alias("_d_provider"),
        F.col("owner").alias("_d_namespace"), F.col("name").alias("_d_name"),
        F.col("sha").alias("_d_revision"),
    )
    out = base.join(found, "_rkey", "left")
    return out.select(
        *[c for c in registry.columns if not c.startswith("source_")],
        F.coalesce(F.col("source_type"), F.col("_d_type")).alias("source_type"),
        F.coalesce(F.col("source_provider"), F.col("_d_provider")).alias("source_provider"),
        F.coalesce(F.col("source_namespace"), F.col("_d_namespace")).alias("source_namespace"),
        F.coalesce(F.col("source_name"), F.col("_d_name")).alias("source_name"),
        F.coalesce(F.col("source_revision"), F.col("_d_revision")).alias("source_revision"),
    ).select(*registry.columns)


# ---------------------------------------------------------------------------
# pure-Python twins (simulator parity)
# ---------------------------------------------------------------------------

_OWNER_RE_PY = re.compile(_OWNER_RE)
_NAME_RE_PY = re.compile(_NAME_RE)
_GH_RE_PY = re.compile(r"(^|[/@.])github\.com[:/]")


def tag_patterns_py(version: str) -> list[str]:
    v = version
    return [f"{v}^{{}}", f"v{v}^{{}}", v, f"v{v}", f"rel/v{v}", f"v.{v}", f"{v}.0", f"v{v}.0"]


def discover_source_py(
    version: str, candidate_urls: list[str] | None, tags_by_repo: dict[tuple, dict[str, str]]
) -> dict | None:
    """Twin of discover_sources for one request; tags_by_repo maps
    (owner, name) -> {tag: sha}."""
    seen: set[tuple] = set()
    resolved: list[tuple[str, str]] = []
    for u in candidate_urls or []:
        mo = _OWNER_RE_PY.search(u or "")
        mn = _NAME_RE_PY.search(u or "")
        if not (mo and mn):
            continue
        owner, name = mo.group(1), re.sub(r"\.git$", "", mn.group(1))
        if not (owner and name):
            continue
        key = (owner, name)
        if key not in seen:
            seen.add(key)
            # host-agnostic dedup, github-only resolve: a non-github
            # first occurrence shadows its (owner, name) — mirror of
            # discover_sources' is_github_url filter on the argmin row
            if _GH_RE_PY.search(u or ""):
                resolved.append(key)
    for owner, name in resolved:
        refs = tags_by_repo.get((owner, name), {})
        for p in tag_patterns_py(version):
            if p in refs:
                return {
                    "source_type": "git", "source_provider": "github",
                    "source_namespace": owner, "source_name": name,
                    "source_revision": refs[p],
                }
    return None


def resolve_registry_sources_py(
    registry_rows: list[dict], tags_rows: list[dict] | None
) -> list[dict]:
    """Twin of resolve_registry_sources over fixture rows."""
    if not tags_rows:
        return registry_rows
    tags_by_repo: dict[tuple, dict[str, str]] = {}
    for t in tags_rows:
        refs = tags_by_repo.setdefault((t["owner"], t["name"]), {})
        # duplicate (owner, name, tag) rows resolve to the MIN sha — the
        # same deterministic tiebreak discover_sources' min_by struct
        # applies (git refs are unique upstream; only fixtures can dup)
        refs[t["tag"]] = min(refs[t["tag"]], t["sha"]) if t["tag"] in refs else t["sha"]
    out = []
    for r in registry_rows:
        if r.get("source_type") is None and r.get("candidate_urls"):
            d = discover_source_py(r["version"], r["candidate_urls"], tags_by_repo)
            r = {**r, **(d or {})}
        out.append(r)
    return out
