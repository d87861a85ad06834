"""Coordinate (EntitySpec) algebra: parse, canonicalize, render, hash.

Reference semantics: /root/reference/lib/entitySpec.js
- parse regex (entitySpec.js:10-14):
    /.*:\\/*([^/]+)\\/([^/]+)\\/([^/]+)\\/([^/]+)\\/?([^/]+)?(\\/tool\\/.+)?/
- canonicalization (entitySpec.js:45-53): type/provider lowercased,
  namespace '-' → null, tool/toolVersion lowercased, name/revision kept.
- toUrn (entitySpec.js:55-62):
    urn:{type}:{provider}:{ns|-}:{name}[:revision:{rev}][:tool:{tool}][:{toolVersion}]
- toUrl/toUrlPath (entitySpec.js:64-75):
    cd:/{type}/{provider}/{ns|-}/{name}[/{rev}][/tool/{tool}][/{toolVersion}]

Two implementations with identical results (tested against each other):
the default, JVM-side built-in expressions (regexp_extract/lower/concat —
whole-stage-codegen'd, the hot path at 10^10 rows), and a vectorized
Arrow/pandas UDF (`canonicalize_udf`) demonstrating the Arrow path of the
north rule for callers that need Python-side extension.

The 64-bit key is `xxhash64(canonical_url)` (Spark built-in, seed 42) —
used for joins, bloom membership and partition routing.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.config import PROVIDER_HOSTS, UNKNOWN_HOST

# Java-regex rendering of entitySpec.js:10-14 (JS and Java classes agree here).
COORD_REGEX = r".*:/*([^/]+)/([^/]+)/([^/]+)/([^/]+)/?([^/]+)?(/tool/.+)?"

_PARSED_FIELDS = ("type", "provider", "namespace", "name", "revision", "tool", "tool_version")


def parse_coordinate_cols(url: Column) -> dict[str, Column]:
    """Parse a cd:/ coordinate URL into canonical columns.

    Returns canonicalized columns: type/provider lowercased, namespace null
    when '-', tool/tool_version lowercased (entitySpec.js:45-53). Empty
    regex groups become NULL.
    """

    def grp(i: int) -> Column:
        return F.nullif(F.regexp_extract(url, COORD_REGEX, i), F.lit(""))

    tool_spec = grp(6)  # like '/tool/scancode/32.1.0'
    # toolSpec.split('/') -> ['', 'tool', name, version] (entitySpec.js:13)
    tool = F.nullif(F.split_part(tool_spec, F.lit("/"), F.lit(3)), F.lit(""))
    tool_version = F.nullif(F.split_part(tool_spec, F.lit("/"), F.lit(4)), F.lit(""))
    return {
        "type": F.lower(grp(1)),
        "provider": F.lower(grp(2)),
        "namespace": F.nullif(grp(3), F.lit("-")),
        "name": grp(4),
        "revision": grp(5),
        "tool": F.lower(tool),
        "tool_version": F.lower(tool_version),
    }


def to_url_path(
    type_: Column,
    provider: Column,
    namespace: Column,
    name: Column,
    revision: Column | None = None,
    tool: Column | None = None,
    tool_version: Column | None = None,
) -> Column:
    """Render the canonical URL path (entitySpec.js:68-75)."""
    parts = [
        type_,
        F.lit("/"),
        provider,
        F.lit("/"),
        F.coalesce(namespace, F.lit("-")),
        F.lit("/"),
        name,
    ]
    if revision is not None:
        parts.append(F.coalesce(F.concat(F.lit("/"), revision), F.lit("")))
    if tool is not None:
        parts.append(F.coalesce(F.concat(F.lit("/tool/"), tool), F.lit("")))
    if tool_version is not None:
        parts.append(F.coalesce(F.concat(F.lit("/"), tool_version), F.lit("")))
    return F.concat(*parts)


def to_url(
    type_: Column,
    provider: Column,
    namespace: Column | None,
    name: Column,
    revision: Column | None = None,
    tool: Column | None = None,
    tool_version: Column | None = None,
) -> Column:
    """cd:/ canonical URL (entitySpec.js:64-66)."""
    return F.concat(
        F.lit("cd:/"),
        to_url_path(type_, provider, namespace, name, revision, tool, tool_version),
    )


def to_urn(
    type_: Column,
    provider: Column,
    namespace: Column,
    name: Column,
    revision: Column | None = None,
    tool: Column | None = None,
    tool_version: Column | None = None,
) -> Column:
    """urn: rendering (entitySpec.js:55-62)."""
    parts = [
        F.lit("urn:"),
        type_,
        F.lit(":"),
        provider,
        F.lit(":"),
        F.coalesce(namespace, F.lit("-")),
        F.lit(":"),
        name,
    ]
    if revision is not None:
        parts.append(F.coalesce(F.concat(F.lit(":revision:"), revision), F.lit("")))
    if tool is not None:
        parts.append(F.coalesce(F.concat(F.lit(":tool:"), tool), F.lit("")))
    if tool_version is not None:
        parts.append(F.coalesce(F.concat(F.lit(":"), tool_version), F.lit("")))
    return F.concat(*parts)


def host_for_provider(provider: Column) -> Column:
    """Politeness-partition key: registry host per provider (fetcher base
    URLs). A chained CASE over the small literal map; UNKNOWN_HOST
    otherwise (also when the map is empty)."""
    result: Column = F.lit(UNKNOWN_HOST)
    for prov, host in reversed(PROVIDER_HOSTS.items()):
        result = F.when(provider == prov, F.lit(host)).otherwise(result)
    return result


def url_hash(canonical_url: Column) -> Column:
    """Stable 64-bit key for joins / blooms / partition routing."""
    return F.xxhash64(canonical_url)


def with_parsed_coordinates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add canonical coordinate columns + canonical_url + url_hash + host.

    One `select` → a single whole-stage-codegen projection; the regex is
    evaluated by the JVM per group (Catalyst collapses common
    subexpressions for identical regexp_extract calls).
    """
    cols = parse_coordinate_cols(F.col(url_col))
    canon = to_url(
        cols["type"], cols["provider"], cols["namespace"], cols["name"],
        cols["revision"], cols["tool"], cols["tool_version"],
    )
    # genuinely ONE select (the docstring's claim): every derived column
    # is a pure expression over the url, so nothing needs a prior
    # projection; identical subtrees (canon twice) fall to Catalyst CSE.
    # Callers must not already carry these column names (all pre-rename).
    return df.select(
        "*",
        *[v.alias(k) for k, v in cols.items()],
        canon.alias("canonical_url"),
        url_hash(canon).alias("url_hash"),
        host_for_provider(cols["provider"]).alias("host"),
    )


# ---------------------------------------------------------------------------
# Arrow/pandas UDF variant — identical semantics, Python-side. Used to
# demonstrate/validate the vectorized-UDF path (north rule) and as an
# extension point; the built-in regex path above is the one the engine runs.
# ---------------------------------------------------------------------------

_PY_COORD_RE = re.compile(r".*:/*([^/]+)/([^/]+)/([^/]+)/([^/]+)/?([^/]+)?(/tool/.+)?")

_CANON_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("provider", T.StringType()),
        T.StructField("namespace", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("revision", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("tool_version", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
    ]
)


def _canonicalize_batch(urls: pd.Series) -> pd.DataFrame:
    """Vectorized canonicalization of a batch of coordinate URLs."""
    ext = urls.str.extract(_PY_COORD_RE)  # 6 groups, NaN on miss
    typ = ext[0].str.lower()
    prov = ext[1].str.lower()
    ns = ext[2].where(ext[2] != "-")
    name = ext[3]
    rev = ext[4]
    tool_spec = ext[5]
    tool_parts = tool_spec.str.split("/", expand=True)
    if tool_parts.shape[1] > 2:
        tool = tool_parts[2].str.lower()
    else:
        tool = pd.Series([None] * len(urls), dtype="object")
    if tool_parts.shape[1] > 3:
        tool_version = tool_parts[3].str.lower()
    else:
        tool_version = pd.Series([None] * len(urls), dtype="object")
    canon = (
        "cd:/"
        + typ.fillna("")
        + "/"
        + prov.fillna("")
        + "/"
        + ns.fillna("-")
        + "/"
        + name.fillna("")
        + ("/" + rev).fillna("")
        + ("/tool/" + tool).fillna("")
        + ("/" + tool_version).fillna("")
    )
    canon = canon.where(typ.notna())
    return pd.DataFrame(
        {
            "type": typ,
            "provider": prov,
            "namespace": ns,
            "name": name,
            "revision": rev,
            "tool": tool,
            "tool_version": tool_version,
            "canonical_url": canon,
        }
    ).astype(object).where(lambda d: d.notna(), None)


@F.pandas_udf(_CANON_SCHEMA)
def canonicalize_udf(urls: pd.Series) -> pd.DataFrame:
    return _canonicalize_batch(urls)
