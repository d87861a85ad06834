"""Snapshot store: parquet tables + atomically linked JSON manifests.

Stands in for Iceberg (jars unavailable in this sandbox — SURVEY.md §7 M2
fallback) while keeping the two properties the engine needs:

1. **Atomic multi-table commit**: an epoch writes new parquet files for
   every changed table, then promotes them with ONE `os.link` of the
   manifest for the version after the snapshot it was planned from,
   which raises `CommitConflict` rather than overwrite a commit that
   published in between — readers see either snapshot S or S+1, never
   a mix. This is
   the batch replacement for the reference's visibility-timeout
   ack-once semantics (/root/reference/ghcrawler/providers/queuing/
   storageQueue.js:54-116): rows scheduled in epoch N are removed by the
   same commit that lands their results, so a crashed epoch re-runs from
   snapshot N with no half-acked state.
2. **Time travel / resume**: every snapshot manifest is retained;
   `read(table, version=...)` gives `VERSION AS OF` for checkpoint resume
   (SURVEY.md §4).

Data files are immutable once written; a manifest lists, per table, the
parquet directories composing that table at that snapshot. On a real
cluster the same design maps 1:1 onto Iceberg `MERGE`/snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another commit published the version this commit was planned to
    write; the caller must re-plan from the newer snapshot."""


@dataclass
class Snapshot:
    version: int
    epoch: int
    tables: dict[str, list[str]]  # table -> list of parquet dirs
    meta: dict


class SnapshotStore:
    """Multi-table snapshot store rooted at `path`; every table is a list
    of plain parquet dirs."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- manifest bookkeeping -------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "manifests", f"v{version:08d}.json")

    def current_version(self) -> int:
        """Highest committed snapshot version, or -1 if none."""
        files = [f for f in os.listdir(os.path.join(self.path, "manifests")) if f.endswith(".json")]
        if not files:
            return -1
        return max(int(f[1:-5]) for f in files)

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        v = self.current_version() if version is None else version
        if v < 0:
            return None
        with open(self._manifest_path(v)) as fh:
            m = json.load(fh)
        return Snapshot(version=m["version"], epoch=m["epoch"], tables=m["tables"], meta=m.get("meta", {}))

    # -- read -----------------------------------------------------------------
    def read(self, table: str, version: int | None = None) -> DataFrame | None:
        snap = self.snapshot(version)
        if snap is None or table not in snap.tables or not snap.tables[table]:
            return None
        return self.spark.read.parquet(*snap.tables[table])

    # -- write ----------------------------------------------------------------
    def _write_data(self, table: str, df: DataFrame) -> str:
        d = os.path.join(self.path, "data", table, uuid.uuid4().hex)
        df.write.mode("errorifexists").parquet(d)
        return d

    def commit(
        self,
        epoch: int,
        replace: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        base: Snapshot | None = None,
    ) -> Snapshot:
        """Atomically publish snapshot `base.version + 1`.

        `base` is the snapshot the caller planned from (default: the
        current one); if any commit published after it, this one raises
        `CommitConflict` instead of dropping that commit's changes.
        `replace[t]` swaps table t's file set; `append[t]` adds files to
        base's set (append-only logs: documents, schedule_log, metrics,
        the URL-seen set). Unmentioned tables carry forward unchanged.
        A commit that raises `CommitConflict` removes its dirs.
        """
        prev = self.snapshot() if base is None else base
        tables: dict[str, list[str]] = dict(prev.tables) if prev else {}
        for t, df in (replace or {}).items():
            tables[t] = [self._write_data(t, df)]
        for t, df in (append or {}).items():
            tables[t] = tables.get(t, []) + [self._write_data(t, df)]
        version = (prev.version + 1) if prev else 0
        manifest = {
            "version": version,
            "epoch": epoch,
            "tables": tables,
            "meta": dict(meta or {}, committed_unix=time.time()),
        }
        tmp = self._manifest_path(version) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        # atomic promote that never replaces: link() fails if another
        # committer already published this version (rename would silently
        # overwrite it and lose that commit's changes)
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            # no manifest lists this commit's dirs, but a reader that globs
            # data/<table>/* (streaming/harvest_stream.py) would see them
            published = {d for ds in (prev.tables.values() if prev else ()) for d in ds}
            for d in {d for ds in tables.values() for d in ds} - published:
                shutil.rmtree(d)
            raise CommitConflict(
                f"snapshot v{version} was committed concurrently; re-plan from the new snapshot"
            ) from None
        finally:
            os.unlink(tmp)
        return Snapshot(version=version, epoch=epoch, tables=tables, meta=manifest["meta"])
