"""Snapshot store: parquet tables + atomically linked JSON manifests.

Stands in for Iceberg (jars unavailable in this sandbox — SURVEY.md §7 M2
fallback) while keeping the two properties the engine needs:

1. **Atomic multi-table commit**: an epoch writes new parquet files for
   every changed table, then promotes them with ONE `os.link` of the
   manifest, which raises `CommitConflict` rather than overwrite a
   concurrent commit of the same version — readers see either snapshot
   S or S+1, never a mix. This is
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
    """Multi-table snapshot store rooted at `path`.

    `chunk_tables` opts a table into the K2 large-document path
    (storage/chunking.py — storageDocStore.js:46-58 analogue): rows whose
    span array exceeds `max_bytes` are stored as multiple ~`block_bytes`
    chunk rows (never one oversized parquet row-group / shuffle block);
    `read` reassembles them transparently, preserving the exact span
    sequence (kind, text, media_ref, order). Config per table:
    ``{"documents": {"id_cols": ["doc_id", "epoch"], "spans_col": "spans",
    "max_bytes": ..., "block_bytes": ...}}`` — `id_cols` must be unique
    per row WITHIN each committed DataFrame (the engine's append log is
    unique on (doc_id, epoch)). One normalization: a NULL span ARRAY
    round-trips as empty (chunking routes it through the atomic path
    instead of dropping the row).

    Each manifest records which tables hold the chunked representation,
    so reads are self-describing (a reader constructed without the flag
    still reassembles a chunked table rather than returning chunk rows)
    and an append whose representation conflicts with the dirs already
    under the table raises instead of silently mixing shapes."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        chunk_tables: dict[str, dict] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.chunk_tables = chunk_tables or {}
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

    # -- K2 chunked representation ---------------------------------------
    _CHUNK_KEY = "_ck"

    def _to_chunks(self, table: str, df: DataFrame) -> DataFrame:
        """Storage representation for a chunk-enabled table: one row per
        (document, chunk), metadata columns replicated on every chunk row
        (chunk rows are a storage shape, not a query surface). Only the
        oversized tail pays the split exchange (chunking.py).

        The chunk key is `to_json(struct(id_cols))` — injective for a
        fixed schema (field names disambiguate which column is NULL, and
        JSON escaping keeps separator bytes inside string ids from
        colliding two distinct tuples into one key, which a plain
        concat_ws would allow)."""
        from pyspark.sql import functions as F

        from crawler_spark.storage.chunking import (
            ATOMIC_MAX_BYTES,
            STREAM_BLOCK_BYTES,
            chunk_document_spans,
        )

        cfg = self.chunk_tables[table]
        spans_col = cfg.get("spans_col", "spans")
        key = F.to_json(
            F.struct(*[F.col(c) for c in cfg["id_cols"]])
        ).alias(self._CHUNK_KEY)
        keyed = df.select(key, "*")
        chunks = chunk_document_spans(
            keyed.select(self._CHUNK_KEY, spans_col),
            max_bytes=cfg.get("max_bytes", ATOMIC_MAX_BYTES),
            block_bytes=cfg.get("block_bytes", STREAM_BLOCK_BYTES),
            id_col=self._CHUNK_KEY,
            spans_col=spans_col,
        )
        return chunks.join(keyed.drop(spans_col), self._CHUNK_KEY)

    def _from_chunks(self, raw: DataFrame, spans_col: str) -> DataFrame:
        """Exact inverse: reassemble spans in chunk_seq order, one row per
        document, bookkeeping columns dropped. Delegates the span
        reassembly to chunking.reassemble_documents so there is one copy
        of the inverse logic."""
        from crawler_spark.storage.chunking import reassemble_documents

        others = [
            c for c in raw.columns
            if c not in (self._CHUNK_KEY, "chunk_seq", "n_chunks", spans_col)
        ]
        return reassemble_documents(
            raw, id_col=self._CHUNK_KEY, spans_col=spans_col, meta_cols=others
        ).select(*others, spans_col)

    # -- read -----------------------------------------------------------------
    def read(self, table: str, version: int | None = None) -> DataFrame | None:
        snap = self.snapshot(version)
        if snap is None or table not in snap.tables or not snap.tables[table]:
            return None
        raw = self.spark.read.parquet(*snap.tables[table])
        # The REPRESENTATION is decided by the manifest, not the
        # constructor flag: a store written chunked reads back reassembled
        # even from a reader constructed without the flag (and vice
        # versa), so a flag mismatch cannot return chunk rows as if they
        # were documents.
        rec = snap.meta["chunked"]
        if table in rec:
            return self._from_chunks(raw, rec[table]["spans_col"])
        return raw

    # -- write ----------------------------------------------------------------
    def _write_data(self, table: str, df: DataFrame) -> str:
        if table in self.chunk_tables:
            df = self._to_chunks(table, df)
        d = os.path.join(self.path, "data", table, uuid.uuid4().hex)
        df.write.mode("errorifexists").parquet(d)
        return d

    def commit(
        self,
        epoch: int,
        replace: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        """Atomically publish a new snapshot.

        `replace[t]` swaps table t's file set; `append[t]` adds files to
        the previous set (append-only logs: documents, schedule_log,
        metrics, the URL-seen set). Unmentioned tables carry forward
        unchanged. A commit that raises `CommitConflict` removes its dirs.
        """
        prev = self.snapshot()
        tables: dict[str, list[str]] = dict(prev.tables) if prev else {}
        # Per-table storage representation, recorded in the manifest so
        # reads are self-describing and appends cannot mix chunked and
        # plain parquet dirs under one table (which would silently
        # corrupt reassembly).
        chunked: dict[str, dict] = dict(prev.meta["chunked"]) if prev else {}

        def _intent(t: str) -> dict | None:
            if t in self.chunk_tables:
                return {"spans_col": self.chunk_tables[t].get("spans_col", "spans")}
            return None

        for t, df in (replace or {}).items():
            tables[t] = [self._write_data(t, df)]
            rec = _intent(t)  # a full swap may change representation
            if rec is None:
                chunked.pop(t, None)
            else:
                chunked[t] = rec
        for t, df in (append or {}).items():
            if tables.get(t):
                # `chunked` already reflects a same-commit replace of t
                was = t in chunked
                if was != (t in self.chunk_tables):
                    raise ValueError(
                        f"table {t!r} holds {'chunked' if was else 'plain'} parquet dirs "
                        f"but this store would append {'chunked' if t in self.chunk_tables else 'plain'} "
                        "rows — appending would mix representations; use replace= or a "
                        "matching chunk_tables config"
                    )
            rec = _intent(t)
            if rec is not None:
                chunked[t] = rec
            tables[t] = tables.get(t, []) + [self._write_data(t, df)]
        version = (prev.version + 1) if prev else 0
        manifest = {
            "version": version,
            "epoch": epoch,
            "tables": tables,
            "meta": dict(meta or {}, committed_unix=time.time(), chunked=chunked),
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
