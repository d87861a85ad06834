"""Snapshot store tests — atomic multi-table commit, carry-forward,
append vs replace, time travel (the batch replacement for the reference's
visibility-timeout ack-once semantics,
/root/reference/ghcrawler/providers/queuing/storageQueue.js:54-116).
"""

from __future__ import annotations

import json
import os

import pytest

from crawler_spark.storage.snapshots import CommitConflict, SnapshotStore


def test_commit_replace_append_carry_forward(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    a = spark.createDataFrame([(1,), (2,)], "x long")
    b = spark.createDataFrame([(10,)], "y long")
    store.commit(epoch=0, replace={"frontier": a}, append={"log": b})
    store.commit(epoch=1, append={"log": b})  # frontier carries forward

    assert store.current_version() == 1
    assert store.read("frontier").count() == 2
    assert store.read("log").count() == 2  # two appended file sets
    assert store.read("log", version=0).count() == 1  # time travel


def test_replace_swaps_file_set(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    store.commit(epoch=0, replace={"t": spark.createDataFrame([(1,)], "x long")})
    store.commit(epoch=1, replace={"t": spark.createDataFrame([(7,), (8,)], "x long")})
    assert sorted(r["x"] for r in store.read("t").collect()) == [7, 8]
    assert [r["x"] for r in store.read("t", version=0).collect()] == [1]


def test_missing_table_and_empty_store(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    assert store.snapshot() is None
    assert store.read("nope") is None
    store.commit(epoch=0, replace={"t": spark.createDataFrame([(1,)], "x long")})
    assert store.read("nope") is None


def test_manifest_promotion_is_atomic_rename(spark, tmp_path):
    """No .tmp manifests survive a commit; readers only ever see complete
    manifests (the crash-consistency property resume relies on)."""
    store = SnapshotStore(spark, str(tmp_path))
    store.commit(epoch=0, replace={"t": spark.createDataFrame([(1,)], "x long")}, meta={"next_seq": 5})
    mdir = os.path.join(str(tmp_path), "manifests")
    files = os.listdir(mdir)
    assert files == ["v00000000.json"]
    with open(os.path.join(mdir, files[0])) as fh:
        m = json.load(fh)
    assert m["meta"]["next_seq"] == 5
    assert store.snapshot().meta["next_seq"] == 5


def test_stale_commit_raises_conflict_and_keeps_winner(spark, tmp_path):
    """A commit planned from snapshot v0 that reaches promotion after
    another committer already published v1 raises CommitConflict; the
    winner's manifest stays byte-identical, no .tmp is left behind, and
    the loser's data dirs are gone (a reader globbing data/<table>/*
    must not see an unpublished commit) while the winner's stay."""
    root = str(tmp_path)
    winner, loser = SnapshotStore(spark, root), SnapshotStore(spark, root)
    winner.commit(epoch=0, replace={"t": spark.createDataFrame([(1,)], "x long")})
    write_data = loser._write_data
    v1 = os.path.join(root, "manifests", "v00000001.json")
    won = {}

    def write_then_lose_race(table, df):
        # the loser has read v0 and is writing its data: the winner commits v1
        if not won:
            winner.commit(epoch=1, replace={"t": spark.createDataFrame([(2,)], "x long")})
            with open(v1, "rb") as fh:
                won["manifest"] = fh.read()
        return write_data(table, df)

    loser._write_data = write_then_lose_race
    with pytest.raises(CommitConflict):
        loser.commit(epoch=1, replace={"t": spark.createDataFrame([(3,)], "x long")},
                     append={"log": spark.createDataFrame([(4,)], "y long")})
    assert sorted(os.listdir(os.path.join(root, "manifests"))) == ["v00000000.json", "v00000001.json"]
    with open(v1, "rb") as fh:
        assert fh.read() == won["manifest"]
    assert [r["x"] for r in loser.read("t").collect()] == [2]
    assert [r["x"] for r in loser.read("t", version=0).collect()] == [1]
    winner_dirs = sorted(d for v in (0, 1) for d in winner.snapshot(v).tables["t"])
    data = os.path.join(root, "data")
    assert sorted(os.path.join(data, "t", d) for d in os.listdir(os.path.join(data, "t"))) == winner_dirs
    assert os.listdir(os.path.join(data, "log")) == []


def test_engine_runs_transparently_over_chunked_store(spark, tmp_path):
    """K2 composition: a CrawlEngine whose store chunks oversized span
    arrays (tiny max_bytes so every payload splits) produces the IDENTICAL
    documents table as one over a plain store — the engine's own
    storage-first reads reassemble transparently mid-crawl, and the disk
    representation really holds multi-chunk rows."""
    from crawler_spark.data.generators import registry_df, seeds_df
    from crawler_spark.operators.epoch import CrawlEngine

    spans = [
        {"kind": "text", "text": f"span {i} " + "x" * 80, "media_ref": None, "offset": i}
        for i in range(5)
    ]
    registry = [
        {
            "provider": "npmjs", "namespace": None, "name": n, "version": "1.0.0",
            "is_prerelease": False, "release_seq": i, "status": 200, "fail_attempts": 0,
            "source_type": None, "source_provider": None, "source_namespace": None,
            "source_name": None, "source_revision": None,
            "payload_spans": spans,
        }
        for i, n in enumerate(["pkg-a", "pkg-b"])
    ]
    seeds = [
        {"seed_id": i, "type": "npm", "url": f"cd:/npm/npmjs/-/{n}/1.0.0",
         "queue": "normal", "policy": "default"}
        for i, n in enumerate(["pkg-a", "pkg-b"])
    ]

    def run(store):
        eng = CrawlEngine(spark, store, registry_df(spark, registry))
        eng.run(seeds_df(spark, seeds), max_epochs=4)
        return sorted(
            (r["doc_id"], r["epoch"], tuple(tuple(s) for s in r["spans"]))
            for r in store.read("documents").collect()
        )

    plain = run(SnapshotStore(spark, str(tmp_path / "plain")))
    chunk_store = SnapshotStore(
        spark, str(tmp_path / "chunked"),
        chunk_tables={"documents": {
            "id_cols": ["doc_id", "epoch"], "spans_col": "spans",
            "max_bytes": 200, "block_bytes": 100,
        }},
    )
    chunked = run(chunk_store)
    assert chunked == plain
    assert len(plain) == 8  # 2 npm payload docs + 2x3 tool docs
    raw = spark.read.parquet(*chunk_store.snapshot().tables["documents"])
    assert raw.filter("n_chunks > 1").count() > 0  # payloads really split on disk

CHUNK_CFG = {"documents": {
    "id_cols": ["doc_id", "epoch"], "spans_col": "spans",
    "max_bytes": 120, "block_bytes": 60,
}}


def _docs(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, epoch long, spans array<struct<kind:string,text:string,media_ref:string,offset:long>>",
    )


def test_read_representation_follows_manifest_not_constructor(spark, tmp_path):
    """A store written chunked reads back reassembled even from a reader
    constructed WITHOUT chunk_tables (and a plain store stays plain under
    a reader constructed WITH it): the manifest records the
    representation, so a flag mismatch can't surface chunk rows as
    documents or vice versa."""
    rows = [("d1", 0, [("text", "x" * 200, None, 0), ("text", "y" * 200, None, 1)]),
            ("d2", 0, [("text", "tiny", None, 0)])]
    w = SnapshotStore(spark, str(tmp_path / "s"), chunk_tables=CHUNK_CFG)
    w.commit(epoch=0, append={"documents": _docs(spark, rows)})

    plain_reader = SnapshotStore(spark, str(tmp_path / "s"))  # no flag
    got = sorted((r["doc_id"], len(r["spans"])) for r in plain_reader.read("documents").collect())
    assert got == [("d1", 2), ("d2", 1)]
    assert "chunk_seq" not in plain_reader.read("documents").columns

    # and the inverse mismatch: plain dirs + chunk-flagged reader
    p = SnapshotStore(spark, str(tmp_path / "p"))
    p.commit(epoch=0, append={"documents": _docs(spark, rows)})
    chunk_reader = SnapshotStore(spark, str(tmp_path / "p"), chunk_tables=CHUNK_CFG)
    assert chunk_reader.read("documents").count() == 2


def test_append_refuses_to_mix_representations(spark, tmp_path):
    """Appending chunked rows onto plain dirs (or the reverse) raises
    instead of silently corrupting later reads."""
    import pytest

    rows = [("d1", 0, [("text", "tiny", None, 0)])]
    plain = SnapshotStore(spark, str(tmp_path / "s"))
    plain.commit(epoch=0, append={"documents": _docs(spark, rows)})
    migrated = SnapshotStore(spark, str(tmp_path / "s"), chunk_tables=CHUNK_CFG)
    with pytest.raises(ValueError, match="mix representations"):
        migrated.commit(epoch=1, append={"documents": _docs(spark, rows)})
    # replace= is the sanctioned migration: full swap may change shape
    migrated.commit(epoch=1, replace={"documents": _docs(spark, rows)})
    assert migrated.read("documents").count() == 1
    # ...after which a plain append is the mismatch and raises
    back = SnapshotStore(spark, str(tmp_path / "s"))
    with pytest.raises(ValueError, match="mix representations"):
        back.commit(epoch=2, append={"documents": _docs(spark, rows)})


def test_chunk_key_is_injective_for_hostile_ids(spark, tmp_path):
    """Distinct id tuples stay distinct documents even when a separator
    byte inside one id would make their concatenation collide, and when
    an id column is NULL (concat_ws would skip it)."""
    spans = [("text", "z" * 90, None, 0)]
    rows = [
        ("a\x1f0", 1, spans),   # concat_ws('\x1f') of these two collides:
        ("a", None, spans),     # 'a\x1f0\x1f1' vs 'a' + skipped NULL...
        ("a\x1f0\x1f1", None, spans),  # ...vs this literal id
    ]
    store = SnapshotStore(spark, str(tmp_path), chunk_tables=CHUNK_CFG)
    store.commit(epoch=0, append={"documents": _docs(spark, rows)})
    out = store.read("documents").collect()
    assert len(out) == 3
    assert all(len(r["spans"]) == 1 for r in out)
