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
