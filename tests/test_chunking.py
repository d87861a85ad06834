"""K2 large-document chunking (storageDocStore.js:46-58 analogue):
atomic-vs-stream routing, greedy block packing, exact reassembly, and the
round trip through the snapshot store."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from crawler_spark.storage.chunking import (
    chunk_document_spans,
    chunk_spans_py,
    reassemble_documents,
    span_bytes,
    span_bytes_py,
)

SPAN_SCHEMA = "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>"


def _rand_spans(rng: random.Random, n: int) -> list:
    out = []
    for i in range(n):
        if rng.random() < 0.3:
            out.append(("media", None, f"sha256:{rng.randrange(16**8):08x}", i))
        else:
            out.append(("text", "x" * rng.randrange(0, 200), None, i))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(42)
    rows = [(f"d{i:03d}", _rand_spans(rng, rng.randrange(0, 40))) for i in range(60)]
    return spark.createDataFrame(rows, SPAN_SCHEMA), rows


def test_chunk_assignment_matches_python_mirror(docs):
    df, rows = docs
    got = {}
    for r in chunk_document_spans(df, max_bytes=512, block_bytes=256).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_seq"], r["n_chunks"], [tuple(s) for s in r["spans"]])
        )
    for doc_id, spans in rows:
        want = chunk_spans_py(
            [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in spans],
            max_bytes=512,
            block_bytes=256,
        )
        g = sorted(got.get(doc_id, []))
        assert [c for c, _, _ in g] == list(range(len(want))), doc_id  # dense 0..n-1
        assert all(n == len(want) for _, n, _ in g), doc_id
        assert [
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in w] for w in want
        ] == [c for _, _, c in g], doc_id


def test_atomic_path_below_threshold(docs):
    df, rows = docs
    # every generated doc is far below the real 100 MB threshold
    out = chunk_document_spans(df).collect()
    assert len(out) == len(rows)
    assert all(r["chunk_seq"] == 0 and r["n_chunks"] == 1 for r in out)


def test_block_packing_bounds(spark):
    # every chunk's spans START within one block-sized byte window (the
    # stream rule: a span goes to the block its first byte lands in), so a
    # chunk never exceeds block + its own final span; concatenation in
    # chunk_seq order is the original span sequence
    rng = random.Random(7)
    spans = _rand_spans(rng, 500)
    df = spark.createDataFrame([("big", spans)], SPAN_SCHEMA)
    out = sorted(
        chunk_document_spans(df, max_bytes=1024, block_bytes=1024).collect(),
        key=lambda r: r["chunk_seq"],
    )
    assert len(out) > 1

    def z(s):
        return span_bytes_py({"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]})

    for r in out:
        chunk_bytes = sum(z(s) for s in r["spans"])
        assert chunk_bytes <= 1024 + z(r["spans"][-1])
        # all spans of a chunk start in the same block
        start = 0
        starts = []
        for s in r["spans"]:
            starts.append(start)
            start += z(s)
        assert max(starts) - min(starts) < 1024
    flat = [tuple(s) for r in out for s in r["spans"]]
    assert flat == [tuple(s) for s in spans]


def test_oversized_single_span_gets_own_chunk(spark):
    rows = [("d", [("text", "a" * 5000, None, 0), ("text", "b", None, 1), ("text", "c" * 5000, None, 2)])]
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    out = sorted(
        chunk_document_spans(df, max_bytes=100, block_bytes=1000).collect(),
        key=lambda r: r["chunk_seq"],
    )
    # span0 fills chunk0 past several blocks; span1+span2 start the next
    assert [len(r["spans"]) for r in out] == [1, 2]
    assert out[0]["spans"][0]["text"].startswith("a")


def test_roundtrip_identity(docs):
    df, rows = docs
    chunks = chunk_document_spans(df, max_bytes=512, block_bytes=256)
    back = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in reassemble_documents(chunks).collect()
    }
    assert back == {doc_id: [tuple(s) for s in spans] for doc_id, spans in rows}


def test_roundtrip_through_snapshot_store(spark, docs, tmp_path):
    from crawler_spark.storage.snapshots import SnapshotStore

    df, rows = docs
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit(0, {"doc_chunks": chunk_document_spans(df, max_bytes=512, block_bytes=256)})
    back = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in reassemble_documents(store.read("doc_chunks")).collect()
    }
    assert back == {doc_id: [tuple(s) for s in spans] for doc_id, spans in rows}


def test_span_bytes_is_payload_plus_framing(spark):
    df = spark.createDataFrame(
        [("d", [("text", "héllo", None, 0), ("media", None, "ref12", 1)])], SPAN_SCHEMA
    )
    got = df.select(F.transform("spans", span_bytes).alias("z")).collect()[0]["z"]
    assert got == [4 + 6 + 0 + 16, 5 + 0 + 5 + 16]  # é is 2 octets


def test_null_payload_fields_never_drop_a_document(spark):
    # a NULL kind/text/media_ref must not poison the byte total: the row
    # routes normally instead of failing both branch filters silently
    rows = [
        ("ok", [("text", "abc", None, 0)]),
        ("null_kind", [(None, "abc", None, 0), ("text", "x" * 600, None, 1)]),
    ]
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    out = chunk_document_spans(df, max_bytes=500, block_bytes=250)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {"ok", "null_kind"}
    assert len(by_doc["ok"]) == 1 and by_doc["ok"][0]["n_chunks"] == 1
    # null_kind totals 16 + 3+16+600 > 500 -> split path, spans preserved
    spans_back = [
        tuple(s)
        for r in sorted(by_doc["null_kind"], key=lambda r: r["chunk_seq"])
        for s in r["spans"]
    ]
    assert spans_back == [tuple(s) for s in rows[1][1]]


def test_null_spans_array_never_drops_a_document(spark):
    # a NULL spans ARRAY (not just null fields) must also route: it
    # coalesces to empty, totals 0 bytes, and takes the atomic path —
    # previously _total went NULL and the row failed both branch filters
    df = spark.createDataFrame([("present", [("text", "abc", None, 0)]), ("absent", None)], SPAN_SCHEMA)
    out = {r["doc_id"]: r for r in chunk_document_spans(df, max_bytes=500, block_bytes=250).collect()}
    assert set(out) == {"present", "absent"}
    assert out["absent"]["n_chunks"] == 1 and out["absent"]["spans"] == []
    assert chunk_spans_py(None, max_bytes=500, block_bytes=250) == [[]]  # mirror agrees
