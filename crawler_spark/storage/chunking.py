"""K2 large-document path: span-array chunking + reassembly.

The reference's blob store routes documents by serialized size
(ghcrawler/providers/storage/storageDocStore.js:46-58): ≤100 MB uploads
atomically in one call; larger documents stream in 8 MiB blocks. The
Spark-native analogue keeps a document's interleaved span array row-bounded:
a row whose spans exceed `max_bytes` is split into multiple chunk rows of
~`block_bytes` each (whole spans only — a block boundary rounds up to the
next span; a span larger than a block ends its chunk, and subsequent spans
start a new one), while small documents stay one atomic row.
`reassemble_documents` inverts it exactly.

The atomic path (≤100 MB — the overwhelming majority) is a narrow
projection: one `aggregate` fold sums span bytes, no shuffle. Only
oversized documents take the split path: posexplode → running byte sum
via a per-document window → block assignment → regroup. That keeps the
split cost O(spans log spans) per oversized document (the window's
per-partition sort) instead of the O(spans²) an array-fold prefix sum
would cost in Catalyst's immutable-array model, and the shuffle it adds
is proportional to the oversized slice only — at 10^10 docs the >100 MB
tail is what must never hit a single parquet row-group / shuffle block,
and it is exactly and only that tail that pays the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ATOMIC_MAX_BYTES = 100 << 20  # storageDocStore.js:47 SIZE_THRESHOLD
STREAM_BLOCK_BYTES = 8 << 20  # storageDocStore.js:55 uploadStream(_, 8<<20, 5)


def span_bytes(s: Column) -> Column:
    """Deterministic per-span byte measure (reference measures
    `JSON.stringify(document).length`; this uses explicit field arithmetic
    so the DuckDB oracle can reproduce it without JSON-escaping drift):
    payload octets + 16 bytes of fixed framing (offset int + kind/ref
    delimiters). All three payload fields are null-coalesced so the measure
    is total: a NULL anywhere would poison the document's aggregate byte
    total and silently drop the row from both routing branches."""
    return (
        F.octet_length(F.coalesce(s["kind"], F.lit("")))
        + F.octet_length(F.coalesce(s["text"], F.lit("")))
        + F.octet_length(F.coalesce(s["media_ref"], F.lit("")))
        + F.lit(16)
    ).cast("long")


def chunk_document_spans(
    docs: DataFrame,
    max_bytes: int = ATOMIC_MAX_BYTES,
    block_bytes: int = STREAM_BLOCK_BYTES,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """One row per (document, chunk): `(id, chunk_seq, n_chunks, spans)`.

    Documents whose total span bytes ≤ `max_bytes` take the atomic path —
    exactly one chunk. Larger documents are greedily packed: a span goes
    to chunk ``floor(bytes_before_it / block_bytes)`` and chunk ids are
    then renumbered densely, so `chunk_seq` is always 0..n_chunks-1 and
    ordered by span position. Spans keep their original relative order;
    other columns are dropped (chunk rows are a storage representation,
    not a query surface).

    Plan shape: the atomic/split branches each scan `docs` and evaluate
    the size fold, i.e. a file-backed input is read twice (no common
    Exchange, so Catalyst cannot reuse the scan). That is a deliberate
    trade: the single-scan alternatives are strictly worse — a full-table
    repartition to force ReuseExchange shuffles every span once, and an
    Arrow `mapInPandas` round-trips every span through Python — while a
    second pruned columnar scan costs only the re-read of (id, spans).
    Callers chunking an EXPENSIVE non-file source (a long derivation)
    should persist/localCheckpoint it first.
    """
    # a NULL spans ARRAY (vs NULL span fields, which span_bytes coalesces)
    # would make _total NULL and the row fail BOTH routing filters —
    # silently dropping the document; coalesce the array itself to empty
    spans_type = docs.schema[spans_col].dataType.simpleString()
    spans = F.coalesce(F.col(spans_col), F.array().cast(spans_type))
    sizes = F.transform(spans, span_bytes)
    total = F.aggregate(sizes, F.lit(0).cast("long"), lambda a, x: a + x)
    base = docs.select(F.col(id_col), spans.alias(spans_col)).withColumn("_total", total)

    # atomic path: one fold over the span array, narrow, no shuffle
    atomic = base.filter(F.col("_total") <= F.lit(max_bytes)).select(
        F.col(id_col),
        F.lit(0).alias("chunk_seq"),
        F.lit(1).alias("n_chunks"),
        F.col(spans_col),
    )

    # split path (oversized tail only): explode, assign each span to the
    # block its first byte lands in via a per-document running sum —
    # linear per document, never an array-fold prefix (which copies the
    # accumulated array per element: O(spans²) in Catalyst)
    w_seq = Window.partitionBy(id_col).orderBy("_pos")
    exploded = (
        base.filter(F.col("_total") > F.lit(max_bytes))
        .select(F.col(id_col), F.posexplode(spans_col).alias("_pos", "_s"))
        .withColumn(
            "_before",
            F.coalesce(
                F.sum(span_bytes(F.col("_s"))).over(
                    w_seq.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_raw", F.floor(F.col("_before") / F.lit(block_bytes)))
    )
    grouped = exploded.groupBy(id_col, "_raw").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_s")))),
            lambda p: p["_s"],
        ).alias(spans_col)
    )
    # dense renumber (a span wider than a block skips raw ids)
    split = (
        grouped.withColumn(
            "chunk_seq",
            (F.row_number().over(Window.partitionBy(id_col).orderBy("_raw")) - 1),
        )
        .withColumn("n_chunks", F.count(F.lit(1)).over(Window.partitionBy(id_col)).cast("int"))
        .select(id_col, "chunk_seq", "n_chunks", spans_col)
    )
    return atomic.unionByName(split)


def reassemble_documents(
    chunks: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Exact inverse of `chunk_document_spans`: `(id, spans)` with the
    original span order (collect_list order is nondeterministic, so the
    sort key is the explicit chunk_seq, never partition order)."""
    return chunks.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("chunk_seq"), F.col(spans_col)))),
                lambda c: c[spans_col],
            )
        ).alias(spans_col)
    )


def span_bytes_py(s: dict) -> int:
    """Pure-Python mirror of `span_bytes` — the single source of the
    'payload octets + 16 framing' measure for parity tests (the SQL oracle
    inlines the same arithmetic, cited here)."""
    return (
        len((s.get("kind") or "").encode())
        + len((s.get("text") or "").encode())
        + len((s.get("media_ref") or "").encode())
        + 16
    )


def chunk_spans_py(
    spans: list[dict], max_bytes: int = ATOMIC_MAX_BYTES, block_bytes: int = STREAM_BLOCK_BYTES
) -> list[list[dict]]:
    """Pure-Python mirror of `chunk_document_spans` for parity tests."""
    spans = spans if spans is not None else []  # mirror the NULL-array coalesce
    sizes = [span_bytes_py(s) for s in spans]
    if sum(sizes) <= max_bytes:
        return [list(spans)]
    out: dict[int, list[dict]] = {}
    acc = 0
    for s, z in zip(spans, sizes):
        out.setdefault(acc // block_bytes, []).append(s)
        acc += z
    return [out[k] for k in sorted(out)]
