"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata, processed through Arrow-batched
``mapInPandas`` pipelines.

This extends the reference's attachment model — media blobs stored by
sha256 token next to the document (/root/reference/providers/process/
abstractProcessor.js:97-113, providers/store/attachmentStore.js:16-41) —
into the operations a training-data pipeline needs at 100 TB: decode and
feature-extract.

The decode kernels themselves are STUBBED (image/audio codecs are not in
this container): ``decode_fn='fake'`` produces deterministic pseudo
metadata derived from the bytes' sha256 — so every piece of *Spark*
machinery (schemas, Arrow batch shapes, partitioning, UDF signatures,
pushdown-friendly column layout) is real and tested, and swapping in a
real codec is a one-function change (``decode_fn='pillow'`` raises
NotImplementedError with the integration point documented).

Scale notes: media bytes ride in their own column so Parquet column
pruning skips them unless a stage touches them; mapInPandas streams
Arrow batches (bounded by spark.sql.execution.arrow.maxRecordsPerBatch)
— a 100 MB video row never materializes more than batch-size rows per
task; repartition before decode spreads byte-heavy rows across
executors (row-count AQE coalescing underestimates byte skew).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),  # 'image' | 'audio' | 'video'
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),  # fixed-dim embedding
    ]
)

FEATURE_DIM = 16


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Project the crawl ``documents(doc_id, spans)`` table's media spans
    into the media table shape; content bytes synthesized deterministically
    from the media_ref (stand-in for the attachment blob store)."""
    media = documents.select(
        F.col("doc_id"), F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media")
    return media.select(
        F.col("s.media_ref").alias("media_ref"),
        F.element_at(F.split(F.col("s.media_ref"), ":"), -1).substr(1, 1).alias("_sel"),
        F.encode(F.concat(F.lit("blob:"), F.col("s.media_ref")), "utf-8").alias("content"),
        F.create_map(F.lit("doc_id"), F.col("doc_id"),
                     F.lit("offset"), F.col("s.offset").cast("string")).alias("meta"),
    ).withColumn(
        "media_type",
        F.when(F.col("_sel").isin("0", "1", "2", "3", "4", "5"), "image")
        .when(F.col("_sel").isin("6", "7", "8", "9", "a"), "audio")
        .otherwise("video"),
    ).select("media_ref", "media_type", "content", "meta")


def _fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic pseudo-decode: every output field derives from
    sha256(content). Vectorization: hashing is per-row C code (hashlib);
    the feature matrix is one numpy op over the digest bytes."""
    digests = [hashlib.sha256(bytes(c)).digest() for c in pdf["content"]]
    dig = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(len(digests), 32)
    width = (dig[:, 0].astype(np.int32) % 64 + 1) * 16
    height = (dig[:, 1].astype(np.int32) % 64 + 1) * 16
    n_frames = np.where(
        pdf["media_type"].to_numpy() == "video", dig[:, 2].astype(np.int32) % 300 + 1, 1
    )
    sample_rate = np.where(
        pdf["media_type"].to_numpy() == "audio", 8000 * (dig[:, 3].astype(np.int32) % 6 + 1), 0
    )
    feat = (dig[:, :FEATURE_DIM].astype(np.float32) - 127.5) / 127.5
    return pd.DataFrame(
        {
            "media_ref": pdf["media_ref"],
            "media_type": pdf["media_type"],
            "content_sha256": [d.hex() for d in digests],
            "n_bytes": [len(bytes(c)) for c in pdf["content"]],
            "width": width,
            "height": height,
            "n_frames": n_frames,
            "sample_rate": sample_rate,
            "feature": list(feat),
        }
    )


def decode_media(df: DataFrame, decode_fn: str = "fake") -> DataFrame:
    """Decode + feature-extract media rows via mapInPandas (Arrow batch
    streaming; bytes never transit the driver).

    decode_fn='fake'   → deterministic stub (sandbox; see module docstring)
    decode_fn='pillow' → integration point for a real image codec
    """
    if decode_fn == "pillow":
        raise NotImplementedError(
            "real image decode: replace _fake_decode_batch with a "
            "PIL.Image.open(io.BytesIO(...)) loop (or pyarrow-plasma-backed "
            "batch decode); identical schema, identical mapInPandas wiring"
        )
    if decode_fn != "fake":
        raise ValueError(f"unknown decode_fn {decode_fn!r}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _fake_decode_batch(pdf)

    from crawler_spark.operators.skew import spread_small_input

    return spread_small_input(df).mapInPandas(gen, DECODED_SCHEMA)
