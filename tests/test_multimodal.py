"""Multimodal pipeline tests: the Spark plumbing (schemas, Arrow batch
shapes, mapInPandas wiring) is real; the decode kernel is the
deterministic stub (no codecs in this container).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.data.generators import gen_documents_spans
from crawler_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_media,
    media_from_documents,
)


@pytest.fixture(scope="module")
def media_df(spark):
    docs = gen_documents_spans(spark, 200, seed=5)
    return media_from_documents(docs).cache()


@pytest.fixture(scope="module")
def decoded(media_df):
    return decode_media(media_df).cache()


def test_media_projection_schema_and_types(media_df):
    assert set(media_df.columns) == {"media_ref", "media_type", "content", "meta"}
    types = {r["media_type"] for r in media_df.select("media_type").distinct().collect()}
    assert types <= {"image", "audio", "video"} and len(types) >= 2
    row = media_df.first()
    assert isinstance(row["content"], (bytes, bytearray))
    assert row["meta"]["doc_id"].startswith("cd:/")


def test_decode_is_deterministic_and_complete(media_df, decoded):
    n = media_df.count()
    assert decoded.count() == n
    a = {r["media_ref"]: (r["content_sha256"], r["width"], r["height"]) for r in decoded.collect()}
    b = {r["media_ref"]: (r["content_sha256"], r["width"], r["height"]) for r in decode_media(media_df).collect()}
    assert a == b


def test_decoded_fields_shape(decoded):
    for r in decoded.limit(50).collect():
        assert len(r["content_sha256"]) == 64
        assert r["n_bytes"] > 0
        assert 16 <= r["width"] <= 1024 and r["width"] % 16 == 0
        assert len(r["feature"]) == FEATURE_DIM
        assert all(-1.0 <= f <= 1.0 for f in r["feature"])
        if r["media_type"] == "video":
            assert 1 <= r["n_frames"] <= 300
        else:
            assert r["n_frames"] == 1
        if r["media_type"] == "audio":
            assert r["sample_rate"] in (8000, 16000, 24000, 32000, 40000, 48000)
        else:
            assert r["sample_rate"] == 0


def test_pillow_path_is_marked_unimplemented(media_df):
    with pytest.raises(NotImplementedError):
        decode_media(media_df, decode_fn="pillow")


def test_feature_table_feeds_similarity(spark, media_df):
    docs = gen_documents_spans(spark, 100, seed=5)
    feats = decode_media(media_from_documents(docs))
    row = feats.first()
    assert len(row["feature"]) == FEATURE_DIM
    # features are a valid embedding column for the ANN operators
    from crawler_spark.operators.similarity import cosine_topk

    renamed = feats.select(F.col("media_ref").alias("vec_id"), F.col("feature").alias("embedding"))
    q = [0.1] * FEATURE_DIM
    assert cosine_topk(renamed, q, k=3).count() == 3
