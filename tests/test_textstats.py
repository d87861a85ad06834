"""Text-analysis operator tests: language ID, quality features, token
counting, fingerprints — against hand-computed and Python oracles.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_features,
    token_count,
    winnowing_fingerprints,
)

SAMPLES = [
    (1, "The cat sat on the mat and it was happy in the sun."),
    (2, "Der Hund ist nicht auf der Couch und das ist gut."),
    (3, "Le chat est dans la maison et les oiseaux sont pour le jardin."),
    (4, "El perro es una mascota que vive en la casa por los parques."),
    (5, "xyzzy qwerty 12345 !!!"),
    (6, ""),
]


@pytest.fixture(scope="module")
def sample_df(spark):
    return spark.createDataFrame(SAMPLES, "id long, text string")


def test_lang_id(sample_df):
    got = {r["id"]: r["lang"] for r in sample_df.select("id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "es"
    assert got[5] == "und" and got[6] == "und"


def test_token_count(spark):
    df = spark.createDataFrame(
        [(1, "a b  c"), (2, ""), (3, "   "), (4, "one"), (5, "tab\tand\nnewline")],
        "id long, text string",
    )
    got = {r["id"]: r["n"] for r in df.select("id", token_count(F.col("text")).alias("n")).collect()}
    assert got == {1: 3, 2: 0, 3: 0, 4: 1, 5: 3}


def test_quality_features_ranges_and_ordering(sample_df):
    rows = {r["id"]: r for r in quality_features(sample_df, "id", "text").collect()}
    for r in rows.values():
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
    # linguistic English text scores above symbol soup and empty
    assert rows[1]["quality_score"] > rows[5]["quality_score"] > 0
    assert rows[6]["quality_score"] == pytest.approx(0.3)  # only the no-caps credit
    assert rows[6]["n_tokens"] == 0 and rows[6]["n_chars"] == 0
    # hand check one row: punct ratio of sample 5 = 3 punct ('!!!') / 22 chars
    assert rows[5]["punct_ratio"] == pytest.approx(3 / 22, abs=1e-6)


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "HELLO-WORLD"), (4, "goodbye world")],
        "id long, text string",
    )
    fps = {r["id"]: r["fp"] for r in df.select("id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]  # case/punct/whitespace-insensitive
    assert fps[1] != fps[4]


def test_winnowing_fingerprints_properties(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base.upper()), (3, "totally unrelated words here friend")],
        "id long, text string",
    )
    got = {r["id"]: r["fingerprints"] for r in winnowing_fingerprints(df, "id", "text").collect()}
    assert got[1] == got[2]  # normalization-invariant
    assert got[1] != got[3]
    assert got[1] == sorted(set(got[1]))  # distinct + sorted
    # winnowing selects ≤ one fingerprint per window → far fewer than k-grams
    assert 0 < len(got[1]) < len(base)


def test_quality_features_on_testdata(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = quality_features(docs, "doc_id", "text")
    assert prof.count() == docs.count()
    # n_chars agrees with the table's own n_chars column
    joined = prof.join(
        docs.select(F.col("doc_id").alias("id"), F.col("n_chars").alias("n_chars_ref")), "id"
    )
    assert joined.filter(F.col("n_chars") != F.col("n_chars_ref")).count() == 0
