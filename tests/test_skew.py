"""Skew-handling operators: salted two-phase top-k and the dense global
sequence must EXACTLY reproduce the plain-window results on skewed
inputs — they are physical-plan optimizations, not approximations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawler_spark.operators.skew import salted_topk_per_group


@pytest.fixture(scope="module")
def skewed(spark):
    # Zipf-ish: host 0 owns ~60% of rows; unique seq per row
    return spark.range(20_000).select(
        F.col("id").alias("seq"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(10)) < 6, 0)
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(50)))
        .cast("int")
        .alias("host"),
    ).cache()


@pytest.mark.parametrize("k,n_salts", [(5, 4), (100, 16), (1, 2)])
def test_salted_topk_matches_plain_window(spark, skewed, k, n_salts):
    topk, overflow = salted_topk_per_group(
        skewed, ["host"], ["seq"], k, n_salts=n_salts, salt_on="seq"
    )
    w = Window.partitionBy("host").orderBy("seq")
    plain = skewed.withColumn("_rank", F.row_number().over(w))
    expected_top = {(r["host"], r["seq"], r["_rank"]) for r in plain.filter(F.col("_rank") <= k).collect()}
    got_top = {(r["host"], r["seq"], r["_rank"]) for r in topk.collect()}
    assert got_top == expected_top
    assert overflow.count() == skewed.count() - len(expected_top)
    # topk ∪ overflow is a partition of the input
    assert topk.count() + overflow.count() == skewed.count()


def test_dense_global_seq_matches_single_window(spark):
    """dense_global_seq == row_number().over(Window.orderBy(...)) - 1 +
    start, on multi-partition unordered input with composite keys."""
    from crawler_spark.operators.skew import dense_global_seq

    df = (
        spark.range(0, 10_000, 1, 16)
        .select(
            (F.xxhash64("id") % 97).alias("grp"),
            F.xxhash64("id", F.lit(1)).alias("sub"),
            F.col("id").alias("payload"),
        )
    )
    got = dense_global_seq(df, ["grp", "sub"], "seq", start=500)
    rows = got.collect()
    assert len(rows) == 10_000
    by_key = sorted(rows, key=lambda r: (r["grp"], r["sub"]))
    assert [r["seq"] for r in by_key] == list(range(500, 10_500))
    # payload rides along untouched, no helper columns leak
    assert set(got.columns) == {"grp", "sub", "payload", "seq"}


def test_dense_global_seq_expression_keys_and_overwrite(spark):
    """Column-expression order keys; seq_col may overwrite one of the
    ordering columns (the publish_local shape)."""
    from crawler_spark.operators.skew import dense_global_seq

    df = spark.createDataFrame(
        [("later", 7), ("soon", 3), ("normal", 5), ("soon", 1), ("later", 2)],
        "queue string, enqueued_seq long",
    )
    qorder = F.when(F.col("queue") == "soon", 0).when(F.col("queue") == "normal", 1).otherwise(2)
    out = dense_global_seq(df, [qorder, F.col("enqueued_seq")], "enqueued_seq", start=100)
    got = sorted((r["queue"], r["enqueued_seq"]) for r in out.collect())
    assert got == [("later", 103), ("later", 104), ("normal", 102), ("soon", 100), ("soon", 101)]
