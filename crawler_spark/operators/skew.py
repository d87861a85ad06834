"""Skew handling: salted two-phase top-k per group, a dense global
sequence without a single-partition sort, and a small-input spreader.

The politeness budget and FIFO ranking windows partition by `host` /
`(scope, queue)`. At 10^10 frontier rows a hot host (Zipf head) makes a
single window partition arbitrarily large — the classic straggler. The
standard fix (north rule: "hot-host salting"): split each group into
`n_salts` deterministic sub-partitions, take the per-salt top-k (correct
because the global top-k by any total order is a subset of the union of
per-salt top-k), then rank the ≤ k·n_salts survivors exactly.

Phase-1 partitions are (group, salt) — bounded at |group|/n_salts rows;
phase-2 partitions are (group) but hold at most k·n_salts rows. Both
windows therefore have bounded partition size regardless of skew.

The result is IDENTICAL to `row_number() OVER (PARTITION BY group ORDER
BY order)` filtered to ≤ k — verified by the engine parity tests, which
run the full crawl through this path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def spread_small_input(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the scan produced fewer partitions
    than the session's parallelism.

    CPU-heavy per-row pipelines (shingling, MinHash signatures, media
    decode) sit UPSTREAM of their first exchange, so they inherit the
    scan's parallelism — and a small parquet file is one split, i.e. one
    core doing all the work. This helper is a no-op whenever the input
    already has ≥ min_partitions splits (at corpus scale a scan has
    thousands), so it never coalesces and never adds a shuffle to a big
    input; for the small-file case it trades one cheap shuffle of the raw
    rows for full-cluster parallelism on the expensive projection.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    k: int,
    n_salts: int = 16,
    salt_on: str | None = None,
    rank_col: str = "_rank",
) -> tuple[DataFrame, DataFrame]:
    """(topk, overflow): `topk` carries `rank_col` = the exact global
    rank within its group (1-based, ≤ k); `overflow` is every other row
    (no rank — by construction it ranks > k).

    `salt_on`: column whose hash spreads rows across salts (must be
    ~unique per row; defaults to the first order column). The salt is
    derived, deterministic, and never leaves this function.
    """
    salt_src = salt_on or (order_cols[0] if isinstance(order_cols[0], str) else None)
    if salt_src is None:
        raise ValueError("salt_on required when order_cols[0] is an expression")
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)))

    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    phase1 = salted.withColumn("_r1", F.row_number().over(w1))
    survivors = phase1.filter(F.col("_r1") <= k)
    overflow1 = phase1.filter(F.col("_r1") > k).drop("_salt", "_r1")

    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    phase2 = survivors.withColumn(rank_col, F.row_number().over(w2)).drop("_salt", "_r1")
    topk = phase2.filter(F.col(rank_col) <= k)
    overflow2 = phase2.filter(F.col(rank_col) > k).drop(rank_col)
    return topk, overflow1.unionByName(overflow2)


def dense_global_seq(
    df: DataFrame,
    order_cols: list[Column | str],
    seq_col: str,
    start: int = 0,
) -> DataFrame:
    """Assign a dense 0..n-1 sequence (+`start`) in the global order of
    `order_cols` WITHOUT a single-partition window — the scalable form of
    `row_number().over(Window.orderBy(...))` for frontier enqueue seq
    assignment (queue tail order must match the reference's sequential
    push order exactly; `order_cols` must be a per-row total order, which
    the attenuation dedup guarantees upstream).

    Plan: range-repartition on the key (range partitioner assigns
    CONTIGUOUS key ranges to increasing partition ids), rank within each
    partition (bounded ~n/P rows per sort), count rows per partition
    (map-side-combined aggregate, P rows), turn counts into exclusive
    prefix offsets with a window over those P rows (trivially small),
    broadcast-join the offsets back. No driver action of its own — the
    range-partitioned batch materializes lazily (localCheckpoint, see
    below) at the caller's first action, so rank and offsets are
    guaranteed to read ONE partitioning.

    Scale: largest sort is one partition's slice; the only global
    structure is the P-row offset table. At 10^8-row enqueue batches with
    P=1024 that is ~10^5-row per-partition sorts plus a 1 KB broadcast —
    vs the old single-task 10^8-row sort.
    """
    okey = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # MATERIALIZED once (non-eager localCheckpoint): `part` feeds both the
    # local-rank and the offset-count subtrees, which column pruning makes
    # NON-identical — ReuseExchange cannot fire, so without this boundary
    # each subtree would run its own range shuffle with its own
    # RangePartitioner SAMPLING (seeded per RDD id). On inputs large
    # enough that the sampler no longer reads every row, the two
    # samplings can pick different partition boundaries, and offsets
    # would credit pid N with counts from a different row set than the
    # one local ranked there — duplicate/missing seq values. Tiny inputs
    # (exhaustively sampled) mask it; the checkpoint pins ONE
    # partitioning for both consumers at any scale.
    part = (
        df.repartitionByRange(*okey)
        .withColumn("_dgs_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local = part.withColumn(
        "_dgs_rank",
        F.row_number().over(Window.partitionBy("_dgs_pid").orderBy(*okey)),
    )
    offsets = (
        part.groupBy("_dgs_pid")
        .agg(F.count(F.lit(1)).alias("_dgs_cnt"))
        .withColumn(
            "_dgs_off",
            F.coalesce(
                F.sum("_dgs_cnt").over(
                    Window.orderBy("_dgs_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_dgs_pid", "_dgs_off")
    )
    return (
        local.join(F.broadcast(offsets), "_dgs_pid")
        .withColumn(
            seq_col,
            (F.col("_dgs_off") + F.col("_dgs_rank") - 1 + F.lit(start)).cast("long"),
        )
        .drop("_dgs_pid", "_dgs_rank", "_dgs_off")
    )
