"""Embedding similarity search: brute-force cosine top-k (exact baseline)
plus two approximate scale paths — random-hyperplane LSH bucketing and an
IVF-style coarse quantizer. Training-data-pipeline layer (embedding-cosine
near-dup, ANN retrieval) over an ``(id, embedding: array<float>)`` table.

Scale design:

* brute force — a single projection (zip_with dot product) + top-k; exact,
  O(N·d), the correctness oracle. At 100 TB this is the per-partition
  re-rank primitive, not the global search.
* LSH — `n_planes` deterministic hyperplanes (components derived from
  xxhash64(dim, plane) — no stored model, reproducible everywhere); sign
  pattern = bucket id. Near-dup pairs are compared only within a shared
  bucket → candidate pairs shrink by ~2^n_planes; shuffle keys are
  bucket ids (uniform by construction).
* IVF — coarse centroids picked deterministically (every (N/m)-th vector
  by id — seeded sampling without an iterative k-means fit, good enough
  for a quantizer), vectors assigned to nearest centroid (broadcast
  centroid table, map-side argmin — no shuffle), probe the `n_probe`
  nearest centroid cells at query time and brute-force only those.

Everything is JVM-side `zip_with`/`aggregate` arithmetic — no Python in
the distance hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential double accumulation —
    deterministic, matches the DuckDB list oracle exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ---------------------------------------------------------------------------
# exact brute-force top-k
# ---------------------------------------------------------------------------


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector. One projection +
    a global top-k (Spark's orderBy+limit = per-partition top-k then a
    single-reduce merge — no full sort shuffle)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    sim = cosine(F.col(vec_col), q)
    return (
        df.select(F.col(id_col).alias("id"), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("id"))
        .limit(k)
    )


def pairwise_cosine_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: only pairs
    sharing a hyperplane-sign bucket in AT LEAST ONE of `n_tables`
    independent tables are compared exactly. Single-table collision
    probability is Charikar's SimHash bound P = (1 - θ/π)^n_planes;
    multi-table recall is 1 - (1 - P)^n_tables — the standard
    amplification that makes bucketing usable as a near-dup filter, not
    just an ANN probe. Join key is (table, bucket): uniform by
    construction, so the shuffle has no hot keys; candidate pairs are
    deduped before the exact-cosine verify."""
    from crawler_spark.operators.skew import spread_small_input

    df = spread_small_input(df)
    dim = _vec_dim(df, vec_col)
    if dim is None:
        return df.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine_sim"),
        ).limit(0)
    bucketed = df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(
            F.array(*[
                _lsh_bucket_expr_lit(
                    F.col(vec_col), _plane_matrix(df.sparkSession, dim, n_planes, seed=t)
                )
                for t in range(n_tables)
            ])
        ).alias("table", "bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("_va"),
            F.col(f"b.{vec_col}").alias("_vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = cosine(F.col("_va"), F.col("_vb"))
    return (
        pairs.select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# LSH: deterministic random-hyperplane sign buckets
# ---------------------------------------------------------------------------


def _plane_component(plane: int, dim_idx: Column, seed: int = 0) -> Column:
    """Pseudo-random hyperplane component in [-1, 1): derived from
    xxhash64(dim, plane[, seed]) — the 'model' is a formula, not a table.
    seed=0 keeps the round-1 plane family bit-identical; nonzero seeds
    derive independent plane sets for multi-table LSH."""
    h = F.xxhash64(dim_idx, F.lit(plane)) if seed == 0 else F.xxhash64(dim_idx, F.lit(plane), F.lit(seed))
    return (F.pmod(h, F.lit(2_000_001)) - F.lit(1_000_000)) / F.lit(1_000_000.0)


def _lsh_bucket_expr(vec: Column, n_planes: int = 8, seed: int = 0) -> Column:
    """The n_planes-bit sign pattern of projections onto the deterministic
    hyperplanes, as a pure column expression (works for any row-varying
    dimension; the hot paths use the literal-matrix form below)."""
    vec_i = F.zip_with(
        vec,
        F.sequence(F.lit(0), F.size(vec) - 1),
        lambda v, i: F.struct(v.alias("v"), i.alias("i")),
    )

    def _proj_merge(p: int):
        # closure factory: PySpark counts lambda params, so the plane index
        # must be captured, not passed as a default arg
        return lambda acc, s: acc + s["v"].cast("double") * _plane_component(p, s["i"], seed)

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(vec_i, F.lit(0.0), _proj_merge(p))
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


_PLANE_CACHE: dict[tuple[int, int, int], list[list[float]]] = {}


def _plane_matrix(spark, dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """[plane][dim] hyperplane components, evaluated ONCE with the same
    Spark-side hash formula (`_plane_component` on a tiny range df) and
    collected — so bucket values stay bit-identical to the expression
    form while the per-row work drops to plain multiply-adds. Memoized:
    one sub-second driver job per (dim, n_planes, seed) per process."""
    key = (dim, n_planes, seed)
    if key not in _PLANE_CACHE:
        # cast to int: the expression form's dim index comes from
        # sequence(0, size-1) which is int-typed, and xxhash64 is
        # type-sensitive — a long index would hash differently
        i = F.col("id").cast("int")
        rows = (
            spark.range(dim)
            .select(*[_plane_component(p, i, seed).alias(f"p{p}") for p in range(n_planes)])
            .collect()
        )
        _PLANE_CACHE[key] = [[r[f"p{p}"] for r in rows] for p in range(n_planes)]
    return _PLANE_CACHE[key]


def _lsh_bucket_expr_lit(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket against a literal plane matrix: per plane, one
    zip_with dot product of the vector attribute with a literal array —
    no per-element hashing, no re-evaluated subtrees (HOF lambdas only
    reference `vec`, which callers pass as a materialized column)."""
    bucket = F.lit(0).cast("long")
    for p, comps in enumerate(planes):
        arr = F.array(*[F.lit(float(c)) for c in comps])
        proj = F.aggregate(
            F.zip_with(vec, arr, lambda v, c: v.cast("double") * c),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row is not None else None


def with_lsh_bucket(df: DataFrame, n_planes: int = 8, vec_col: str = "embedding", seed: int = 0) -> DataFrame:
    """Adds `bucket: long` — literal-plane fast path when the dimension
    is uniform (one tiny driver job, memoized); falls back to the generic
    expression for empty inputs."""
    dim = _vec_dim(df, vec_col)
    if dim is None:
        return df.withColumn("bucket", _lsh_bucket_expr(F.col(vec_col), n_planes, seed))
    planes = _plane_matrix(df.sparkSession, dim, n_planes, seed)
    return df.withColumn("bucket", _lsh_bucket_expr_lit(F.col(vec_col), planes))


# ---------------------------------------------------------------------------
# IVF: deterministic coarse quantizer + n_probe search
# ---------------------------------------------------------------------------


def ivf_index(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) — centroids are the `n_cells` vectors with
    the smallest xxhash64(id): a deterministic uniform sample selected by
    orderBy(hash).limit(n_cells), which Spark executes as per-partition
    top-k + a single tiny merge (TakeOrderedAndProject) — no global sort,
    no window at all, scale-safe 'train' step. Cell ids are assigned
    driver-side on the collected ≤n_cells sample. Every vector is then
    assigned to its nearest centroid via a literal-centroid argmax inside
    whole-stage codegen, map-side only."""
    sample_rows = (
        df.select(F.col(id_col), F.col(vec_col), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h", F.col(id_col))
        .limit(n_cells)
    ).collect()  # ≤ n_cells rows — the only driver materialization
    spark = df.sparkSession
    vec_type = df.schema[vec_col].dataType.simpleString()
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(sample_rows)],
        "cell_id int, centroid array<double>",
    ).withColumn("centroid", F.col("centroid").cast(vec_type))
    # assignment is a pure projection: the centroid table is tiny (n_cells
    # rows), so materialize it into a literal and take the per-row argmax
    # inside whole-stage codegen — zero shuffle, zero join, zero window,
    # unlike a crossJoin+groupBy(id) which would reshuffle N×n_cells rows
    cells = []
    for cell_id, r in enumerate(sample_rows):
        cvec = F.array(*[F.lit(float(x)) for x in r[vec_col]])
        sim = dot(F.col(vec_col), cvec) / (l2_norm(F.col(vec_col)) * l2_norm(cvec))
        cells.append(F.struct(sim.alias("s"), F.lit(-cell_id).alias("t"), F.lit(cell_id).alias("c")))
    assigned = df.select(
        F.col(id_col), F.col(vec_col),
        F.array_max(F.array(*cells))["c"].alias("cell_id"),
    )
    return centroids, assigned


def ivf_ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest cells, brute-force within them."""
    centroids, assigned = ivf_index(df, n_cells, id_col, vec_col)
    q = F.array(*[F.lit(float(x)) for x in query])
    probe_cells = [
        r["cell_id"]
        for r in centroids.select(
            "cell_id", (dot(F.col("centroid"), q) / (l2_norm(F.col("centroid")) * l2_norm(q))).alias("s")
        )
        .orderBy(F.col("s").desc(), F.col("cell_id"))
        .limit(n_probe)
        .collect()
    ]
    cand = assigned.filter(F.col("cell_id").isin(probe_cells))
    sim = cosine(F.col(vec_col), q)
    return (
        cand.select(F.col(id_col).alias("id"), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("id"))
        .limit(k)
    )
