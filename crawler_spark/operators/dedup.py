"""Corpus deduplication operators — the training-data-pipeline layer over
harvested documents (beyond the reference's per-URL dedup, which only
guards the frontier: request.js:117-121 / attenuatedQueue.js:36-69; a
100 TB text corpus also needs *content* dedup).

All operators take a generic ``(id_col, text_col)`` DataFrame so they run
both on the crawl ``documents`` table and on the driver's testdata.

Scale design notes (per operator):

* exact:   not here — textstats.fingerprint (md5 of the normalized
           token stream) is the exact-content key; q_dedup_fingerprint
           groups on it.
* n-gram Jaccard: explode(distinct shingles) self-join. The classic
           quadratic blowup is bounded by dropping ultra-common shingles
           (`max_shingle_freq`, a stop-shingle filter) — the same trick
           as stop-word removal in MinHashLSH implementations.
* MinHash: signatures are computed WITHOUT a shuffle — a per-row
           projection `array_min(transform(shingles, s → xxhash64(s, i)))`
           for each of the k hash seeds (whole-stage codegen, no explode).
           Only the LSH band join shuffles, keyed on (band_idx, band_hash).
* SimHash: same shape — per-row fingerprint projection, then a 4-chunk
           band join for hamming-distance candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / shingling (shared, deterministic, SQL-mirrorable)
# ---------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    """Lowercased word tokens; punctuation stripped. Mirrors the DuckDB
    oracle expression exactly (regexp_replace + split on spaces)."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", " ")
    return F.filter(F.split(cleaned, r" +"), lambda t: t != "")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over an ALREADY-MATERIALIZED token
    array column. `toks` must be an attribute (a column computed by a
    previous projection), never a raw `tokens(text)` expression: Spark
    inlines whatever expression tree a higher-order-function lambda
    references into the per-element evaluation, and HOFs are interpreted
    (no codegen subexpression elimination) — an inlined tokenizer would
    re-run regexp_replace+split once PER SHINGLE POSITION (measured ~50×
    per-doc blowup at sf0.1). Empty when the doc has fewer than n tokens
    (sequence() would otherwise run backwards — Spark descends when
    start > stop)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the token stream — convenience
    single-expression form for tiny fixtures/tests. Hot paths must use
    the two-stage tokenize-then-`shingles_from_tokens` shape instead
    (see that function's docstring for why)."""
    return shingles_from_tokens(tokens(text), n)


def _tokenized(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Shared shingle-pipeline prefix: cheap token-count filter at scan
    parallelism (pushdown-friendly — one tokenizer pass per doc), spread
    across the cluster, then ONE materialized tokenization. Downstream
    shingle/signature projections reference `_toks` as an attribute, so
    the tokenizer runs exactly once per surviving doc."""
    from crawler_spark.operators.skew import spread_small_input

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")).filter(
        F.size(tokens(F.col("_t"))) >= n
    )
    return spread_small_input(src).select("id", tokens(F.col("_t")).alias("_toks"))


# ---------------------------------------------------------------------------
# crawl-documents integration: spans table → deduped representative set
# ---------------------------------------------------------------------------


def doc_text(spans: Column) -> Column:
    """Canonical text of a crawl document: its text spans concatenated in
    offset order, newline-separated (media spans contribute nothing).
    Matches the simulator's `_doc_text_py` byte-for-byte."""
    txt = F.filter(spans, lambda s: s["kind"] == F.lit("text"))
    srt = F.array_sort(
        txt,
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    return F.concat_ws("\n", F.transform(srt, lambda s: s["text"]))


def dedup_documents(
    docs: DataFrame, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """Near-dup dedup over the engine's `documents` store table (the K1
    span log) — the training-data step composed with the crawl loop: the
    reference stops at per-URL dedup (request.js:117-121); a corpus kept
    for training also needs content-level dedup of what was harvested.

    Pipeline (every stage is the scale-audited operator it names):
      1. latest store row per doc_id (the table is an append log) — one
         max_by agg keyed on the uniform doc_id;
      2. span concat → text (`doc_text`), pure projection;
      3. exact n-gram Jaccard pairs ≥ threshold via the prefix-filtered
         AllPairs join (`ngram_jaccard_pairs_prefix`);
      4. connected components (`near_dup_clusters`); singletons coalesce
         to their own id;
      5. keep-best representative per cluster: longest text, ties →
         lexicographically-lowest doc_id. Window-free: a per-cluster
         (count, max-chars) agg + an equi-join back on
         (cluster_id, n_chars = rep_chars) + a min agg — string ids
         can't ride a single max_by struct, and near-dup clusters are
         small, so the extra uniform-keyed shuffle is cheap.

    Returns one row per document:
      (doc_id, cluster_id, n_chars, n_members, is_representative).
    """
    latest = docs.groupBy("doc_id").agg(
        F.max_by("spans", F.struct("epoch", "processed_at_epoch")).alias("spans")
    )
    corpus = latest.select(
        "doc_id", doc_text(F.col("spans")).alias("text")
    ).withColumn("n_chars", F.length("text"))
    pairs = ngram_jaccard_pairs_prefix(corpus, "doc_id", "text", n=n, threshold=threshold)
    clusters = near_dup_clusters(pairs)
    assigned = (
        corpus.join(clusters, corpus["doc_id"] == clusters["node"], "left")
        .select(
            "doc_id", "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    grp = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"), F.max("n_chars").alias("rep_chars")
    )
    reps = (
        assigned.join(grp, "cluster_id")
        .filter(F.col("n_chars") == F.col("rep_chars"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    # cluster tables are one row per cluster — O(corpus) rows, so these
    # stay ordinary uniform-keyed shuffle joins (NOT broadcast: at 10^10
    # docs the cluster side is nearly as large as the doc side)
    return (
        assigned.join(grp.select("cluster_id", "n_members"), "cluster_id")
        .join(reps, "cluster_id")
        .select(
            "doc_id", "cluster_id", "n_chars", "n_members",
            (F.col("doc_id") == F.col("rep_id")).alias("is_representative"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact near-dup, SQL-oracle-able)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All document pairs with n-gram Jaccard similarity ≥ threshold.

    explode(distinct shingles) → self-join on shingle → |A∩B| per pair →
    join per-doc shingle counts → J = inter / (|A|+|B|-inter).
    `max_shingle_freq` drops shingles appearing in more than that many
    docs before the join (stop-shingle guard against quadratic hot keys).
    """
    # materialize the COMPACT per-doc shingle arrays, not the explosion:
    # (a) the guarded plan is a diamond with four consumers (hot-list agg,
    # post-filter sizes, both self-join sides) and each would otherwise
    # re-run the tokenize + n-gram transform per document; (b) explode()
    # makes Catalyst infer a `size(sh) > 0` filter, and WITHOUT a cache
    # boundary that filter is pushed below the spread exchange with the
    # whole shingle expression inlined — a single-task stage that
    # recomputes everything (measured 23 s of the 31 s query at sf0.1).
    # The materialization is the pushdown barrier AND the diamond's share
    # point. localCheckpoint(eager=False), not persist: a catalog persist
    # pins a CacheManager entry only an explicit unpersist releases — a
    # long-lived session calling dedup per crawl round would leak one per
    # call — while localCheckpoint blocks (MEMORY_AND_DISK: spill, not
    # recompute) are dropped by the ContextCleaner once the result is
    # garbage-collected, and its LogicalRDD plan is a hard pushdown
    # barrier too (the seenset probe uses the same pattern, a29f63d).
    sh = _tokenized(df, id_col, text_col, n).select(
        "id", shingles_from_tokens(F.col("_toks"), n).alias("sh")
    ).localCheckpoint(eager=False)
    exploded = sh.select("id", F.explode("sh").alias("g"))
    if max_shingle_freq is not None:
        hot = (
            exploded.groupBy("g").agg(F.count("*").alias("c"))
            .filter(F.col("c") > max_shingle_freq)
            .select("g")
        )
        exploded = exploded.join(F.broadcast(hot), "g", "left_anti")
        # sizes over the POST-filter shingle universe so jaccard stays an
        # exact ratio within that universe (pre-filter sizes would make it
        # a systematic underestimate); docs losing every shingle drop out
        sizes = exploded.groupBy("id").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard"))


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard ≥ threshold with a PROVABLY COMPLETE
    prefix-filter candidate join (AllPairs/PPJoin bound) — the scale-safe
    form of `ngram_jaccard_pairs`: identical output, but the self-join
    touches only each document's rarest-`p` shingles instead of all of
    them.

    Bound: under ANY global shingle order, two shingle sets with overlap
    ≥ α share an element within their (|x|-α+1)-prefixes. For J ≥ t and
    the length filter t·max(|a|,|b|) ≤ min(|a|,|b|), overlap ≥ ceil(t·|x|)
    holds for both docs, so joining prefixes of length
    |x| - ceil(t·|x|) + 1 misses no qualifying pair. Candidates verify
    exactly with `array_intersect` over the full sorted arrays — no
    probabilistic recall anywhere.

    The global order is rarest-first (doc-frequency, then shingle) —
    the AllPairs heuristic: prefixes hold each doc's rarest shingles, so
    candidate lists per join key stay small; a globally-hot shingle sits
    at the ORDER's tail and only enters a prefix for a doc that has
    almost nothing rarer. Shuffles: one df-count agg, one per-doc sort
    agg, the prefix equi-join (uniform rare keys), one verify join keyed
    on the pair ids. The per-doc shingle table persists once and serves
    the sort, both join sides, and the verify.
    """
    t = float(threshold)
    # materialize the compact per-doc arrays BEFORE any explode, and add
    # NO size filter above them: a size(sh)>0 filter (explicit or
    # explode-inferred) is pushed below the spread exchange with the whole
    # shingle HOF inlined — a single-task stage recomputing every shingle
    # on one core (measured 10.9 s vs 0.5 s at sf0.1). Shingle-less docs
    # simply contribute no explode rows and drop out of ssh naturally.
    # persist, NOT localCheckpoint, in THIS pipeline: the cached relation
    # is columnar (InMemoryTableScan prunes columns per consumer) while a
    # checkpoint's LogicalRDD hands every consumer full rows — the A/B at
    # sf0.1 measured the checkpointed form 1.9× slower end-to-end (7.3 s
    # vs 4.0 s). The cost is one CacheManager entry per DISTINCT input
    # plan (identical calls share one); a per-round caller releases them
    # with spark.catalog.clearCache() (bench.release_caches does).
    from pyspark import StorageLevel

    sh = _tokenized(df, id_col, text_col, n).select(
        "id", shingles_from_tokens(F.col("_toks"), n).alias("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = sh.select("id", F.explode("sh").alias("g"))
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    # rarest-first total order: sort each doc's shingles by (df, shingle)
    ssh = (
        ex.join(freq, "g")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "g"))), lambda s: s["g"]
            ).alias("ssh")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)  # columnar — see sh above
    )
    # ε relaxes every pruning bound toward INCLUSION: float products like
    # 0.07·100 = 7.000000000000001 would otherwise shorten a prefix /
    # drop a boundary pair that exact rational arithmetic keeps (the
    # verify step is exact, so over-admitting candidates never costs
    # correctness — only a few extra verifications)
    eps = 1e-9
    size = F.size("ssh")
    p = (size - F.ceil(F.lit(t) * size - F.lit(eps)) + 1).cast("int")
    pre = ssh.select(
        "id", size.alias("n_sh"), F.explode(F.slice("ssh", F.lit(1), p)).alias("g")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            # J ≥ t requires t·max ≤ min — prunes before the distinct
            & (F.col("b.n_sh") >= F.lit(t) * F.col("a.n_sh") - F.lit(eps))
            & (F.col("a.n_sh") >= F.lit(t) * F.col("b.n_sh") - F.lit(eps)),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = ssh.select(F.col("id").alias("id_a"), F.col("ssh").alias("_sa"), F.size("ssh").alias("n_a"))
    sb = ssh.select(F.col("id").alias("id_b"), F.col("ssh").alias("_sb"), F.size("ssh").alias("n_b"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter)
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b", "inter", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------


#: Mersenne prime 2^31-1: the modulus of the affine MinHash permutation
#: family. Keeping every operand below 2^31 bounds products below 2^62,
#: so the arithmetic never overflows a long under ANSI mode.
MINHASH_PRIME = (1 << 31) - 1


def _minhash_coefficients(num_hashes: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the 2-universal affine family
    h_i(x) = (a_i·x + b_i) mod p — the same construction Spark ML's
    MinHashLSH uses (randCoefficients over a ~2^31 prime)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, n: int = 3
) -> DataFrame:
    """k-component MinHash signature per document, shuffle-free.

    Each shingle string is hashed ONCE (xxhash64 → reduced mod 2^31-1);
    component i is then min over shingles of the affine 2-universal map
    (a_i·h + b_i) mod p — one multiply-add per component instead of a
    fresh seeded xxhash64 per (shingle, seed) pair (the measured
    constant-factor hot spot: the 64 chained re-hashes were ~24 s of the
    35 s sf0.1 pipeline). Everything stays a pure projection
    (array_min ∘ transform, whole-stage codegen); no explode, no
    aggregation shuffle. Empty shingle sets are dropped (signature
    undefined).

    The 31-bit reduction is the same trade Spark ML's MinHashLSH makes:
    collisions between the ≤10^4 shingles of any compared pair happen
    w.p. ~2^-31 per pair, negligible against the O(1/√k) estimator noise.
    """
    sh = _tokenized(df, id_col, text_col, n).select(
        "id", shingles_from_tokens(F.col("_toks"), n).alias("sh")
    )
    base = sh.select(
        "id", F.size("sh").alias("n_sh"),
        F.transform(
            "sh", lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME))
        ).alias("hs"),
    )

    def _affine(a: int, b: int):
        # closure factory — a 2-param lambda (even with a default) would be
        # given (element, index) by PySpark, silently replacing the coeffs
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), _affine(a, b)))
            for a, b in _minhash_coefficients(num_hashes)
        ]
    )
    return base.select("id", sig.alias("signature"), "n_sh")


def lsh_candidate_pairs(
    signatures: DataFrame, num_bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures; docs sharing any (band_idx, band_hash) bucket
    become candidate pairs. Shuffle key is the band hash — uniform, so no
    skew; bucket sizes are bounded by near-dup cluster sizes.
    """
    # band hash = polynomial fold Σ x_j·R^j mod p over the band's signature
    # components (all < 2^31 post-affine-family, so acc·R + x < 2^62 —
    # ANSI-safe). Injective enough at 31 bits for bucketing, and pure long
    # arithmetic instead of the old per-band string build + xxhash64.
    _R = 1_000_003  # polynomial radix, coprime to MINHASH_PRIME
    bands = signatures.select(
        "id",
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.aggregate(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                    F.lit(0).cast("long"),
                    lambda acc, x: F.pmod(acc * F.lit(_R) + x, F.lit(MINHASH_PRIME)),
                ),
            )
        ).alias("band_idx", "band_hash"),
    )
    # materialize bands once: both self-join sides would otherwise
    # recompute the k array_min∘transform signature chains per document
    # (measured: signatures are ~55% of the whole pipeline at sf0.1).
    # localCheckpoint (MEMORY_AND_DISK: spill, not recompute) — no leaked
    # CacheManager entry per call (see ngram_jaccard_pairs).
    bands = bands.localCheckpoint(eager=False)
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    n: int = 3,
    num_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash→LSH→estimate pipeline: candidate pairs with estimated
    Jaccard = matching-component fraction ≥ threshold."""
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n)
    pairs = lsh_candidate_pairs(sigs, num_bands, rows_per_band)
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(num_hashes)
    return (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (hamming-distance near-dup)
# ---------------------------------------------------------------------------


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document (Charikar 2002): per-token 64-bit hash,
    per-bit majority vote. Pure projection: for each bit b, count tokens
    whose hash has bit b set; bit set in the fingerprint iff count*2 >
    n_tokens. Unweighted tokens (weight = term frequency via non-distinct
    token list)."""
    from crawler_spark.operators.skew import spread_small_input

    # materialize the token-hash array as a real column BEFORE the 64
    # per-bit votes: each vote is a HOF filter over the array, and a HOF
    # re-evaluates whatever expression tree it references — an inlined
    # `transform(tokens(text), xxhash64)` would re-tokenize + re-hash the
    # whole doc once per bit (64× blowup, interpreted).
    src = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    tok = src.select("id", tokens(F.col("_t")).alias("_toks"))
    hdf = tok.select(
        "id",
        F.size("_toks").alias("n_tokens"),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_hs"),
    )
    hashes, n_tok = F.col("_hs"), F.col("n_tokens")

    def bit_flag(b: int):  # majority vote for bit b (python-int bit index)
        vote = F.size(F.filter(hashes, lambda h: F.getbit(h, F.lit(b)) == 1))
        return F.when(vote * 2 > n_tok, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    def pack(bits: list[int]):  # Σ flag_b·2^(b-bits[0]) — stays < 2^32, no ANSI overflow
        acc = F.lit(0).cast("long")
        for b in reversed(bits):
            acc = acc * 2 + bit_flag(b)
        return acc

    # assemble as two 32-bit halves (shiftleft takes a literal count; the
    # halves keep every intermediate below 2^32 under ANSI arithmetic)
    fp = F.shiftleft(pack(list(range(32, 64))), 32).bitwiseOR(pack(list(range(0, 32))))
    return hdf.select("id", fp.alias("simhash"), "n_tokens")


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs within `max_hamming` bits. Candidate generation: split the
    64-bit fingerprint into 4 16-bit chunks — any pair within hamming
    distance 3 must agree on ≥1 chunk (pigeonhole), so join per chunk,
    then verify exact hamming via bit_count(xor).

    The pigeonhole bound only covers max_hamming ≤ 3 (= n_chunks - 1): a
    pair differing by one bit in EVERY chunk agrees on none, so a larger
    radius would silently lose pairs — rejected rather than returned
    incomplete."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3]: the 4-chunk pigeonhole "
            "candidate join is only complete within hamming distance 3"
        )
    fps = simhash_fingerprints(df, id_col, text_col).filter(F.col("n_tokens") > 0)
    chunks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("id", "simhash", "ch.chunk_idx", "ch.chunk_val")
    # same diamond as the LSH band join: both sides would recompute the
    # 64 per-bit majority votes per document — materialize chunks once
    # (localCheckpoint: ContextCleaner-managed, see ngram_jaccard_pairs)
    chunks = chunks.localCheckpoint(eager=False)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("fp_a"), F.col("b.simhash").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# cluster assignment: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def near_dup_clusters(
    pairs: DataFrame, left: str = "id_a", right: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """Turn a near-duplicate PAIR set (from `ngram_jaccard_pairs`,
    `minhash_near_dup_pairs`, or `simhash_near_dup_pairs`) into CLUSTER
    assignments — the step a dedup pipeline actually keeps: one
    representative per connected component.

    Min-label propagation: every node starts labeled with its own id;
    each round a node takes min(own label, neighbors' labels); fixpoint
    = connected components with cluster_id = min member id. Near-dup
    components are near-cliques (diameter 2-3), so 3-4 rounds converge;
    the loop stops at the first round with zero label changes (a 1-row
    count), bounded by `max_iter`. For adversarial long-chain graphs
    swap in large-star/small-star (same join primitive, O(log n)
    rounds) — not needed for similarity graphs.

    Scale: one hash-shuffle equi-join per round keyed on the node id
    (uniform), labels persisted per round and the previous round
    unpersisted, edge table persisted once. No windows, no driver-side
    data — the convergence check is a count() aggregate.

    Output: (node, cluster_id) for every node that appears in `pairs`
    (callers coalesce singletons to their own id).
    """
    from pyspark import StorageLevel

    sym = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    edges = (
        sym.union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias("lbl"),
            )
            # localCheckpoint, not persist: each round's plan references the
            # previous round's TWICE (the join and the convergence check),
            # so lineage doubles per round — ~2^rounds analysis cost, and a
            # >15-round graph overflows Spark's 2^31-char plan string.
            # Truncating lineage keeps every round's plan O(1). (On a real
            # cluster with executor loss, swap for checkpoint(dir) — same
            # contract, reliable storage.)
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        # frees the round-0 persist; for checkpointed rounds (≥1) this is
        # a no-op — their blocks are reclaimed by the ContextCleaner when
        # the old RDDs go unreferenced. Bounded exposure: label tables are
        # one row per touched node and near-dup graphs converge in ~3-6
        # rounds; a long-lived session doing MANY cluster runs should
        # prefer checkpoint(dir) (reliable + explicitly cleanable).
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("node", F.col("lbl").alias("cluster_id"))
