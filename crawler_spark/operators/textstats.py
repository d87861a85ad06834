"""Text analysis operators for the training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting. All pure
JVM-side column expressions (whole-stage codegen; zero Python in the hot
path), each mirrorable as ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import tokens

# Small high-frequency stopword lists — enough signal for n-gram-free
# heuristic language ID on web text. Deliberately tiny + frozen so the
# DuckDB oracle can inline the identical lists.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "que", "en", "una", "por", "con", "para", "es"),
}
LANGS: tuple[str, ...] = tuple(STOPWORDS)  # deterministic priority order for ties


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


def stopword_hits(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword hit counts; ties break by LANGS
    order; zero hits everywhere → 'und' (undetermined)."""
    counts = [stopword_hits(text, lg) for lg in LANGS]
    best = F.greatest(*counts)
    expr = F.lit("und")
    # build the CASE back-to-front so earlier langs win ties
    for lg, c in reversed(list(zip(LANGS, counts))):
        expr = F.when((c == best) & (best > 0), F.lit(lg)).otherwise(expr)
    return expr


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features + a composite score in [0,1]:

    - n_chars, n_tokens, mean_token_len
    - punct_ratio: non-alnum-non-space chars / chars
    - stopword_ratio: English stopword tokens / tokens
    - upper_ratio: uppercase chars / letters
    - quality_score: penalizes too-short docs, punctuation soup, zero
      stopwords (non-linguistic text), all-caps shouting — the standard
      C4/Gopher-style cheap filters composed into one number.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^a-zA-Z0-9\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_letters = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    n_stop = stopword_hits(t, "en")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_letters > 0, n_upper / n_letters).otherwise(F.lit(0.0))
    mean_tok = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.4          # length credit, saturates at 20 tokens
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.2  # punctuation soup penalty
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3                 # linguistic-text credit
        + (F.lit(1.0) - upper_ratio) * 0.1                          # all-caps penalty
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 of the normalized token stream
    (case/punctuation/whitespace-insensitive — two docs differing only in
    formatting share a fingerprint)."""
    return F.md5(F.concat_ws(" ", tokens(text)))


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003): hash all k-grams of the normalized character stream,
    keep the minimum hash of every sliding window of `window` k-gram
    hashes, distinct. Robust local fingerprints for partial-overlap
    detection (the rolling-hash scheme; here the rolling hash is
    xxhash64 of the k-gram substring — same selection guarantees).
    Pure array expressions; no explode until the final distinct set.

    Staged as three projections (normalize → k-gram hashes → window
    mins) so each HOF lambda references a MATERIALIZED column: a lambda
    re-evaluates any expression tree it closes over per element, so a
    single-projection form re-normalized the text once per character
    position and re-hashed every k-gram once per window — O(n²)
    interpreted work per doc (the measured pathology; see
    dedup.shingles_from_tokens)."""
    from crawler_spark.operators.skew import spread_small_input

    src = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    empty_longs = F.array().cast("array<long>")
    ndf = src.select("id", F.concat_ws(" ", tokens(F.col("_t"))).alias("_norm"))
    norm, n = F.col("_norm"), F.length(F.col("_norm"))
    starts = F.sequence(F.lit(1), n - (k - 1))
    kdf = ndf.select(
        "id",
        F.when(
            n >= k, F.transform(starts, lambda i: F.xxhash64(norm.substr(i, F.lit(k))))
        ).otherwise(empty_longs).alias("_kh"),
    )
    kh = F.col("_kh")
    win_starts = F.sequence(F.lit(1), F.size(kh) - (window - 1))
    mins = F.when(
        F.size(kh) >= window,
        F.transform(win_starts, lambda i: F.array_min(F.slice(kh, i, window))),
    ).otherwise(kh)  # short docs: keep all k-gram hashes
    return kdf.select("id", F.array_sort(F.array_distinct(mins)).alias("fingerprints"))

