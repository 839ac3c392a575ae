"""Text-analysis functions for LLM-data-pipeline workloads.

Mandated by the driver contract (BASELINE.json:6 — "text analysis"):
tokenization, quality scoring, language ID (n-gram/stopword heuristic),
token counting, and document fingerprinting. All pure column
expressions — per-row, shuffle-free, codegen-friendly; at 100 TB these
run embarrassingly parallel inside the scan stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tiny per-language stopword profiles for the heuristic language ID.
#: Order matters: deterministic argmax tie-breaking follows this order.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "of", "to", "and", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "zh": ("的", "了", "是", "在", "我", "有", "和"),
}


#: The DuckDB twin of :func:`tokenize`, for oracle SQL over a ``text``
#: column.
DUCK_TOKENIZE = "regexp_split_to_array(lower(trim(text)), '\\s+')"


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (lowercased). Splits on exactly the set
    RE2's ``\\s`` matches in :data:`DUCK_TOKENIZE`, ``[\\t\\n\\f\\r ]``;
    Java's ``\\s`` would also split on vertical tab (U+000B)."""
    return F.split(F.lower(F.trim(text)), r"[\t\n\f\r ]+")


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-profile hit count per language."""
    toks = tokenize(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of profile hits, first-profile-wins
    on ties, 'unknown' when nothing matches."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out: Column = F.lit("unknown")
    for lang in reversed(list(LANG_PROFILES)):
        out = F.when(scores[lang] == best, lang).otherwise(out)
    return F.when(best == 0, "unknown").otherwise(out)


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features."""
    toks = tokenize(text)
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"])))
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    total_tok_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return {
        "n_tokens": n,
        "n_chars": F.length(text),
        "stopword_ratio": F.round(stop / n, 4),
        # NULL for an empty text, as DuckDB's division by zero gives
        "punct_ratio": F.round(F.try_divide(punct, F.length(text)), 4),
        "mean_token_len": F.round(total_tok_len / n, 4),
    }


def quality_score(text: Column, rounded: bool = True) -> Column:
    """Composite [0,1] quality score: long enough, not punctuation soup,
    has connective tissue (stopwords). Weights are arbitrary but fixed.

    ``rounded=False`` returns the raw double — required when the caller
    re-quantizes (e.g. to basis points): Spark's ``round`` rounds the
    shortest decimal repr while DuckDB rounds the binary value, so a
    double-round through 4 dp can differ by 1 ulp-turned-1e-4 between
    engines on exact .5 boundaries.
    """
    f = quality_features(text)
    length_term = F.least(f["n_tokens"] / 100.0, F.lit(1.0))
    raw = (
        0.4 * length_term
        + 0.3 * F.least(f["stopword_ratio"] * 5, F.lit(1.0))
        + 0.3 * (1 - F.least(f["punct_ratio"] * 10, F.lit(1.0)))
    )
    return F.round(raw, 4) if rounded else raw


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint_md5(text: Column) -> Column:
    """Deterministic document fingerprint (hex md5 of normalized text);
    portable across engines (DuckDB md5 produces identical hex)."""
    return F.md5(normalize_text(text))


def ngram_starts(arr: Column, n: int | Column) -> Column:
    """The 1-based start positions ``[1 .. size(arr) - n + 1]`` of the
    length-``n`` windows of ``arr``, empty when ``arr`` is shorter than
    ``n``. The guard is the point: Spark's ``sequence(1, 0)`` counts
    down to ``[1, 0]`` where DuckDB's ``generate_series(1, 0)`` is
    empty, so an unguarded start list indexes past a short array."""
    last = F.size(arr) - (n - 1)
    return F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )


def word_ngrams(toks: Column, n: int | Column) -> Column:
    """Every word n-gram of a token array in order, repeats kept, each
    the space-joined window; empty when there are fewer than ``n``
    tokens. The DuckDB twin is ``list_transform(generate_series(1,
    len(toks) - n + 1), i -> array_to_string(toks[i:i+n-1], ' '))``."""
    return F.transform(
        ngram_starts(toks, n), lambda i: F.array_join(F.slice(toks, i, n), " ")
    )


def word_pairs(toks: Column) -> Column:
    """Adjacent token pairs as ``array<struct<head, nxt>>``: the token
    array zipped with itself shifted by one. Empty for fewer than two
    tokens."""
    k = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, k),
        F.slice(toks, 2, k),
        lambda h, n: F.struct(h.alias("head"), n.alias("nxt")),
    )


#: Shingle width of the Jaccard/MinHash dedup unit.
_SHINGLE_N = 3


def word_shingles_from_tokens(toks: Column) -> Column:
    """Distinct word 3-gram shingles; a document of fewer than three
    tokens is one shingle, its whole token string. Callers doing heavy
    shingling should project the token array in a separate select
    first: referencing ``split(...)`` from inside the shingle lambda
    re-evaluates the split per element (measured ~25% slower)."""
    return F.when(
        F.size(toks) >= _SHINGLE_N, F.array_distinct(word_ngrams(toks, _SHINGLE_N))
    ).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text: Column) -> Column:
    """Word 3-gram shingles: the unit set for Jaccard/MinHash dedup."""
    return word_shingles_from_tokens(tokenize(text))


@F.pandas_udf(T.LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    shifts = np.arange(64, dtype=np.uint64)

    def one(arr) -> int:
        if arr is None or len(arr) == 0:
            return 0
        a = np.asarray(arr, dtype=np.int64).astype(np.uint64)
        bits = ((a[:, None] >> shifts) & 1).sum(axis=0)
        sig = np.uint64(0)
        for i in np.nonzero(bits * 2 > len(a))[0]:
            sig |= np.uint64(1) << np.uint64(i)
        return int(sig.astype(np.int64))

    return hashes.map(one)


def simhash64(text: Column) -> Column:
    """64-bit SimHash: per bit position, set iff more token hashes have
    that bit set than not.

    Token hashing stays JVM-side (``xxhash64`` inside codegen); the
    bit-majority vote runs as an Arrow-batched pandas UDF over the hash
    arrays — a 64-way bit loop vectorizes in numpy far better than a
    64-branch codegen expression would. Per-row only (no shuffle);
    near-dup candidates come from banding the result (operators.dedup).
    """
    token_hashes = F.transform(tokenize(text), lambda t: F.xxhash64(t))
    return _simhash_from_hashes(token_hashes)
