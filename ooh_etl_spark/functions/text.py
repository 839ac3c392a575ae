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
        "punct_ratio": F.round(punct / F.length(text), 4),
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


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Shingles from an already-materialized token array. Callers doing
    heavy shingling should project the token array in a separate select
    first: referencing ``split(...)`` from inside the shingle lambda
    re-evaluates the split per element (measured ~25% slower)."""
    k = F.size(toks) - (n - 1)
    return F.when(
        k > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles: the unit set for Jaccard/MinHash dedup."""
    return word_shingles_from_tokens(tokenize(text), n)


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
