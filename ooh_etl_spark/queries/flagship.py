"""Flagship query — the reference's pipeline shape on driver data.

Mirrors the whole reference ETL stage-for-stage (SURVEY.md §3.1) on the
``documents`` table:

1. scan (S1/S2: ``index.js:186``, ``:136``)        → parquet scan
2. nested parse → dict fold (E5: ``index.js:40-55``) → tokens → word-count
   ``MapType`` column, built with higher-order functions (zero Python
   boundary crossings — stays in WholeStageCodegen)
3. EXISTS-over-map-keys filter (F1: ``index.js:177``)
4. conditional projection (P2: ``index.js:146-148`` analog)
5. formatted sink line (K1: ``index.js:178``)

Scale notes: per-row map construction is embarrassingly parallel (narrow
dependency, no shuffle); the filter prunes before projection thanks to
Catalyst predicate reorder; nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.tables import load_documents

LONG_KEY = 6  # F1 analog: the reference uses key-length > 26 (index.js:177)


def bind_value(col: F.Column, f) -> F.Column:
    """Evaluate ``col`` ONCE and hand its value to ``f`` as a bound
    lambda variable. Higher-order functions run interpreted, so an
    outer column expression referenced inside a lambda body is
    re-evaluated on every element — referencing a 1000-token array
    expression inside a per-token lambda is O(n²). A lambda VARIABLE is
    a bound slot, so routing the value through a one-element transform
    makes every inner reference O(1)."""
    return F.get(F.transform(F.array(col), f), 0)


def word_count_map(col: F.Column) -> F.Column:
    """word → occurrence-count map from a whitespace-tokenized string.

    The generic "extract-fold" combinator of the reference
    (``cdataParser``, ``index.js:40-55``) re-expressed set-oriented and
    LINEARITHMIC per document: sort the token array once (bound via
    :func:`bind_value` so lambdas reference it O(1)), find run-start
    and run-end index lists, zip them positionally — the k-th run is
    [starts[k], ends[k]] — and emit (token, run length) entries. Total
    cost is the O(n log n) sort; earlier revisions were quadratic
    (re-filtering the full token array per distinct token, then an
    outer-reference rewrite that re-evaluated the array per element).
    """

    def build(toks: F.Column) -> F.Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), n - F.lit(1))
        starts = F.filter(
            idx,
            lambda i: (i == F.lit(0)) | (F.get(toks, i) != F.get(toks, i - F.lit(1))),
        )
        ends = F.filter(
            idx,
            lambda i: (i == n - F.lit(1))
            | (F.get(toks, i) != F.get(toks, i + F.lit(1))),
        )
        return F.map_from_entries(
            F.transform(
                F.arrays_zip(starts.alias("s"), ends.alias("e")),
                lambda z: F.struct(
                    F.get(toks, z["s"]).alias("key"),
                    (z["e"] - z["s"] + F.lit(1)).alias("value"),
                ),
            )
        )

    return bind_value(F.array_sort(F.split(col, r"\s+")), build)


def flagship_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full pipeline shape (SURVEY.md §3.1: scan →
    nested parse → map fold → EXISTS-over-map-keys filter → formatted
    sink, index.js:136-182) re-expressed on the documents table as one
    declarative plan: word-count map via higher-order functions (E5),
    null-safe EXISTS filter (F1, pushed below the repartition into the
    scan), and a format_string report line (K1). This is `entry()`'s
    query — the driver smoke check."""
    docs = load_documents(spark, sf_dir)
    wc = word_count_map(F.col("text"))
    df = docs.withColumn("wc", wc)
    # F1: EXISTS over map keys (index.js:177), null-safe per SURVEY §7.3.1.
    # Phrased over the token array, not map_keys(wc): the predicate is
    # pushed below the repartition exchange into the single-split scan
    # stage (PushDownPredicates substitutes the wc alias), so it must
    # stay cheap — one split pass, not the full quadratic map build.
    # Equivalent because the map's keys ARE the distinct tokens.
    df = df.filter(
        F.exists(F.split(F.col("text"), r"\s+"), lambda k: F.length(k) > LONG_KEY)
    )
    return df.select(
        F.col("doc_id"),
        F.col("lang"),
        F.size(F.map_keys("wc")).alias("n_distinct_words"),
        F.size(F.filter(F.map_keys("wc"), lambda k: F.length(k) > LONG_KEY)).alias(
            "n_long_words"
        ),
        # K1 formatted line (index.js:178)
        F.format_string(
            "Doc: %s Lang: %s Distinct: %s", F.col("doc_id"), F.col("lang"),
            F.size(F.map_keys("wc")),
        ).alias("line"),
    )


FLAGSHIP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_distinct(string_split(text, ' ')) AS words
  FROM documents
)
SELECT doc_id, lang,
       len(words) AS n_distinct_words,
       len(list_filter(words, w -> length(w) > {LONG_KEY})) AS n_long_words,
       printf('Doc: %d Lang: %s Distinct: %d', doc_id, lang, len(words)) AS line
FROM toks
WHERE len(list_filter(words, w -> length(w) > {LONG_KEY})) > 0
"""

register("flagship_doc_scan", FLAGSHIP_ORACLE)(flagship_df)
