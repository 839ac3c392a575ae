"""UDF/UDTF surface: the sanctioned Python escape hatches, demonstrated
on paths where built-ins genuinely end (custom math, generator-style
row expansion) — each Arrow-batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.tables import load_table


@F.pandas_udf(T.DoubleType())
def _sigmoid(v: pd.Series) -> pd.Series:
    # Vectorized numpy math over Arrow batches — the pandas-UDF hot path.
    return 1.0 / (1.0 + (-v).map(math.exp))


@register(
    "q47_pandas_udf_sigmoid",
    """
    SELECT event_type,
           round(avg(round(1.0 / (1.0 + exp(-value / 100.0)), 6) * 1000000) / 1000000, 6)
             AS avg_sigmoid
    FROM events
    GROUP BY event_type
    """,
)
def q47_pandas_udf_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF scored per row, aggregated by type. The UDF
    computes what SQL ``exp`` computes, so the oracle can mirror it —
    the point under test is the Arrow UDF boundary itself."""
    events = load_table(spark, sf_dir, "events")
    sig = F.round(_sigmoid(F.col("value") / 100.0), 6)
    return (
        events.withColumn("sig", sig)
        .groupBy("event_type")
        .agg(F.round(F.avg(F.col("sig") * 1000000) / 1000000, 6).alias("avg_sigmoid"))
    )


@F.udtf(returnType="word: string, pos: int")
class SplitWords:
    """Python UDTF (table function): one input string → N rows. The
    generator-style row expansion built-ins can't express when per-row
    Python logic drives the expansion."""

    def eval(self, text: str):  # noqa: ANN201
        for i, w in enumerate(str(text).lower().split()):
            yield (w, i)


@register(
    "q48_udtf_tokens",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({DUCK_TOKENIZE}) AS word
      FROM documents WHERE doc_id < 50)
    SELECT doc_id, word, count(*) AS n
    FROM tok GROUP BY doc_id, word
    """,
)
def q48_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one row in, N token rows out —
    the registered-UDTF path for row-expanding logic that isn't an
    array explode."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("udtf_docs")
    spark.udtf.register("split_words", SplitWords)
    return spark.sql(
        """
        SELECT doc_id, t.word, count(*) AS n
        FROM udtf_docs, LATERAL split_words(text) AS t
        GROUP BY doc_id, t.word
        """
    )


@F.pandas_udf(T.DoubleType())
def _trimmed_mean_10(v: pd.Series) -> float:  # GROUPED_AGG: Series -> scalar
    # Exact integer sum (numpy int64) then ONE IEEE division — matching
    # the oracle's avg(int) to the last bit; pandas .mean() would use
    # pairwise summation and could drift an ulp.
    import numpy as np

    vals = np.sort(v.to_numpy(dtype="int64"))
    k = len(vals) // 10
    kept = vals[k : len(vals) - k]
    return float(int(kept.sum())) / len(kept)


@F.pandas_udf(T.LongType())
def _trimmed_count_10(v: pd.Series) -> int:  # GROUPED_AGG companion
    n = len(v)
    return n - 2 * (n // 10)


@register(
    "q172_grouped_agg_udf",
    """
    WITH s AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT lang,
           count(*) AS n_used,
           CAST(round(avg(n_chars) * 1000) AS BIGINT) AS trimmed_mean_milli
    FROM s
    WHERE rk > n // 10 AND rk <= n - n // 10
    GROUP BY lang ORDER BY lang
    """,
)
def q172_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the custom-aggregator API (the fourth
    pandas-UDF eval type, alongside q47's scalar, q48's UDTF and the
    mapInPandas/applyInPandas paths): a 10%-trimmed mean of document
    length per language, an aggregate Spark has no builtin for (the
    robust-statistics cousin of q114's winsorized mean, which clamps
    where this discards).

    The UDF receives each group's column as ONE pandas Series over
    Arrow — no partial aggregation, so the group's values gather on one
    executor: right for bounded groups (languages, categories), wrong
    for unbounded keys — the 100 TB contract is |group| fits an
    executor, same as collect_list. Trimming by COUNT (drop n//10 from
    each sorted end) keeps the semantics engine-identical: the oracle
    reproduces it with row_number over the same sort, and the mean is
    an exact integer sum with one final division on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    # Spark refuses to mix GROUPED_AGG pandas UDFs with non-pandas
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the
    # companion count is a second pandas aggregate over the same pass.
    return (
        docs.groupBy("lang")
        .agg(
            _trimmed_count_10(F.col("n_chars")).alias("n_used"),
            _trimmed_mean_10(F.col("n_chars")).alias("tm"),
        )
        .select(
            "lang",
            "n_used",
            quantise("tm", 3).alias("trimmed_mean_milli"),
        )
        .orderBy("lang")
    )


@register(
    "q232_arrow_python_udf",
    """
    WITH d AS (
      SELECT o_orderkey,
             list_aggregate(list_transform(
               string_split(CAST(o_orderkey AS VARCHAR), ''),
               c -> ascii(c) - 48), 'sum') AS key_digit_sum
      FROM orders WHERE o_orderkey < 2000)
    SELECT CAST(key_digit_sum AS BIGINT) AS key_digit_sum,
           count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM d GROUP BY key_digit_sum
    ORDER BY key_digit_sum
    """,
)
def q232_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (``useArrow=True`` — Spark
    3.5+'s third Python eval path, completing the engine's UDF surface
    next to row-pickled UDFs, pandas UDFs (q47), UDTFs (q48),
    grouped-agg (q172), mapInPandas (q156+) and stateful
    applyInPandas (q46)): the Arrow path batches rows through the
    same columnar transfer pandas UDFs use but keeps the per-row
    Python function signature — the cheap migration for existing UDF
    code. The function (digit sum of the order key) is exact integer
    arithmetic, so the DuckDB re-derivation matches bit-for-bit.

    Plan note: this is still a Python-process hop (ArrowEvalPython
    node) — the docstring contract everywhere else in this repo
    stands: hot-path expressions belong JVM-side, and q232 exists to
    prove the API works, pinned by the oracle, not to encourage the
    pattern. The filter bounds the Python-touched rows.
    """
    from pyspark.sql.functions import udf

    @udf(returnType="long", useArrow=True)
    def digit_sum(k: int) -> int:
        return sum(int(c) for c in str(k))

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    return (
        orders.select(
            "o_orderkey", digit_sum("o_orderkey").alias("key_digit_sum")
        )
        .groupBy("key_digit_sum")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
        )
        .orderBy("key_digit_sum")
    )


# --- q310: mapInArrow — the zero-copy Arrow batch path --------------------
_DUCK_ARROW_NORMS = """
    WITH n AS (
      SELECT vec_id,
             CAST(round(1000000 * sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum')))
               AS BIGINT) AS norm_e6
      FROM embeddings)
    SELECT CAST(norm_e6 // 1000000 AS BIGINT) AS norm_unit,
           count(*) AS n_vecs,
           CAST(min(vec_id) AS BIGINT) AS min_vec
    FROM n GROUP BY 1 ORDER BY norm_unit
"""


@register("q310_map_in_arrow", _DUCK_ARROW_NORMS)
def q310_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the last Python eval path in the engine's UDF
    surface (next to row-pickled UDFs, arrow-optimized scalar UDFs
    q232, pandas UDFs q47, UDTFs q48, grouped-agg q172, mapInPandas
    q156, applyInPandas): the function receives raw
    ``pyarrow.RecordBatch``es with NO pandas conversion on either
    side, which matters when the payload is nested (lists, structs)
    — pandas would materialize each 64-float embedding as a Python
    list per row; Arrow keeps it one contiguous FixedSizeList buffer
    that numpy views zero-copy. Computes per-vector L2 norms,
    integer-quantized, then histograms them in ordinary SQL.

    100 TB shape: narrow per-batch map (no shuffle), vectorized numpy
    over Arrow buffers, then ONE bounded-key aggregate — identical
    plan shape to q156's decoder, minus the pandas tax."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def batch_norms(batches):
        for batch in batches:
            vec_id = batch.column("vec_id")
            lists = batch.column("embedding")
            # zero-copy: flat float64 buffer viewed as (n, 64) matrix
            flat = np.asarray(lists.flatten())
            mat = flat.reshape(len(batch), -1)
            norm = np.sqrt((mat * mat).sum(axis=1))
            # floor(x + 0.5), not np.round: np.round is half-to-even
            # (banker's), while the engines' round() is half-away-from-
            # zero — an exact .5 tie at the e6 boundary would diverge.
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(np.floor(norm * 1e6 + 0.5).astype("int64"))],
                names=["vec_id", "norm_e6"],
            )

    norms = emb.mapInArrow(batch_norms, "vec_id long, norm_e6 long")
    return (
        norms.groupBy(
            (F.col("norm_e6") / 1000000).cast("bigint").alias("norm_unit")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("vec_id").cast("bigint").alias("min_vec"),
        )
        .orderBy("norm_unit")
    )
