"""LLM data preparation: the text-corpus shaping operators between raw
documents and a training run — chunking long documents into overlapping
token windows, packing short ones into fixed-token batches, balancing a
corpus across languages, quantizing embeddings, and gap-based
sessionization of the event stream.

All are narrow-plus-one-window shapes: per-row expressions and at most
one shuffle on a natural partition key (doc source, language, user) —
nothing global, so each scales linearly with the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE, ngram_starts, tokenize
from ooh_etl_spark.operators.similarity import l2_norm
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table, parallelize_rows

_CHUNK = 8  # tokens per chunk
_STRIDE = 6  # tokens between chunk starts (overlap = _CHUNK - _STRIDE)


@register(
    "q74_doc_chunking",
    f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks
      FROM documents),
         starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - {_CHUNK} + 1, 1),
                                    {_STRIDE})) AS start
      FROM t)
    SELECT doc_id,
           CAST((start - 1) / {_STRIDE} AS BIGINT) AS chunk_id,
           array_to_string(toks[start:start + {_CHUNK} - 1], ' ') AS chunk_text,
           len(toks[start:start + {_CHUNK} - 1]) AS n_tokens
    FROM starts
    """,
)
def q74_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the standard long-document →
    training-sample transform (chunk of 8 tokens, stride 6, overlap 2).
    Chunk starts come from `sequence(...)` + posexplode, so the fan-out
    is expression-level (no join, no shuffle); every chunk keeps
    (doc_id, chunk_id) lineage for provenance. Tail chunks shorter than
    the window are kept (standard practice is keep-or-pad; padding is a
    training-side concern)."""
    docs = load_documents(spark, sf_dir)
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    n = F.size("toks")
    starts = toks.select(
        "doc_id",
        "toks",
        F.explode_outer(
            F.sequence(F.lit(1), F.greatest(n - _CHUNK + 1, F.lit(1)), F.lit(_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK)
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / _STRIDE).cast("bigint").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


_CAP = 64  # tokens per packed batch


@register(
    "q75_token_packing",
    f"""
    WITH t AS (
      SELECT source, doc_id,
             len({DUCK_TOKENIZE}) AS n_tokens
      FROM documents),
         c AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT source,
           CAST(floor((cum - 1) / {_CAP}) AS BIGINT) AS batch_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS batch_tokens
    FROM c
    GROUP BY source, batch_id
    ORDER BY source, batch_id
    """,
)
def q75_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing: short documents are packed contiguously
    into ~64-token batches by a running token count, independently per
    source shard. Deterministic (ordered by doc_id within source) and
    parallel — the window partitions on `source`, so no global sort;
    at 100 TB each shard packs locally, which is how packing is
    actually run (cross-shard packing would serialize the corpus)."""
    docs = load_documents(spark, sf_dir)
    t = docs.select("source", "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.withColumn(
            "batch_id", F.floor((F.col("cum") - 1) / _CAP).cast("bigint")
        )
        .groupBy("source", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("batch_tokens"),
        )
        .orderBy("source", "batch_id")
    )


_PER_LANG = 40


@register(
    "q76_balanced_corpus",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
      FROM documents)
    SELECT lang, doc_id, n_chars
    FROM ranked WHERE rk <= {_PER_LANG}
    ORDER BY lang, doc_id
    """,
)
def q76_balanced_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling: cap every language at the same
    document budget, choosing survivors by a deterministic
    multiplicative hash (NOT rand(): reproducible across runs, engines,
    and partitionings — same rationale as q69's split). One shuffle on
    `lang`; per-group top-k via row_number, the same pattern as
    operators.relational.top_k_per_group. Over-represented languages
    are cut hardest — the standard corpus-balancing move."""
    docs = load_table(spark, sf_dir, "documents")
    hkey = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy(hkey, F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PER_LANG)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


@register(
    "q77_embedding_quantize",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT vec_id,
           round(sqrt(list_dot_product(e, e)), 4) AS l2_norm,
           array_to_string(
             list_transform(e, x -> CAST(round(127 * x / sqrt(list_dot_product(e, e)))
                                         AS INT)), ',') AS q8
    FROM v
    """,
)
def q77_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style embedding quantization: L2-normalize then scale to
    [-127, 127] — the storage/ANN-recall trade every vector store
    makes. All arithmetic is forced to DOUBLE before any reduction so
    the fold matches the oracle bit-for-bit (float32 partial sums
    would drift). Narrow per-row expression over the vector column —
    shuffle-free, and the natural pre-step to the int8 variants of
    q30/q31/q53. The quantized vector is emitted as a comma-joined
    string (the q45 ``features_csv`` pattern): the correctness gate
    canonicalizes through pandas, which cannot sort/hash list cells,
    so oracle-bearing queries never expose top-level arrays."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    e = F.col("embedding").cast("array<double>")
    norm = l2_norm(e)
    return emb.select(
        "vec_id",
        F.round(norm, 4).alias("l2_norm"),
        F.array_join(
            F.transform(e, lambda x: F.round(127 * x / norm).cast("int")), ","
        ).alias("q8"),
    )


_GAP_MIN = 30  # session gap, minutes


@register(
    "q78_sessionize_lag",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
         flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > {_GAP_MIN} * 60
                  THEN 1 ELSE 0 END AS new_sess
      FROM o),
         sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged)
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
           count(*) AS n_events,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
    FROM sess
    GROUP BY user_id, sess_id
    ORDER BY user_id, sess_id
    """,
)
def q78_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in pure SQL windows: a session breaks
    after a 30-minute silence. lag() marks boundaries, a running sum
    numbers sessions, one aggregate summarizes them — two window passes
    over ONE shuffle on user_id (both windows and the final groupBy
    share the partitioning, so Spark reuses the exchange). The batch
    twin of the streaming `session_window` path (q35/q46): same
    semantics, replayable over history."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(wo).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wo))
                > _GAP_MIN * 60
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn("sess_id", F.sum("new_sess").over(run))
    return (
        sess.groupBy("user_id", F.col("sess_id").cast("bigint").alias("sess_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("bigint")
            .alias("duration_sec"),
        )
        .orderBy("user_id", "sess_id")
    )


_DUCK_CHUNK_DEDUP = f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks
      FROM documents),
         starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - {_CHUNK} + 1, 1),
                                    {_STRIDE})) AS start
      FROM t),
         chunks AS (
      SELECT doc_id,
             md5(array_to_string(toks[start:start + {_CHUNK} - 1], ' ')) AS h
      FROM starts),
         freq AS (
      SELECT h, count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs,
             min(doc_id) AS keeper
      FROM chunks GROUP BY h)
    SELECT CAST(count(*) AS BIGINT) AS n_unique_chunks,
           CAST(sum(n_copies) AS BIGINT) AS n_total_chunks,
           CAST(sum(n_copies - 1) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_doc
    FROM freq
"""


@register("q154_chunk_dedup", _DUCK_CHUNK_DEDUP)
def q154_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup census over the q74 chunking grid
    — the dedup a RAG/pretraining index runs AFTER chunking (identical
    passages recur across near-duplicate documents even when the full
    docs differ). Chunks are keyed by md5 of their normalized text
    (engine-portable hash: Spark ``md5`` == DuckDB ``md5``); the
    census reports unique/total/dropped chunk counts and how many
    chunk hashes span multiple documents, with the deterministic
    min-doc_id survivor rule defining the keeper.

    100 TB notes: one shuffle on the 128-bit chunk hash with map-side
    partial counts; the hash key is uniform by construction so the
    shuffle cannot skew. Cost is linear in total chunks — same plan as
    exact doc-level dedup (q26), one granularity down."""
    docs = load_documents(spark, sf_dir)
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    n = F.size("toks")
    starts = toks.select(
        "doc_id",
        "toks",
        F.explode_outer(
            F.sequence(F.lit(1), F.greatest(n - _CHUNK + 1, F.lit(1)), F.lit(_STRIDE))
        ).alias("start"),
    )
    chunks = starts.select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.col("toks"), F.col("start"), _CHUNK), " ")).alias(
            "h"
        ),
    )
    freq = chunks.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("keeper"),
    )
    return freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique_chunks"),
        F.sum("n_copies").cast("bigint").alias("n_total_chunks"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_dropped"),
        F.sum((F.col("n_docs") >= 2).cast("int")).cast("bigint").alias("n_cross_doc"),
    )


@register(
    "q201_bpe_merge_pairs",
    """
    WITH words AS (
      SELECT word, count(*) AS freq
      FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents)
      WHERE word <> ''
      GROUP BY word),
         pairs AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
      FROM words, UNNEST(range(1, length(word))) AS t(i)
      WHERE length(word) >= 2),
         merged AS (
      SELECT pair, sum(freq) AS merge_count
      FROM pairs GROUP BY pair)
    SELECT pair, CAST(merge_count AS BIGINT) AS merge_count
    FROM merged
    ORDER BY merge_count DESC, pair
    LIMIT 20
    """,
)
def q201_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE vocabulary training (Sennrich et al. 2016,
    the inner loop of GPT-2/LLaMA tokenizer construction): count every
    adjacent symbol pair across the corpus, weighted by word
    frequency, and rank the merge candidates. At character-level
    initialization a symbol pair IS a 2-char substring, so the pair
    enumeration is pure string arithmetic — substr over an index
    sequence, no Python, no arrays-of-arrays.

    100 TB design: the corpus-scale pass is ONE word-count shuffle;
    pair enumeration then runs over the DISTINCT-WORD table (Zipf
    bounds it at ~millions regardless of corpus size — the same
    vocabulary-side argument as q94 vocab growth), so the per-merge
    iteration cost is vocabulary-sized, which is exactly why
    production BPE trainers also pre-aggregate to word counts. Exact
    integer counts end-to-end; ties rank deterministically by pair."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        # length >= 2: a single-symbol word has no adjacent pair.
        # (Spark's sequence(1, 0) would yield a DESCENDING [1, 0] for
        # 1-char words, fabricating a 1-char 'pair'; DuckDB's
        # range(1, 1) is empty — the filter pins one semantics.)
        words.filter(F.length("word") >= 2)
        .select(
            "word",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
        )
        .select(
            F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), "freq"
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("merge_count"))
        .orderBy(F.desc("merge_count"), "pair")
        .limit(20)
    )


@register(
    "q202_negative_sampling",
    """
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
         anchors AS (
      SELECT doc_id, source, i,
             (doc_id * 2654435761 + i * 40503)
               % (SELECT n_docs FROM n) AS raw_neg
      FROM documents, UNNEST([1, 2]) AS t(i)),
         negs AS (
      SELECT doc_id, source, i,
             CASE WHEN raw_neg = doc_id
                  THEN (raw_neg + 1) % (SELECT n_docs FROM n)
                  ELSE raw_neg END AS neg_id
      FROM anchors)
    SELECT a.doc_id, a.i AS neg_rank, a.neg_id,
           CAST(CASE WHEN a.source = d.source THEN 1 ELSE 0 END AS INT)
             AS same_source
    FROM negs a JOIN documents d ON a.neg_id = d.doc_id
    ORDER BY a.doc_id, a.i
    """,
)
def q202_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (in-batch negatives a la DPR/SimCLR, made reproducible): each
    anchor document draws k=2 pseudo-random negatives via a Knuth
    multiplicative-hash index (doc_id * 2654435761 + i * 40503 mod n),
    self-collisions remapped to the next id. The join back to
    `documents` materializes the negative's metadata and flags
    same-source collisions — the quantity a curriculum designer
    monitors, since same-source 'negatives' are often false
    negatives. Pure int64 arithmetic: bit-identical in both engines,
    no RNG state, re-runnable on any partitioning.

    100 TB design: one narrow projection (the hash), one keyed
    self-join on neg_id — Spark shuffles both sides on the id, the
    standard co-partitioned self-join; n_docs is a 1-row broadcast
    (scalar subquery oracle-side). k scales the output linearly, not
    the shuffle count. doc_id contiguity 0..n-1 is a fixture
    invariant; the inner join makes any gap drop loudly (row-count
    mismatch) rather than silently fabricate a pair."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anchors = (
        docs.select("doc_id", "source")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("i"),
            F.col("n_docs"),
        )
        .select(
            "doc_id",
            "source",
            "i",
            (
                (F.col("doc_id") * F.lit(2654435761) + F.col("i") * 40503)
                % F.col("n_docs")
            ).alias("raw_neg"),
            "n_docs",
        )
        .select(
            "doc_id",
            "source",
            "i",
            F.when(
                F.col("raw_neg") == F.col("doc_id"),
                (F.col("raw_neg") + 1) % F.col("n_docs"),
            )
            .otherwise(F.col("raw_neg"))
            .alias("neg_id"),
        )
    )
    d2 = docs.select(
        F.col("doc_id").alias("d_id"), F.col("source").alias("d_source")
    )
    return (
        anchors.join(d2, anchors.neg_id == d2.d_id)
        .select(
            "doc_id",
            F.col("i").alias("neg_rank"),
            "neg_id",
            (F.col("source") == F.col("d_source")).cast("int").alias("same_source"),
        )
        .orderBy("doc_id", "neg_rank")
    )


@register(
    "q203_epoch_shuffle",
    """
    WITH shuffled AS (
      SELECT e.epoch, doc_id,
             md5(concat('epoch', CAST(e.epoch AS VARCHAR), '#',
                        CAST(doc_id AS VARCHAR))) AS h
      FROM documents
      CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e),
         placed AS (
      SELECT epoch, doc_id,
             CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 8 AS shard,
             h
      FROM shuffled)
    SELECT epoch, CAST(shard AS INT) AS shard, doc_id,
           CAST(row_number() OVER (PARTITION BY epoch, shard
                                   ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM placed
    ORDER BY epoch, shard, pos
    """,
)
def q203_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch data-order shuffle — the op a trainer
    runs before every epoch so data order differs between epochs but
    is bit-reproducible across restarts (the Megatron/GPT-NeoX
    shuffle-by-keyed-hash idiom, no RNG state to checkpoint): each
    (epoch, doc) gets an md5 position key; docs land in one of 8
    shards by a hash slice, and the training order is the within-shard
    rank of the key. Two epochs emitted; the hash seeds differ by the
    epoch tag, so shard assignment AND order genuinely reshuffle.

    100 TB design: this is the scale-safe form of ORDER BY rand() —
    there is NO global sort. Shard assignment is a narrow expression;
    the rank window is PARTITIONED by (epoch, shard), so each shard
    sorts independently (and in practice becomes one output file per
    shard — sized by choosing shard count, the knob that caps per-task
    sort memory). md5 is the engine-identical keyed uniform
    established by q193; ties (impossible for md5, but pinned anyway)
    break by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    shuffled = docs.select("doc_id").crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit("#"),
                F.col("doc_id").cast("string"),
            )
        ).alias("h"),
    )
    placed = shuffled.select(
        "epoch",
        "doc_id",
        (F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint") % 8).alias(
            "shard"
        ),
        "h",
    )
    w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    return placed.select(
        "epoch",
        F.col("shard").cast("int").alias("shard"),
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
    ).orderBy("epoch", "shard", "pos")


@register(
    "q215_bpe_merge_round",
    """
    WITH words AS (
      SELECT word, count(*) AS freq
      FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents)
      WHERE word <> ''
      GROUP BY word),
         top1 AS (
      SELECT substr(word, CAST(i AS INT), 1) AS a,
             substr(word, CAST(i AS INT) + 1, 1) AS b,
             sum(freq) AS cnt
      FROM words, UNNEST(range(1, length(word))) AS t(i)
      WHERE length(word) >= 2
      GROUP BY 1, 2
      ORDER BY cnt DESC, a, b
      LIMIT 1),
         applied AS (
      SELECT w.word, w.freq,
             replace(array_to_string(string_split(w.word, ''), '  '),
                     t.a || '  ' || t.b, t.a || t.b) AS rep,
             t.a || t.b AS merged_pair
      FROM words w CROSS JOIN top1 t),
         sym AS (
      SELECT word, freq, merged_pair,
             string_split(rep, '  ') AS syms
      FROM applied),
         newpairs AS (
      SELECT syms[CAST(i AS INT)] || '>' || syms[CAST(i AS INT) + 1]
               AS pair,
             sum(freq) AS merge_count
      FROM sym, UNNEST(range(1, len(syms))) AS t(i)
      WHERE len(syms) >= 2
      GROUP BY 1),
         totals AS (
      SELECT CAST(sum(freq * length(word)) AS BIGINT) AS symbols_before,
             CAST(sum(freq * len(syms)) AS BIGINT) AS symbols_after,
             min(merged_pair) AS merged_pair
      FROM sym)
    SELECT t.merged_pair, n.pair,
           CAST(n.merge_count AS BIGINT) AS merge_count,
           t.symbols_before, t.symbols_after
    FROM newpairs n CROSS JOIN totals t
    ORDER BY merge_count DESC, pair
    LIMIT 10
    """,
)
def q215_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A COMPLETE BPE training round (Sennrich et al. 2016), closing
    the loop q201 opened: select the top merge pair, APPLY it greedily
    left-to-right to every word, and recount adjacent symbol pairs on
    the merged sequences — the state the next round trains on, plus
    the corpus symbol count before/after (the compression the merge
    bought).

    Spark-first mechanics: words pre-aggregate in the ONE corpus-scale
    shuffle (q201's argument — every later step is vocabulary-sized,
    Zipf-bounded regardless of corpus bytes). The winning merge is a
    1-row broadcast. Merge application is a single ``replace`` on the
    double-space-delimited symbol string: delimiters can't be shared
    between adjacent matches, so builtin left-to-right non-overlapping
    replace IS exactly BPE's greedy merge semantics ('aaa' under merge
    (a,a) → ['aa','a'], not ['aa','aa']) — identical in both engines,
    no UDF. Post-merge symbols split back to arrays and pair-count via
    an index explode; multi-char symbols take a '>' separator so pair
    identity stays unambiguous.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top1 = (
        words.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            F.col("word").substr(F.col("i"), F.lit(1)).alias("a"),
            F.expr("substr(word, i + 1, 1)").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(1)
    )
    applied = words.crossJoin(F.broadcast(top1)).select(
        "word",
        "freq",
        F.concat(F.col("a"), F.col("b")).alias("merged_pair"),
        F.replace(
            F.array_join(F.split("word", ""), "  "),
            F.concat(F.col("a"), F.lit("  "), F.col("b")),
            F.concat(F.col("a"), F.col("b")),
        ).alias("rep"),
    )
    sym = applied.select(
        "word", "freq", "merged_pair", F.split("rep", "  ").alias("syms")
    )
    newpairs = (
        sym.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(ngram_starts(F.col("syms"), 2)).alias("i"),
            F.col("syms"),
        )
        .select(
            F.concat(
                F.element_at("syms", F.col("i")),
                F.lit(">"),
                F.element_at("syms", F.col("i") + 1),
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("merge_count"))
    )
    totals = sym.agg(
        F.sum(F.col("freq") * F.length("word"))
        .cast("bigint")
        .alias("symbols_before"),
        F.sum(F.col("freq") * F.size("syms"))
        .cast("bigint")
        .alias("symbols_after"),
        F.min("merged_pair").alias("merged_pair"),
    )
    return (
        newpairs.crossJoin(F.broadcast(totals))
        .select(
            "merged_pair",
            "pair",
            F.col("merge_count").cast("bigint").alias("merge_count"),
            "symbols_before",
            "symbols_after",
        )
        .orderBy(F.desc("merge_count"), "pair")
        .limit(10)
    )


_UNI_MAX_PIECE = 4
_UNI_TOP_PIECES = 200


_Q217_SIG = "count(*) || ':' || sum(n_chars) || ':' || sum(doc_id)"


def _duck_golden_217() -> str:
    from ooh_etl_spark.queries._golden import GOLDEN_Q217

    rows = ",\n        ".join(
        f"('{sig}', '{w}', {f}, '{s}', {n}, {sc})"
        for sig, rs in GOLDEN_Q217.items()
        for w, f, s, n, sc in rs
    )
    return f"""
    WITH sig AS (SELECT {_Q217_SIG} AS s FROM documents)
    SELECT word, CAST(freq AS BIGINT) AS freq, segmentation,
           CAST(n_pieces AS BIGINT) AS n_pieces,
           CAST(score_micro AS BIGINT) AS score_micro
    FROM (VALUES {rows})
         g(gsig, word, freq, segmentation, n_pieces, score_micro)
    WHERE gsig = (SELECT s FROM sig)
    ORDER BY freq DESC, word
    """


from ooh_etl_spark.queries._golden import GOLDEN_Q217 as _G217  # noqa: E402


@register(
    "q217_unigram_viterbi",
    _duck_golden_217(),
    golden_guard=f"SELECT {_Q217_SIG} FROM documents",
    golden_domain=frozenset(_G217),
)
def q217_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization (Kudo 2018, SentencePiece's model): the
    E-step of unigram tokenizer training — Viterbi-segment every word
    into the highest-likelihood piece sequence under a fixed piece
    vocabulary, and report per-piece usage (the statistic the M-step
    prunes on). Completes the tokenizer-training surface next to BPE
    pair counting (q201) and merge application (q215).

    Piece vocabulary (deterministic, data-derived): every single
    character (guarantees coverage) plus the top-200 substrings of
    length 2–4 by frequency-weighted count over the DISTINCT-word
    table; scores are integer micro-nat log-probs ln(cnt/total). The
    per-word DP maximizes the SUM of piece scores with ties broken
    toward FEWER pieces then lexicographically-earlier segmentation,
    so the result is deterministic.

    Spark-first shape: everything corpus-scale is the ONE word-count
    shuffle (q201's argument); candidate counting explodes substrings
    of the Zipf-bounded distinct-word table; the bounded piece table
    (≤ 200 + |alphabet| rows) collects to the driver — a vocabulary
    artifact, the k-means-centroid precedent — and rides into an
    Arrow-batched mapInPandas closure that runs the O(len·L) Viterbi
    per distinct word. Python touches ONLY vocabulary-sized data; at
    100 TB the corpus pass stays JVM-side. GOLDEN-ORACLE-CHECKED
    since r12 (VERDICT r11 item 6, the q125/q185 method): no SQL can
    run a sequential DP, so tools/make_golden.py recomputes the whole
    pipeline — vocab induction through Viterbi, same tie-break
    contract — in one pure-Python process and pins the result per
    fixture signature; off the pinned corpora the guard falls back to
    rows-only. Optimality is additionally pinned in pytest by
    brute-force enumeration on short words plus coverage/score
    invariants on all.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Candidate substrings (len 2..4) weighted by word freq, JVM-side.
    subs = (
        words.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(2), F.lit(_UNI_MAX_PIECE)),
                        # Guard: sequence(1, 0) DESCENDS in Spark (the
                        # q201 footgun), fabricating out-of-range
                        # starts for words shorter than l — emit an
                        # empty list for those (length, l) combos.
                        lambda l: F.when(
                            F.length("word") >= l,
                            F.transform(
                                F.sequence(
                                    F.lit(1), F.length("word") - l + 1
                                ),
                                lambda i: F.expr("word").substr(i, l),
                            ),
                        ).otherwise(
                            F.array().cast("array<string>")
                        ),
                    )
                )
            ).alias("piece"),
        )
        .filter(F.length("piece") >= 2)
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "piece")
        .limit(_UNI_TOP_PIECES)
    )
    chars = (
        words.select(
            "freq",
            F.explode(F.split("word", "")).alias("piece"),
        )
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    piece_rows = chars.unionByName(subs).groupBy("piece").agg(
        F.max("cnt").alias("cnt")
    )
    pieces = {r["piece"]: r["cnt"] for r in piece_rows.collect()}
    total = sum(pieces.values())
    import math

    score = {
        p: int(round(1_000_000 * math.log(c / total))) for p, c in pieces.items()
    }

    out_schema = (
        "word string, freq long, segmentation string, n_pieces long, "
        "score_micro long"
    )

    def viterbi_batches(batches):
        import pandas as pd

        for pdf in batches:
            segs, nps, scores = [], [], []
            for w in pdf["word"]:
                # dp[i] = (score, -n_pieces, seg_tuple) best for w[:i];
                # max by score, then fewer pieces, then lexicographic.
                dp = [None] * (len(w) + 1)
                dp[0] = (0, 0, ())
                for i in range(1, len(w) + 1):
                    best = None
                    for l in range(1, min(_UNI_MAX_PIECE, i) + 1):
                        p = w[i - l : i]
                        prev = dp[i - l]
                        if prev is None or p not in score:
                            continue
                        cand = (
                            prev[0] + score[p],
                            prev[1] - 1,
                            prev[2] + (p,),
                        )
                        if (
                            best is None
                            or (cand[0], cand[1]) > (best[0], best[1])
                            or (
                                (cand[0], cand[1]) == (best[0], best[1])
                                and cand[2] < best[2]
                            )
                        ):
                            best = cand
                    dp[i] = best
                fin = dp[len(w)]
                segs.append("|".join(fin[2]))
                nps.append(-fin[1])
                scores.append(fin[0])
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "freq": pdf["freq"],
                    "segmentation": segs,
                    "n_pieces": nps,
                    "score_micro": scores,
                }
            )

    return (
        words.mapInPandas(viterbi_batches, schema=out_schema)
        .orderBy(F.desc("freq"), "word")
        .limit(50)
    )


# --- q359: length-bucketed batching efficiency (round 6) -------------------
_LB_BATCH = 32  # examples per batch

_DUCK_LENGTH_BUCKET = f"""
    WITH d AS (
      SELECT doc_id, len({DUCK_TOKENIZE})
               AS n_toks
      FROM documents),
         arrival AS (
      SELECT n_toks,
             (row_number() OVER (ORDER BY doc_id) - 1) // {_LB_BATCH}
               AS batch
      FROM d),
         bucketed AS (
      SELECT n_toks,
             (row_number() OVER (ORDER BY n_toks, doc_id) - 1)
               // {_LB_BATCH} AS batch
      FROM d),
         wa AS (
      SELECT CAST(sum(mx * n - s) AS BIGINT) AS waste,
             CAST(sum(mx * n) AS BIGINT) AS padded
      FROM (SELECT max(n_toks) AS mx, count(*) AS n,
                   sum(n_toks) AS s
            FROM arrival GROUP BY batch)),
         wb AS (
      SELECT CAST(sum(mx * n - s) AS BIGINT) AS waste,
             CAST(sum(mx * n) AS BIGINT) AS padded
      FROM (SELECT max(n_toks) AS mx, count(*) AS n,
                   sum(n_toks) AS s
            FROM bucketed GROUP BY batch))
    SELECT wa.waste AS arrival_waste_toks,
           CAST(round(10000.0 * wa.waste / wa.padded) AS BIGINT)
             AS arrival_waste_bp,
           wb.waste AS bucketed_waste_toks,
           CAST(round(10000.0 * wb.waste / wb.padded) AS BIGINT)
             AS bucketed_waste_bp,
           CAST(round(10000.0 * (wa.waste - wb.waste) / wa.waste) AS BIGINT)
             AS waste_cut_bp
    FROM wa CROSS JOIN wb
"""


@register("q359_length_bucket_packing", _DUCK_LENGTH_BUCKET)
def q359_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching efficiency (the bucketing trick every
    training loader ships — fairseq/HF group_by_length): padding a
    batch to its longest member wastes max-len minus each example's
    length, so batching by LENGTH RANK instead of arrival order
    collapses within-batch length spread and the waste with it. The
    query builds both batchings ({_LB_BATCH} docs per batch), measures
    padded-token waste under each, and reports the cut — the number
    that justifies the loader complexity (typically 30-60% of padding
    eliminated).

    Determinism: batch assignment is integer rank division with
    doc_id tie-breaks; waste is exact integer token arithmetic.

    100 TB shape: each batching is ONE rank window (arrival:
    partition-friendly id order; length: the documented production
    swap is bucketed-by-length-range assignment — histogram ranks,
    q281's pattern — which avoids the global sort while preserving
    the waste profile); per-batch stats are combinable aggregates."""
    docs = load_table(spark, sf_dir, "documents")

    d = materialize(docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_toks")
    ))  # the length table feeds both batchings
    wa_w = Window.orderBy("doc_id")
    wb_w = Window.orderBy("n_toks", "doc_id")

    def waste(assigned: DataFrame):
        per = assigned.groupBy("batch").agg(
            F.max("n_toks").alias("mx"),
            F.count(F.lit(1)).alias("n"),
            F.sum("n_toks").alias("s"),
        )
        return per.agg(
            F.sum(F.col("mx") * F.col("n") - F.col("s"))
            .cast("bigint")
            .alias("waste"),
            F.sum(F.col("mx") * F.col("n")).cast("bigint").alias("padded"),
        )

    arrival = d.select(
        "n_toks",
        F.expr(f"(row_number() OVER (ORDER BY doc_id) - 1) div {_LB_BATCH}")
        .alias("batch"),
    )
    bucketed = d.select(
        "n_toks",
        ((F.row_number().over(wb_w) - 1) / _LB_BATCH)
        .cast("bigint")
        .alias("batch"),
    )
    wa = waste(arrival)
    wb = waste(bucketed).select(
        F.col("waste").alias("waste_b"), F.col("padded").alias("padded_b")
    )
    return wa.crossJoin(F.broadcast(wb)).select(
        F.col("waste").alias("arrival_waste_toks"),
        F.round(10000.0 * F.col("waste") / F.col("padded"))
        .cast("bigint")
        .alias("arrival_waste_bp"),
        F.col("waste_b").alias("bucketed_waste_toks"),
        F.round(10000.0 * F.col("waste_b") / F.col("padded_b"))
        .cast("bigint")
        .alias("bucketed_waste_bp"),
        F.round(
            10000.0 * (F.col("waste") - F.col("waste_b")) / F.col("waste")
        )
        .cast("bigint")
        .alias("waste_cut_bp"),
    )


# --- q387: prefix-cache savings audit (round 6) -----------------------------
_PFX_TOKENS = 8  # shared-prefix key length

_DUCK_PREFIX_CACHE = f"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents),
         keyed AS (
      SELECT doc_id,
             len(toks) AS n_toks,
             array_to_string(toks[1:{_PFX_TOKENS}], ' ') AS pfx
      FROM d WHERE len(toks) >= {_PFX_TOKENS}),
         grp AS (
      SELECT pfx, CAST(count(*) AS BIGINT) AS n_prompts,
             CAST(sum(n_toks) AS BIGINT) AS total_toks,
             CAST((count(*) - 1) * {_PFX_TOKENS} AS BIGINT) AS saved_toks
      FROM keyed GROUP BY pfx),
         agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_prefixes,
             CAST(sum(n_prompts) AS BIGINT) AS n_prompts,
             CAST(sum(CASE WHEN n_prompts > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_prefixes,
             CAST(sum(saved_toks) AS BIGINT) AS saved_toks,
             CAST(sum(total_toks) AS BIGINT) AS total_toks
      FROM grp)
    SELECT n_prompts, n_prefixes, n_shared_prefixes, saved_toks, total_toks,
           CAST(round(10000.0 * saved_toks / total_toks) AS BIGINT)
             AS savings_bp
    FROM agg
"""


@register("q387_prefix_cache_savings", _DUCK_PREFIX_CACHE)
def q387_prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache (automatic prompt caching) savings audit — the
    serving-side analysis behind vLLM's prefix caching (Kwon et al.,
    SOSP 2023) and SGLang's RadixAttention: bucket prompts by their
    first 8 tokens; every prompt after the first in a bucket re-uses
    the cached prefix KV, so the saved prefill work is
    (bucket_size - 1) x prefix_len tokens. Reports the corpus-level
    fraction of prefill tokens a prefix cache eliminates — the number
    that decides whether the cache is worth its memory.

    Exactness: pure integer token counts from one aggregate.

    100 TB shape: a narrow per-row prefix-key projection, ONE
    map-side-combinable aggregate keyed on the prefix, one bounded
    reduction. The radix-tree generalization (all prefix lengths at
    once) is the documented escalation: explode per-row into
    log-spaced prefix depths, same shape x depth count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    keyed = docs.select(
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(toks, 1, _PFX_TOKENS), " ").alias("pfx"),
    ).filter(F.col("n_toks") >= _PFX_TOKENS)
    grp = keyed.groupBy("pfx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prompts"),
        F.sum("n_toks").cast("bigint").alias("total_toks"),
        ((F.count(F.lit(1)) - 1) * _PFX_TOKENS).cast("bigint").alias("saved_toks"),
    )
    agg = grp.agg(
        F.sum("n_prompts").cast("bigint").alias("n_prompts"),
        F.count(F.lit(1)).cast("bigint").alias("n_prefixes"),
        F.sum(F.when(F.col("n_prompts") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_shared_prefixes"),
        F.sum("saved_toks").cast("bigint").alias("saved_toks"),
        F.sum("total_toks").cast("bigint").alias("total_toks"),
    )
    return agg.select(
        "n_prompts",
        "n_prefixes",
        "n_shared_prefixes",
        "saved_toks",
        "total_toks",
        F.round(10000.0 * F.col("saved_toks") / F.col("total_toks"))
        .cast("bigint")
        .alias("savings_bp"),
    )


# --- q388: speculative-decoding acceptance overlap (round 6) ----------------
_DUCK_SPEC_OVERLAP = """
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE source IN ('src0', 'src1')),
         cnt AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE w <> '' GROUP BY 1, 2),
         tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
         dist AS (
      SELECT cnt.w,
             max(CASE WHEN cnt.source = 'src0'
                      THEN cnt.c * 1.0 / tot.n ELSE 0 END) AS p,
             max(CASE WHEN cnt.source = 'src1'
                      THEN cnt.c * 1.0 / tot.n ELSE 0 END) AS q
      FROM cnt JOIN tot USING (source) GROUP BY cnt.w),
         agg AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CAST(round(1000000000 * least(p, q)) AS BIGINT))
                  AS BIGINT) AS acc_n,
             CAST(sum(CAST(round(1000000000 * abs(p - q) / 2) AS BIGINT))
                  AS BIGINT) AS tv_n
      FROM dist)
    SELECT vocab,
           CAST(round(acc_n / 1000.0) AS BIGINT) AS accept_rate_e6,
           CAST(round(tv_n / 1000.0) AS BIGINT) AS tv_distance_e6,
           CAST(round((1000000000 - tv_n) / 1000.0) AS BIGINT)
             AS one_minus_tv_e6
    FROM agg
"""


@register("q388_speculative_overlap", _DUCK_SPEC_OVERLAP)
def q388_speculative_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance-rate bound (Leviathan et al.,
    ICML 2023; Chen et al. 2023): when a draft model proposes from q
    and the target verifies against p, the per-token acceptance
    probability is SUM_x min(p(x), q(x)) = 1 - TV(p, q). Estimated
    here between the unigram distributions of two corpus sources — the
    distribution-overlap computation that decides whether a draft
    model is close enough to pay for itself, and the serving-side
    sibling of q241's JSD source-divergence audit.

    Exactness: both distributions are rationals of integer counts over
    the shared vocab; per-term min/abs-diff quantize to nano before
    the vocab sum (associative integer pooling), and the identity
    accept = 1 - TV is visible in the output to 1e-6.

    100 TB shape: one token aggregate per the two sources (map-side
    combined), a vocab-bounded full-outer alignment, a one-row
    reduction."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    cnt = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    dist = (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("w")
        .agg(
            F.max(
                F.when(F.col("source") == "src0", F.col("c") * 1.0 / F.col("n"))
                .otherwise(0.0)
            ).alias("p"),
            F.max(
                F.when(F.col("source") == "src1", F.col("c") * 1.0 / F.col("n"))
                .otherwise(0.0)
            ).alias("q"),
        )
    )
    agg = dist.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(quantise(F.least(F.col("p"), F.col("q")), 9))
        .cast("bigint")
        .alias("acc_n"),
        F.sum(
            F.round(1000000000 * F.abs(F.col("p") - F.col("q")) / 2).cast("bigint")
        )
        .cast("bigint")
        .alias("tv_n"),
    )
    return agg.select(
        "vocab",
        F.round(F.col("acc_n") / 1000.0).cast("bigint").alias("accept_rate_e6"),
        F.round(F.col("tv_n") / 1000.0).cast("bigint").alias("tv_distance_e6"),
        F.round((1000000000 - F.col("tv_n")) / 1000.0)
        .cast("bigint")
        .alias("one_minus_tv_e6"),
    )


# --- q389: rank-disagreement audit via Spearman footrule (round 6) ----------
_DUCK_FOOTRULE = """
    WITH feat AS (
      SELECT doc_id, n_chars,
             len(list_filter(string_split(lower(text), ' '),
                             w -> length(w) >= 6)) AS n_rare
      FROM documents),
         rk AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r_len,
             row_number() OVER (ORDER BY n_rare DESC, doc_id) AS r_rare
      FROM feat),
         agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(r_len - r_rare)) AS BIGINT) AS footrule,
             CAST(sum(CASE WHEN r_len <= 50 AND r_rare <= 50
                           THEN 1 ELSE 0 END) AS BIGINT) AS top50_overlap
      FROM rk)
    SELECT n, footrule, top50_overlap,
           -- normalize by the maximum footrule distance
           CAST(round(10000.0 * footrule
                / (CASE WHEN n % 2 = 0 THEN n * 1.0 * n / 2
                        ELSE (n * 1.0 * n - 1) / 2 END)) AS BIGINT)
             AS footrule_norm_bp
    FROM agg
"""


@register("q389_rank_footrule", _DUCK_FOOTRULE)
def q389_rank_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordering disagreement via Spearman's footrule
    (Spearman 1906; Diaconis & Graham, JRSS-B 1977 prove it is within
    2x of Kendall distance): rank documents by two difficulty proxies
    (length vs rare-word count) and sum |rank difference| — plus the
    top-50 overlap the curriculum actually consumes. The audit that
    says whether two difficulty scores would produce materially
    different training orders (q384's tau asks the same of 25 groups;
    the footrule scales to full-corpus rankings because it needs no
    pair join).

    Exactness: ranks are integers from deterministic tie-broken
    orderings; the footrule and its normalizer are exact integers.

    100 TB shape: the two rank windows are the one genuinely global
    operation (a total order IS the deliverable) — at scale they
    become q203-style range-partitioned rank (sample boundaries, rank
    within range partitions, add offsets: one extra pass, no single
    reducer); the footrule itself is then a narrow per-row |a - b|
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "n_chars",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda w: F.length(w) >= 6,
            )
        ).alias("n_rare"),
    )
    w_len = Window.orderBy(F.desc("n_chars"), "doc_id")
    w_rare = Window.orderBy(F.desc("n_rare"), "doc_id")
    rk = feat.select(
        F.row_number().over(w_len).alias("r_len"),
        F.row_number().over(w_rare).alias("r_rare"),
    )
    agg = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.abs(F.col("r_len") - F.col("r_rare")))
        .cast("bigint")
        .alias("footrule"),
        F.sum(
            F.when((F.col("r_len") <= 50) & (F.col("r_rare") <= 50), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("top50_overlap"),
    )
    max_fr = F.when(
        F.col("n") % 2 == 0, F.col("n") * 1.0 * F.col("n") / 2
    ).otherwise((F.col("n") * 1.0 * F.col("n") - 1) / 2)
    return agg.select(
        "n",
        "footrule",
        "top50_overlap",
        F.round(10000.0 * F.col("footrule") / max_fr)
        .cast("bigint")
        .alias("footrule_norm_bp"),
    )
