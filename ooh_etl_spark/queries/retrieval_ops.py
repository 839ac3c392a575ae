"""Round-4 coverage wave: hybrid retrieval & vector compression.

Two operators every 100 TB retrieval stack needs beyond plain BM25
(q135) and brute-force/ANN cosine (q30/q31/q53):

- Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09): the
  standard way to merge a keyword ranking and a semantic ranking
  without score calibration — fuse on RANKS, which are integers, so
  the fusion is exact and engine-identical by construction.
- Product quantization (Jégou, Douze & Schmid, TPAMI 2011): the
  compression behind IVF-PQ indexes — split each vector into M
  subvectors, code each against a per-subspace codebook, store M small
  codes instead of D floats (here 64 floats → 8 codes = 32× smaller).
  At 100 TB of embeddings, PQ is the difference between an index that
  fits in executor memory and one that doesn't.

Numeric policy: ranks and codes are integers; the only cross-row float
reductions (PQ distance folds) run in identical left-to-right fold
order in both engines, and per-row outputs are quantized to integer
units (ppm / nano) before any cross-engine compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE, tokenize
from ooh_etl_spark.operators.similarity import cosine, dot, l2_norm, sq_dist
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table, parallelize_rows

# --- q158: hybrid search, reciprocal-rank fusion -------------------------
_RRF_K = 60  # the SIGIR'09 constant
_RANK_DEPTH = 20  # fuse the top-20 of each ranking
_TOP = 10
_K1 = 1.2
_B = 0.75
_QUERY_TERMS = ("spark", "table", "merge")
_QUERY_VEC = 0  # query-by-example: vec 0's embedding is the semantic query

_DUCK_RRF = f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM d),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('spark', 'table', 'merge')
      GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         bm AS (
      SELECT tf.doc_id,
             sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                 * (tf.tf * ({_K1} + 1))
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                     / (stats.sum_dl * 1.0 / stats.n_docs))))
               AS score
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats GROUP BY tf.doc_id),
         bm_rank AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY CAST(round(score * 10000) AS BIGINT) DESC, doc_id)
               AS r_bm25
      FROM bm),
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = {_QUERY_VEC}),
         cos AS (
      SELECT vec_id AS doc_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cos
      FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
            WHERE vec_id != {_QUERY_VEC}) CROSS JOIN q),
         cos_rank AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY CAST(round(cos * 10000) AS BIGINT) DESC, doc_id)
               AS r_cos
      FROM cos),
         fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id, b.r_bm25, c.r_cos,
             coalesce(1.0 / ({_RRF_K} + b.r_bm25), 0)
               + coalesce(1.0 / ({_RRF_K} + c.r_cos), 0) AS rrf
      FROM (SELECT * FROM bm_rank WHERE r_bm25 <= {_RANK_DEPTH}) b
      FULL JOIN (SELECT * FROM cos_rank WHERE r_cos <= {_RANK_DEPTH}) c
        USING (doc_id))
    SELECT doc_id, r_bm25, r_cos,
           CAST(round(rrf * 1000000) AS BIGINT) AS rrf_ppm
    FROM fused
    ORDER BY rrf_ppm DESC, doc_id
    LIMIT {_TOP}
"""


@register("q158_rrf_fusion", _DUCK_RRF)
def q158_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranking (q135's scorer, 3-term
    query) and semantic ranking (cosine against vec 0's embedding,
    query-by-example with the example excluded) fused by reciprocal
    rank: rrf = Σ 1/(60 + rank). Both rankings rank on QUANTIZED
    scores (basis points) with doc_id tie-breaks, so the integer ranks
    — and therefore the fusion — are engine-identical even where raw
    float ordering could tie.

    100 TB shape: each ranking is an independent top-k (BM25 work
    scales with matching postings, cosine with the ANN candidate set —
    q53's IVF cells at scale); the fusion itself joins two K-row rank
    lists — driver-trivial, broadcast either side. No score
    calibration step, which is the whole point of RRF."""

    docs = load_documents(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    # BM25 scoring — q135's expression, unlimited (rank list cut below)
    d = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    # checkpoint dl and tf (the q135 fix): each feeds two consumers,
    # and without the checkpoints the tokenizing pass re-ran per
    # consumer (audited: 4 parquet scans of documents; now 2).
    dl = materialize(d.select("doc_id", F.size("toks").alias("dl")))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    tok = d.select("doc_id", F.explode_outer("toks").alias("term")).filter(
        F.col("term").isin(*_QUERY_TERMS)
    )
    tf = materialize(
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl") * 1.0 / F.col("n_docs")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * (F.col("tf") * (_K1 + 1))
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / avgdl))
    )
    bm = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    bm_rank = bm.select(
        "doc_id",
        F.row_number()
        .over(
            Window.orderBy(
                quantise("score", 4).desc(), "doc_id"
            )
        )
        .alias("r_bm25"),
    ).filter(F.col("r_bm25") <= _RANK_DEPTH)

    # Cosine ranking against the example vector (broadcast 1-row query)
    q = emb.filter(F.col("vec_id") == _QUERY_VEC).select(
        F.col("embedding").alias("qv")
    )
    cos = (
        emb.filter(F.col("vec_id") != _QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )
    cos_rank = cos.select(
        "doc_id",
        F.row_number()
        .over(
            Window.orderBy(
                quantise("cos", 4).desc(), "doc_id"
            )
        )
        .alias("r_cos"),
    ).filter(F.col("r_cos") <= _RANK_DEPTH)

    rrf = F.coalesce(1.0 / (_RRF_K + F.col("r_bm25")), F.lit(0.0)) + F.coalesce(
        1.0 / (_RRF_K + F.col("r_cos")), F.lit(0.0)
    )
    return (
        bm_rank.join(cos_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_bm25",
            "r_cos",
            quantise(rrf, 6).alias("rrf_ppm"),
        )
        .orderBy(F.col("rrf_ppm").desc(), "doc_id")
        .limit(_TOP)
    )


# --- q159: product quantization --------------------------------------------
_PQ_M = 8  # subspaces
_PQ_D = 8  # dims per subspace (8 x 8 = the 64-dim fixture embedding)
_PQ_K = 16  # codebook entries per subspace (first-K deterministic rule)

_DUCK_PQ = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
         sub AS (
      SELECT vec_id, s, e[s * {_PQ_D} + 1 : s * {_PQ_D} + {_PQ_D}] AS sub
      FROM v CROSS JOIN s),
         cb AS (
      SELECT vec_id AS code_id, s, sub AS csub FROM sub
      WHERE vec_id < {_PQ_K}),
         dist AS (
      SELECT sub.vec_id, sub.s, cb.code_id,
             list_aggregate(
               list_transform(generate_series(1, {_PQ_D}),
                 i -> (sub[i] - csub[i]) * (sub[i] - csub[i])), 'sum') AS dist
      FROM sub JOIN cb USING (s)),
         best AS (
      SELECT vec_id, s, code_id, dist, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY dist, code_id) AS rk
      FROM dist)
    SELECT vec_id,
           string_agg(code_id, '-' ORDER BY s) AS pq_code,
           CAST(sum(CAST(round(dist * 1000000000) AS BIGINT)) AS BIGINT) AS err_nano
    FROM best WHERE rk = 1
    GROUP BY vec_id
    ORDER BY vec_id
"""


@register("q159_pq_codes", _DUCK_PQ)
def q159_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011): every 64-dim
    embedding split into 8 contiguous 8-dim subvectors, each coded as
    the nearest of 16 per-subspace codebook entries (codebook = the
    first 16 vectors' subvectors — deterministic first-K rule, same as
    q102/q151). Output: the 8-code string (the compressed vector, 32×
    smaller than the floats) and total squared reconstruction error in
    integer nano-units (order-free bigint sum — the cents policy).

    Engine-exactness: the distance fold runs left-to-right over the
    8 dims in both engines; argmin ties break on code_id; codes are
    integers so the code string is exact.

    100 TB shape: the codebook is M*K = 128 rows — broadcast; coding is
    a narrow per-row pass over the corpus (posexplode to M subvectors,
    broadcast-join, argmin, regroup by vec_id — all map-side except the
    one regroup shuffle keyed on vec_id). In production the codebook
    comes from k-means (q102's fit loop) instead of first-K; the coding
    pass — the 100 TB part — is identical."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    subs = v.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("e", s * _PQ_D + 1, _PQ_D) for s in range(_PQ_M)])
        ).alias("s", "sub"),
    )
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code_id"),
        F.col("s").alias("cs"),
        F.col("sub").alias("csub"),
    )
    dist = sq_dist(F.col("sub"), F.col("csub"))
    # argmin as min(struct(dist, code_id)): lexicographic struct min ==
    # (min dist, tie -> min code_id), identical to the oracle's
    # row_number ORDER BY dist, code_id — but map-side combinable, so
    # the 16 candidate rows per (vec, subspace) collapse BEFORE the
    # shuffle instead of riding through a window sort.
    best = (
        subs.join(F.broadcast(cb), F.col("s") == F.col("cs"))
        .withColumn("dist", dist)
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("dist", "code_id")).alias("m"))
        .select("vec_id", "s", F.col("m.dist").alias("dist"), F.col("m.code_id").alias("code_id"))
    )
    code_str = F.concat_ws(
        "-",
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code_id"))),
            lambda t: t.getField("code_id").cast("string"),
        ),
    )
    return (
        best.groupBy("vec_id")
        .agg(
            code_str.alias("pq_code"),
            F.sum(quantise("dist", 9)).alias("err_nano"),
        )
        .orderBy("vec_id")
    )


# --- q290: binary quantization + Hamming-distance search -----------------
_BQ_QUERIES = 8  # query vectors broadcast against the corpus
_BQ_TOPK = 5

_DUCK_BQ = f"""
    WITH sg AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         words AS (
      SELECT vec_id,
             CAST(list_aggregate(list_transform(generate_series(1, 32),
               i -> CASE WHEN e[i] > 0 THEN 1::BIGINT << (i - 1)
                         ELSE 0::BIGINT END), 'sum') AS BIGINT) AS w0,
             CAST(list_aggregate(list_transform(generate_series(33, 64),
               i -> CASE WHEN e[i] > 0 THEN 1::BIGINT << (i - 33)
                         ELSE 0::BIGINT END), 'sum') AS BIGINT) AS w1
      FROM sg),
         scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
               AS hamming
      FROM (SELECT * FROM words WHERE vec_id < {_BQ_QUERIES}) q
      JOIN (SELECT * FROM words WHERE vec_id >= {_BQ_QUERIES}) c ON true),
         ranked AS (
      SELECT query_id, vec_id, CAST(hamming AS BIGINT) AS hamming,
             row_number() OVER (
               PARTITION BY query_id ORDER BY hamming, vec_id) AS rk
      FROM scored)
    SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id, hamming
    FROM ranked WHERE rk <= {_BQ_TOPK}
    ORDER BY query_id, rk
"""


@register("q290_binary_quantize_hamming", _DUCK_BQ)
def q290_binary_quantize_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) vector quantization + Hamming-distance search
    — the 1-bit end of the compression spectrum next to int8 (q77) and
    PQ (q159): each 64-float embedding collapses to TWO 32-bit words
    (64 bits total, a 32x memory cut), and similarity becomes
    popcount(XOR) — pure integer ALU work that whole-stage codegen
    compiles to JVM intrinsics (Long.bitCount), no floats anywhere.
    This is the candidate-generation half of modern binary-quantized
    indexes (sign-random-projection LSH, Charikar STOC'02; the rerank
    half at full precision is q30's brute-force cosine).

    Bit packing uses a fold over ``sequence`` with ``shiftleft`` —
    0-indexed on Spark, 1-indexed in the DuckDB twin — split into two
    32-bit words so no bit ever reaches the int64 sign position (a
    ``1L << 63`` word would compare as negative and differ between
    engines' unsigned-vs-signed displays).

    100 TB shape: quantization is a narrow per-row map (no shuffle);
    the {_BQ_QUERIES}-row query side broadcasts, so search is one scan
    of the packed corpus with a per-row integer distance — the
    map-side top-k then collapses in TakeOrderedAndProject via the
    rank filter. At a billion vectors the packed corpus is 8 GB
    (vs 256 GB of floats) — the difference between an in-memory
    broadcast index and a disk-resident one.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    words = emb.select(
        "vec_id",
        F.expr(
            "aggregate(transform(sequence(0, 31), "
            "i -> IF(embedding[i] > 0, shiftleft(1L, i), 0L)), "
            "0L, (a, x) -> a + x)"
        ).alias("w0"),
        F.expr(
            "aggregate(transform(sequence(32, 63), "
            "i -> IF(embedding[i] > 0, shiftleft(1L, i - 32), 0L)), "
            "0L, (a, x) -> a + x)"
        ).alias("w1"),
    )
    q = words.filter(F.col("vec_id") < _BQ_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    c = words.filter(F.col("vec_id") >= _BQ_QUERIES)
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (
            F.bit_count(F.expr("w0 ^ q0")) + F.bit_count(F.expr("w1 ^ q1"))
        )
        .cast("bigint")
        .alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _BQ_TOPK)
        .select("query_id", "rk", "vec_id", "hamming")
        .orderBy("query_id", "rk")
    )


# --- q334: mutual-nearest-neighbor mining (round 6) ------------------------
_DUCK_MNN = """
    WITH a AS (
      SELECT vec_id AS ida, embedding::DOUBLE[] AS va FROM embeddings
      WHERE vec_id % 2 = 0),
         b AS (
      SELECT vec_id AS idb, embedding::DOUBLE[] AS vb FROM embeddings
      WHERE vec_id % 2 = 1),
         s AS (
      SELECT ida, idb,
             CAST(round(1000000.0 * list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va))
                  * sqrt(list_dot_product(vb, vb)))) AS BIGINT) AS cos_e6
      FROM a CROSS JOIN b),
         nn_ab AS (
      SELECT ida, idb, cos_e6 FROM (
        SELECT *, row_number() OVER (PARTITION BY ida
                                     ORDER BY cos_e6 DESC, idb) AS rk
        FROM s) WHERE rk = 1),
         nn_ba AS (
      SELECT ida, idb FROM (
        SELECT *, row_number() OVER (PARTITION BY idb
                                     ORDER BY cos_e6 DESC, ida) AS rk
        FROM s) WHERE rk = 1)
    SELECT nn_ab.ida AS id_a, nn_ab.idb AS id_b, nn_ab.cos_e6
    FROM nn_ab JOIN nn_ba ON nn_ab.ida = nn_ba.ida AND nn_ab.idb = nn_ba.idb
    ORDER BY id_a
"""


@register("q334_mutual_nn_pairs", _DUCK_MNN)
def q334_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor pair mining (the margin-free core of
    bitext/parallel-data mining — Artetxe & Schwenk ACL'19's
    candidate rule; also the matching step in CycleGAN-style
    alignment): split the corpus into two sets (even/odd ids standing
    in for two languages' embeddings), find each side's nearest
    neighbor on the other, and keep pairs where the choice is MUTUAL
    — a's best is b AND b's best is a. Mutuality kills the hub
    problem (a vector that is everyone's neighbor wins only the one
    pair it reciprocates), which is why MNN beats one-directional
    top-1 for alignment.

    Determinism: cosines quantize to e6 with id tie-breaks before the
    per-side argmax windows; the mutual join is exact.

    100 TB shape: the score table partitions by query id for one
    argmax pass and by candidate id for the other — two windows over
    the same co-keyed scores, then an equi-join of two |side|-row
    argmax tables. At 10^8-vector sides the score table comes from an
    ANN candidate generator (q53's cells) instead of the cross
    product; the mutuality join is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va")
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("idb"), F.col("v").alias("vb")
    )
    s = materialize(
        a.crossJoin(b)
        .select(
            "ida",
            "idb",
            F.round(
                1000000.0
                * dot(F.col("va"), F.col("vb"))
                / (l2_norm(F.col("va")) * l2_norm(F.col("vb")))
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
        # the score table feeds BOTH argmax windows
    )
    wa = Window.partitionBy("ida").orderBy(F.desc("cos_e6"), F.asc("idb"))
    wb = Window.partitionBy("idb").orderBy(F.desc("cos_e6"), F.asc("ida"))
    nn_ab = (
        s.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("ida", "idb", "cos_e6")
    )
    nn_ba = (
        s.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(F.col("ida").alias("ida2"), F.col("idb").alias("idb2"))
    )
    return (
        nn_ab.join(
            nn_ba,
            (F.col("ida") == F.col("ida2")) & (F.col("idb") == F.col("idb2")),
        )
        .select(
            F.col("ida").alias("id_a"),
            F.col("idb").alias("id_b"),
            "cos_e6",
        )
        .orderBy("id_a")
    )


# --- q334b: LSH-candidate mutual-NN funnel (round 11) -----------------------
# Multi-band sign-random-projection blocking: 4 bands x 4 hyperplanes
# (q28's OR-amplification over q31b's deterministic SRP machinery).
# Plane components are md5-derived integer literals with an
# "mnn"-scoped seed (independent of q31b's planes), inlined into BOTH
# engines so they never compute them.
_MNN_BANDS = 4
_MNN_BITS = 4
_MNN_DIM = 64


def _mnn_planes() -> list[list[list[int]]]:
    import hashlib

    return [
        [
            [
                int(
                    hashlib.md5(f"mnn{b}:{p}:{d}".encode()).hexdigest()[:8],
                    16,
                )
                % 2001
                - 1000
                for d in range(_MNN_DIM)
            ]
            for p in range(_MNN_BITS)
        ]
        for b in range(_MNN_BANDS)
    ]


_MNN_PLANES = _mnn_planes()


def _mnn_duck_bucket(band: int, vec: str) -> str:
    terms = []
    for p, plane in enumerate(_MNN_PLANES[band]):
        lst = "[" + ", ".join(str(h) for h in plane) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {_MNN_DIM}),"
            f" d -> CAST(round(1000000 * {vec}[d] * ({lst})[d]) AS BIGINT)))"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_DUCK_MNN_FUNNEL = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {", ".join(_mnn_duck_bucket(b, "(embedding::DOUBLE[])") + f" AS bk{b}" for b in range(_MNN_BANDS))}
      FROM embeddings),
         a AS (SELECT vec_id AS ida, v AS va, bk0, bk1, bk2, bk3 FROM e
               WHERE vec_id % 2 = 0),
         b AS (SELECT vec_id AS idb, v AS vb, bk0, bk1, bk2, bk3 FROM e
               WHERE vec_id % 2 = 1),
         cand AS (
      SELECT DISTINCT ida, idb,
             CAST(round(1000000.0 * list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va))
                  * sqrt(list_dot_product(vb, vb)))) AS BIGINT) AS cos_e6
      FROM a JOIN b ON (a.bk0 = b.bk0 OR a.bk1 = b.bk1
                        OR a.bk2 = b.bk2 OR a.bk3 = b.bk3)),
         nn_ab AS (
      SELECT ida, idb, cos_e6 FROM (
        SELECT *, row_number() OVER (PARTITION BY ida
                                     ORDER BY cos_e6 DESC, idb) AS rk
        FROM cand) WHERE rk = 1),
         nn_ba AS (
      SELECT ida, idb FROM (
        SELECT *, row_number() OVER (PARTITION BY idb
                                     ORDER BY cos_e6 DESC, ida) AS rk
        FROM cand) WHERE rk = 1)
    SELECT nn_ab.ida AS id_a, nn_ab.idb AS id_b, nn_ab.cos_e6
    FROM nn_ab JOIN nn_ba ON nn_ab.ida = nn_ba.ida AND nn_ab.idb = nn_ba.idb
    ORDER BY id_a
"""


@register("q334b_mutual_nn_funnel", _DUCK_MNN_FUNNEL)
def q334b_mutual_nn_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor mining through an LSH candidate funnel
    — the scale-path twin of q334 (VERDICT r10 item 4: the last
    all-pairs disposition without a registered machine-checked cure
    of itself; the q27b/q151c/q423b/q191b funnel discipline): instead
    of the |A| x |B| score cross product, candidate pairs come from a
    4-band x 4-bit deterministic sign-random-projection blocking
    (Charikar STOC'02 sign bits; q28's band-OR amplification; q31b's
    inlined-integer-literal plane trick makes it oracle-checkable),
    each candidate is verified with the EXACT e6-quantized cosine,
    and the per-side argmax + mutuality filter run on the verified
    candidate table. Same output contract as q334; the funnel is a
    recall<=1 approximation whose argmaxes equal q334's whenever each
    side's true best collides in >=1 band — machine-checked equal on
    a corpus where collision is guaranteed by construction
    (tests/test_retrieval_ops.py::test_q334b_equals_q334_when_recall_is_total).

    Determinism: plane components are md5-derived integer literals
    inlined into both engines; sign bits come from order-free integer
    sums (per-term e6 quantization BEFORE the sum, on the DOUBLE-cast
    vector so float32 inputs widen identically); cosines quantize to
    e6 with id tie-breaks before the argmax windows.

    100 TB shape: each vector emits 4 (band, bucket) keys; candidates
    meet through the band-bucket equi-join — shuffle volume is the
    posting lists, never |A| x |B| — and the two argmax windows
    partition by ida / idb (no global window). This replaces q334's
    crossJoin score table (the documented q334 stall-cap cure,
    SCALE.md); q334 itself stays registered as the exact oracle
    baseline. Band WIDTH is the at-scale knob: per-band candidate
    volume is ~|A|·|B|/2^bits, so holding per-bucket occupancy
    constant as the corpus grows means bits ∝ log2 n (standard LSH
    sizing; measured in SCALE.md r11). The registered query pins
    (4, 4) so its oracle literals stay fixed."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def band_bucket(band: int):
        terms = []
        for p, plane in enumerate(_MNN_PLANES[band]):
            arr = ", ".join(str(h) for h in plane)
            terms.append(
                f"(CASE WHEN aggregate(zip_with(v, array({arr}),"
                f" (x, h) -> CAST(round(1000000 * x * h) AS BIGINT)),"
                f" 0L, (acc, t) -> acc + t) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        return F.expr("(" + " + ".join(terms) + ")")

    keyed = emb.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(b).alias("bkt"),
                    )
                    for b in range(_MNN_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "v", F.col("bb.band").alias("band"), F.col("bb.bkt").alias("bkt"))
    a = keyed.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va"), "band", "bkt"
    )
    b = keyed.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("idb"), F.col("v").alias("vb"), "band", "bkt"
    )
    cand = materialize(
        a.join(b, ["band", "bkt"])
        .select(
            "ida",
            "idb",
            F.round(
                1000000.0
                * dot(F.col("va"), F.col("vb"))
                / (l2_norm(F.col("va")) * l2_norm(F.col("vb")))
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
        .distinct()  # a pair colliding in several bands scores once
        # verified candidates feed BOTH argmaxes
    )
    wa = Window.partitionBy("ida").orderBy(F.desc("cos_e6"), F.asc("idb"))
    wb = Window.partitionBy("idb").orderBy(F.desc("cos_e6"), F.asc("ida"))
    nn_ab = (
        cand.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("ida", "idb", "cos_e6")
    )
    nn_ba = (
        cand.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(F.col("ida").alias("ida2"), F.col("idb").alias("idb2"))
    )
    return (
        nn_ab.join(
            nn_ba,
            (F.col("ida") == F.col("ida2")) & (F.col("idb") == F.col("idb2")),
        )
        .select(
            F.col("ida").alias("id_a"),
            F.col("idb").alias("id_b"),
            "cos_e6",
        )
        .orderBy("id_a")
    )


# --- q341: signed-random-projection cosine LSH (round 6) -------------------
_SRP_BITS = 16
_SRP_DIM = 64
# no cosine floor: the fixture's true-pair ceiling is ~0.38, so the
# demonstration output is the full verified candidate set (the
# threshold is the CALLER's knob; the operator is generate + verify)

_DUCK_SRP = f"""
    WITH planes AS (
      SELECT j.j, d.d,
             CASE WHEN substr(md5(j.j || ':' || d.d), 1, 1) >= '8'
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(generate_series(0, {_SRP_BITS - 1})) AS j) j
      CROSS JOIN (SELECT unnest(generate_series(0, {_SRP_DIM - 1})) AS d) d),
         v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         comp AS (
      SELECT vec_id, d.d, e[d.d + 1] AS x
      FROM v CROSS JOIN (SELECT unnest(generate_series(0, {_SRP_DIM - 1}))
                         AS d) d),
         proj AS (
      SELECT comp.vec_id, planes.j,
             CAST(round(1000000.0 * sum(planes.sgn * comp.x)) AS BIGINT)
               AS p_e6
      FROM comp JOIN planes USING (d) GROUP BY 1, 2),
         sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN p_e6 > 0
                           THEN CAST(1 AS BIGINT) << j ELSE 0 END)
                  AS BIGINT) AS sig
      FROM proj GROUP BY vec_id),
         cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS sig_hamming
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id
      WHERE bit_count(xor(a.sig >> 8, b.sig >> 8)) = 0
         OR bit_count(xor(a.sig % 256, b.sig % 256)) = 0),
         verified AS (
      SELECT cand.id_a, cand.id_b, cand.sig_hamming,
             CAST(round(1000000.0 * list_dot_product(va.e, vb.e)
               / (sqrt(list_dot_product(va.e, va.e))
                  * sqrt(list_dot_product(vb.e, vb.e)))) AS BIGINT) AS cos_e6
      FROM cand JOIN v va ON cand.id_a = va.vec_id
                JOIN v vb ON cand.id_b = vb.vec_id
      WHERE cand.sig_hamming <= 1)
    SELECT id_a, id_b, sig_hamming, cos_e6
    FROM verified
    ORDER BY id_a, id_b
"""


@register("q341_srp_lsh_pairs", _DUCK_SRP)
def q341_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH for cosine similarity (Charikar,
    STOC 2002): each vector's {_SRP_BITS}-bit signature takes bit j =
    sign of its projection onto pseudo-random Rademacher plane j
    (entries +/-1 from md5(j:d) — DERIVED, not stored, and
    bit-identical in both engines, so the whole index is an exact
    oracle-checkable function of the data). P[bits agree] =
    1 - angle/pi, so near-duplicate vectors collide; candidates come
    from a 2-band x 8-bit banding (pigeonhole-exact recall at
    signature Hamming <= 1), then exact cosine verifies. This fills
    the angle-LSH slot between q290 (per-dimension sign quantization)
    and q53 (IVF partitions): SRP keeps working when vectors are NOT
    axis-aligned, because the planes re-mix dimensions.

    100 TB shape: projection is one join against the broadcast
    {_SRP_BITS}x{_SRP_DIM} plane table + a (vec, bit)-keyed combinable
    sum; signatures are 2 band rows per vector on the wire; banding
    keeps candidates collision-bounded, never all-pairs. More bits
    or multi-probe banding trade recall for candidate volume with the
    same plan."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    js = spark.range(_SRP_BITS).select(F.col("id").cast("int").alias("j"))
    ds = spark.range(_SRP_DIM).select(F.col("id").cast("int").alias("d"))
    planes = js.crossJoin(ds).select(
        "j",
        "d",
        F.when(
            F.substring(F.md5(F.concat_ws(":", F.col("j"), F.col("d"))), 1, 1)
            >= "8",
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    comp = emb.select(
        "vec_id", F.posexplode("e").alias("d", "x")
    )
    proj = (
        comp.join(F.broadcast(planes), "d")
        .groupBy("vec_id", "j")
        .agg(
            quantise(F.sum(F.col("sgn") * F.col("x")), 6)
            .alias("p_e6")
        )
    )
    sig = materialize(proj.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("p_e6") > 0,
                F.expr("shiftleft(cast(1 as bigint), j)"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("sig")
    ))  # signatures feed both banded-join sides
    bands = sig.select(
        "vec_id",
        "sig",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), (F.col("sig") % 256).alias("bv")),
                F.struct(
                    F.lit(1).alias("band"),
                    F.expr("shiftright(sig, 8)").alias("bv"),
                ),
            )
        ).alias("b"),
    ).select("vec_id", "sig", "b.band", "b.bv")
    a = bands.select(
        F.col("vec_id").alias("id_a"), F.col("sig").alias("sa"), "band", "bv"
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), F.col("sig").alias("sb"), "band", "bv"
    )
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("bit_count(sa ^ sb)").cast("bigint").alias("sig_hamming"),
        )
        .filter(F.col("sig_hamming") <= 1)
        .distinct()
    )
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            "sig_hamming",
            F.round(
                1000000.0
                * dot(F.col("ea"), F.col("eb"))
                / (l2_norm(F.col("ea")) * l2_norm(F.col("eb")))
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
        .orderBy("id_a", "id_b")
    )


# --- q342: multi-vector late-interaction scoring (round 6) -----------------
_MV_DOC = 5  # token-vectors per pseudo-document
_MV_NQ = 4  # query documents
_MV_TOP = 5

_DUCK_MAXSIM = f"""
    WITH v AS (
      SELECT vec_id, vec_id // {_MV_DOC} AS doc,
             embedding::DOUBLE[] AS e
      FROM embeddings),
         q AS (SELECT doc AS qdoc, vec_id AS qv, e AS qe FROM v
               WHERE doc < {_MV_NQ}),
         c AS (SELECT doc AS cdoc, vec_id AS cv, e AS ce FROM v
               WHERE doc >= {_MV_NQ}),
         s AS (
      SELECT q.qdoc, c.cdoc, q.qv,
             max(CAST(round(1000000.0 * list_dot_product(q.qe, c.ce)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(c.ce, c.ce)))) AS BIGINT))
               AS best_e6
      FROM q CROSS JOIN c
      GROUP BY q.qdoc, c.cdoc, q.qv),
         sc AS (
      SELECT qdoc, cdoc, CAST(sum(best_e6) AS BIGINT) AS maxsim_e6
      FROM s GROUP BY qdoc, cdoc),
         ranked AS (
      SELECT qdoc, cdoc, maxsim_e6,
             row_number() OVER (PARTITION BY qdoc
                                ORDER BY maxsim_e6 DESC, cdoc) AS rk
      FROM sc)
    SELECT CAST(qdoc AS BIGINT) AS query_doc, CAST(cdoc AS BIGINT) AS doc,
           maxsim_e6, CAST(rk AS BIGINT) AS rank
    FROM ranked WHERE rk <= {_MV_TOP}
    ORDER BY query_doc, rank
"""


@register("q342_colbert_maxsim", _DUCK_MAXSIM)
def q342_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval scoring (ColBERT's
    MaxSim — Khattab & Zaharia, SIGIR 2020): documents and queries are
    BAGS of token vectors ({_MV_DOC} per pseudo-doc here), and
    score(q, d) = sum over query tokens of the MAX cosine against any
    document token — the operator that beats single-vector retrieval
    on fine-grained matching, expressed as pure relational algebra:
    one scored join, a (query, doc, qtoken)-keyed MAX, a (query,
    doc)-keyed SUM, a per-query top-k window. Per-token cosines
    quantize to e6 BEFORE the max/sum, so ranking ties are
    engine-exact.

    100 TB shape: the query side (panel x tokens) broadcasts; the max
    and sum are map-side-combinable aggregates on co-located keys; at
    production corpus sizes the scored join runs against ANN
    candidates per query token (q53/q341) instead of all tokens —
    identical downstream plan. The token-bag layout (doc = vec_id
    div {_MV_DOC}) is exactly how multi-vector indexes shard."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(f"vec_id div {_MV_DOC}").alias("doc"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    q = emb.filter(F.col("doc") < _MV_NQ).select(
        F.col("doc").alias("qdoc"), F.col("vec_id").alias("qv"),
        F.col("e").alias("qe"),
    )
    c = emb.filter(F.col("doc") >= _MV_NQ).select(
        F.col("doc").alias("cdoc"), F.col("e").alias("ce")
    )
    s = (
        c.crossJoin(F.broadcast(q))
        .select(
            "qdoc",
            "cdoc",
            "qv",
            F.round(
                1000000.0
                * dot(F.col("qe"), F.col("ce"))
                / (l2_norm(F.col("qe")) * l2_norm(F.col("ce")))
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
        .groupBy("qdoc", "cdoc", "qv")
        .agg(F.max("cos_e6").alias("best_e6"))
    )
    sc = s.groupBy("qdoc", "cdoc").agg(
        F.sum("best_e6").cast("bigint").alias("maxsim_e6")
    )
    w = Window.partitionBy("qdoc").orderBy(F.desc("maxsim_e6"), F.asc("cdoc"))
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MV_TOP)
        .select(
            F.col("qdoc").cast("bigint").alias("query_doc"),
            F.col("cdoc").cast("bigint").alias("doc"),
            "maxsim_e6",
            F.col("rk").cast("bigint").alias("rank"),
        )
        .orderBy("query_doc", "rank")
    )


# --- q375: maximal marginal relevance rerank (round 6) ----------------------
_MMR_POOL = 10  # relevance-ranked candidate pool size
_MMR_K = 3  # selections
_MMR_LAMBDA = 0.5  # diversity weight

_DUCK_MMR = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         cand AS (
      SELECT vec_id, v, rel, row_number() OVER (ORDER BY rel DESC, vec_id)
               AS rk
      FROM (SELECT e.vec_id, e.v,
                   list_dot_product(e.v, q.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(q.qv, q.qv))) AS rel
            FROM e CROSS JOIN q WHERE e.vec_id <> 0) s
      QUALIFY rk <= {_MMR_POOL}),
         s1 AS (SELECT vec_id, v, rel FROM cand WHERE rk = 1),
         m2 AS (
      SELECT c.vec_id, c.v, c.rel,
             c.rel - {_MMR_LAMBDA} * (
               list_dot_product(c.v, s1.v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(s1.v, s1.v)))) AS mmr
      FROM cand c CROSS JOIN s1 WHERE c.vec_id <> s1.vec_id),
         s2 AS (SELECT vec_id, v, rel, mmr FROM m2
                ORDER BY mmr DESC, vec_id LIMIT 1),
         m3 AS (
      SELECT c.vec_id, c.rel,
             c.rel - {_MMR_LAMBDA} * greatest(
               list_dot_product(c.v, s1.v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(s1.v, s1.v))),
               list_dot_product(c.v, s2.v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(s2.v, s2.v)))) AS mmr
      FROM cand c CROSS JOIN s1 CROSS JOIN s2
      WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id)),
         s3 AS (SELECT vec_id, rel, mmr FROM m3
                ORDER BY mmr DESC, vec_id LIMIT 1)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS sel_rank, CAST(s1.vec_id AS BIGINT)
               AS vec_id,
             CAST(round(10000 * s1.rel) AS BIGINT) AS rel_bp,
             CAST(round(10000 * s1.rel) AS BIGINT) AS mmr_bp
      FROM s1
      UNION ALL
      SELECT 2, s2.vec_id, CAST(round(10000 * s2.rel) AS BIGINT),
             CAST(round(10000 * s2.mmr) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, s3.vec_id, CAST(round(10000 * s3.rel) AS BIGINT),
             CAST(round(10000 * s3.mmr) AS BIGINT) FROM s3)
    ORDER BY sel_rank
"""


@register("q375_mmr_rerank", _DUCK_MMR)
def q375_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick K=3 results from the top-10
    relevance pool, each step maximizing
    rel - lambda * max-similarity-to-already-selected — the
    diversity-aware rerank that stops q30's raw top-k from returning
    three near-duplicates (and the list-construction complement to
    q342's ColBERT scoring).

    Exactness: relevance and inter-candidate cosines are the q30
    double-fold contract (identical sequential double sums in both
    engines); the greedy argmax tie-breaks on (mmr DESC, vec_id) over
    identical doubles. The oracle unrolls the K=3 greedy steps as
    CTEs.

    100 TB shape: relevance scoring is the q30 broadcast-scan (one
    corpus pass, map-side top-k); the greedy loop then runs on the
    POOL-BOUNDED candidate table — K steps x pool-size cosine
    evaluations, a q322-style bounded parameter-server pattern whose
    driver state is K vectors (the selected set), never the corpus."""

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        parallelize_rows(emb.filter(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            cosine(F.col("embedding"), F.col("qv")).alias("rel"),
        )
    )
    w = Window.orderBy(F.col("rel").desc(), "vec_id")
    cand = materialize(
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MMR_POOL)
        .select("vec_id", "embedding", "rel")
        # pool-bounded: _MMR_POOL rows
    )
    # greedy selection: bounded parameter-server loop (q322 contract —
    # driver holds K (vec_id, embedding, rel) rows, K = 3)
    selected = []  # list of Row(vec_id, embedding, rel, mmr)
    for step in range(_MMR_K):
        remaining = cand
        for s in selected:
            remaining = remaining.filter(F.col("vec_id") != s[0])
        if not selected:
            pick = remaining.orderBy(F.col("rel").desc(), "vec_id").limit(1)
            row = pick.collect()[0]
            selected.append((row.vec_id, row.embedding, row.rel, row.rel))
            continue
        sel_df = F.broadcast(
            remaining.sparkSession.createDataFrame(
                [(int(s[0]), s[1]) for s in selected],
                "sid long, sv array<float>",
            )
        )
        mmr_scored = (
            remaining.join(sel_df, F.col("vec_id") != F.col("sid"))
            .withColumn("sim", cosine(F.col("embedding"), F.col("sv")))
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("max_sim"), F.first("embedding").alias("embedding"))
            .withColumn("mmr", F.col("rel") - _MMR_LAMBDA * F.col("max_sim"))
        )
        row = (
            mmr_scored.orderBy(F.col("mmr").desc(), "vec_id").limit(1).collect()[0]
        )
        selected.append((row.vec_id, row.embedding, row.rel, row.mmr))
    import math  # noqa: PLC0415

    def _half_away(x):
        # round-half-away-from-zero, the engines' convention (Python's
        # built-in round is half-to-even and could diverge on exact .5)
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    out = [
        (i + 1, int(s[0]), _half_away(10000 * s[2]), _half_away(10000 * s[3]))
        for i, s in enumerate(selected)
    ]
    return emb.sparkSession.createDataFrame(
        out, "sel_rank long, vec_id long, rel_bp long, mmr_bp long"
    ).orderBy("sel_rank")


# --- q403: expected reciprocal rank (round 6) -------------------------------
_ERR_DEPTH = 10
_ERR_QVEC = 0
_DUCK_ERR = f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {_ERR_QVEC}),
         cos AS (
      SELECT vec_id, label,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) AS cos
      FROM (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings
            WHERE vec_id != {_ERR_QVEC}) CROSS JOIN q),
         ranked AS (
      SELECT vec_id, label,
             row_number() OVER (ORDER BY CAST(round(cos * 10000) AS BIGINT)
                                  DESC, vec_id) AS r
      FROM cos QUALIFY r <= {_ERR_DEPTH}),
         graded AS (
      SELECT r, vec_id, label % 4 AS grade,
             CAST(power(2, label % 4) - 1 AS BIGINT) AS r_num,
             CAST(8 - (power(2, label % 4) - 1) AS BIGINT) AS stop_num
      FROM ranked),
         prod AS (
      SELECT r, vec_id, grade, r_num,
             coalesce(product(stop_num) OVER (ORDER BY r
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      1.0) AS p_prev
      FROM graded),
         terms AS (
      SELECT r, vec_id, grade,
             CAST(round(1000000000.0 * r_num * p_prev
                        / (r * power(8.0, r))) AS BIGINT) AS term_e9
      FROM prod)
    SELECT r, vec_id, grade, term_e9,
           CAST(sum(term_e9) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS err_cum_e9
    FROM terms ORDER BY r
"""


@register("q403_expected_reciprocal_rank", _DUCK_ERR)
def q403_expected_reciprocal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected reciprocal rank of the cosine ranking against query
    vector 0 (Chapelle, Metzler, Zhang & Grinspan, CIKM 2009):
    ERR = sum_r (1/r) * R_r * prod_(i<r)(1 - R_i), the cascade-model
    metric where a strong early result ABSORBS attention that DCG
    (q236) would still credit to later ranks. Graded relevance
    g = label % 4, stop probability R = (2^g - 1)/2^gmax — emitted
    per rank with the running ERR so the curve shows where the
    cascade saturates.

    Exactness: the ranking permutation is quantized-cosine + vec_id
    (engine-identical, q158's contract); stop-probability numerators
    (2^g - 1 in eighths) are exact small integers, so the prefix
    product (windowed product() <= 8^9, double-exact) and each term's
    rational are identical doubles; terms quantize to 1e-9 BEFORE the
    exact running sum.

    100 TB shape: one broadcast-query cosine pass + a top-K
    TakeOrdered (ANN-cell prunable at scale, q53); everything after
    is K-row window arithmetic."""

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _ERR_QVEC).select(
        F.col("embedding").alias("qv")
    )
    cos = (
        emb.filter(F.col("vec_id") != _ERR_QVEC)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )
    ranked = cos.select(
        "vec_id",
        "label",
        F.row_number()
        .over(
            Window.orderBy(
                quantise("cos", 4).desc(), "vec_id"
            )
        )
        .alias("r"),
    ).filter(F.col("r") <= _ERR_DEPTH)
    grade = F.col("label") % 4
    graded = ranked.select(
        "r",
        "vec_id",
        grade.alias("grade"),
        (F.pow(F.lit(2), grade) - 1).cast("bigint").alias("r_num"),
        (8 - (F.pow(F.lit(2), grade) - 1)).cast("bigint").alias("stop_num"),
    )
    wprev = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, -1)
    prod = graded.select(
        "r",
        "vec_id",
        "grade",
        "r_num",
        F.coalesce(F.product("stop_num").over(wprev), F.lit(1.0)).alias("p_prev"),
    )
    terms = prod.select(
        "r",
        "vec_id",
        "grade",
        F.round(
            1000000000.0
            * F.col("r_num")
            * F.col("p_prev")
            / (F.col("r") * F.pow(F.lit(8.0), F.col("r")))
        )
        .cast("bigint")
        .alias("term_e9"),
    )
    wcum = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "r",
        "vec_id",
        "grade",
        "term_e9",
        F.sum("term_e9").over(wcum).cast("bigint").alias("err_cum_e9"),
    ).orderBy("r")


# --- round-10 wave: q434 BM25 hard-negative mining ------------------------

_HN_TERMS = (
    (1, "spark"), (1, "table"), (1, "merge"),
    (2, "hash"), (2, "join"), (2, "filter"),
    (3, "stream"), (3, "window"), (3, "batch"),
)
_HN_DEPTH = 4  # rank 1 = positive, ranks 2..4 = hard negatives

_DUCK_HARD_NEG = f"""
    WITH qt (qid, term) AS (
      VALUES {", ".join(f"({q}, '{t}')" for q, t in _HN_TERMS)}),
         d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM d),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN (SELECT DISTINCT term FROM qt)
      GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         bm AS (
      SELECT qt.qid, tf.doc_id,
             sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                 * (tf.tf * ({_K1} + 1))
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                     / (stats.sum_dl * 1.0 / stats.n_docs))))
               AS score
      FROM qt JOIN tf USING (term)
      JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats GROUP BY qt.qid, tf.doc_id),
         ranked AS (
      SELECT qid, doc_id,
             CAST(round(score * 10000) AS BIGINT) AS score_e4,
             row_number() OVER (PARTITION BY qid
               ORDER BY CAST(round(score * 10000) AS BIGINT) DESC, doc_id)
               AS rank
      FROM bm)
    SELECT qid, rank, doc_id, score_e4,
           CASE WHEN rank = 1 THEN 'pos' ELSE 'neg' END AS label
    FROM ranked WHERE rank <= {_HN_DEPTH}
    ORDER BY qid, rank
"""


@register("q434_bm25_hard_negatives", _DUCK_HARD_NEG)
def q434_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining (Karpukhin et al., EMNLP 2020 — DPR
    trains with "the highest-ranked BM25 passages that do not contain
    the answer" as negatives): for each query, the BM25 top-1 is the
    positive and ranks 2..4 are the hard negatives — the training-
    triple construction every dense-retriever pipeline runs over the
    whole corpus before training. Three fixed 3-term queries; scoring
    is q158's BM25 expression joined through a 9-row (qid, term)
    broadcast, so one tf/df pass serves all queries.

    Exactness: ranks are computed on e4-quantized scores with doc_id
    tie-breaks (q158's oracle-green contract), so the pos/neg cut is
    engine-identical through ties.

    100 TB shape: tf is restricted to query terms AT THE SCAN (a
    9-value IN filter on the exploded stream — postings for 9 terms,
    not the corpus vocabulary); df is |terms| rows; the per-query
    ranking is a keyed window over docs that matched at least one
    term. Work scales with matching postings — the inverted-index
    cost model — never corpus x queries."""
    docs = load_documents(spark, sf_dir)
    qt = F.broadcast(
        spark.createDataFrame(list(_HN_TERMS), "qid int, term string")
    )
    terms = tuple({t for _, t in _HN_TERMS})

    d = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    dl = materialize(d.select("doc_id", F.size("toks").alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = materialize(
        d.select("doc_id", F.explode_outer("toks").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # feeds df AND the scorer (the q158 fix)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl") * 1.0 / F.col("n_docs")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * (F.col("tf") * (_K1 + 1))
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / avgdl))
    )
    bm = (
        tf.join(qt, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    score_e4 = quantise("score", 4)
    ranked = bm.select(
        "qid",
        "doc_id",
        score_e4.alias("score_e4"),
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(score_e4.desc(), "doc_id"))
        .alias("rank"),
    ).filter(F.col("rank") <= _HN_DEPTH)
    return ranked.select(
        "qid",
        "rank",
        "doc_id",
        "score_e4",
        F.when(F.col("rank") == 1, F.lit("pos")).otherwise(F.lit("neg")).alias(
            "label"
        ),
    ).orderBy("qid", "rank")


# --- round-11 wave: q446 PQ asymmetric-distance recall -----------------------

_ADC_NQ = 5  # fixed query panel (q31b's convention)
_ADC_K = 10  # recall@10

_DUCK_ADC = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
         sub AS (
      SELECT vec_id, s, e[s * {_PQ_D} + 1 : s * {_PQ_D} + {_PQ_D}] AS sub
      FROM v CROSS JOIN s),
         cb AS (
      SELECT vec_id AS code_id, s, sub AS csub FROM sub
      WHERE vec_id < {_PQ_K}),
         dist AS (
      SELECT sub.vec_id, sub.s, cb.code_id,
             list_aggregate(
               list_transform(generate_series(1, {_PQ_D}),
                 i -> (sub[i] - csub[i]) * (sub[i] - csub[i])), 'sum') AS d
      FROM sub JOIN cb USING (s)),
         codes AS (
      SELECT vec_id, s, code_id FROM (
        SELECT vec_id, s, code_id, row_number() OVER (
                 PARTITION BY vec_id, s ORDER BY d, code_id) AS rk
        FROM dist) WHERE rk = 1),
         lut AS (
      SELECT sub.vec_id AS qid, sub.s, cb.code_id,
             CAST(round(1000000000 * list_aggregate(
               list_transform(generate_series(1, {_PQ_D}),
                 i -> (sub[i] - csub[i]) * (sub[i] - csub[i])), 'sum'))
               AS BIGINT) AS d_nano
      FROM sub JOIN cb USING (s) WHERE sub.vec_id < {_ADC_NQ}),
         adc AS (
      SELECT l.qid, c.vec_id,
             sum(l.d_nano) AS adc_nano
      FROM codes c JOIN lut l ON l.s = c.s AND l.code_id = c.code_id
      WHERE c.vec_id <> l.qid
      GROUP BY l.qid, c.vec_id),
         adc_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (
                 PARTITION BY qid ORDER BY adc_nano, vec_id) AS rk
        FROM adc) WHERE rk <= {_ADC_K}),
         exact AS (
      SELECT q.vec_id AS qid, x.vec_id,
             CAST(round(1000000000 * list_aggregate(
               list_transform(generate_series(1, 64),
                 i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i])), 'sum'))
               AS BIGINT) AS d_nano
      FROM v q CROSS JOIN v x
      WHERE q.vec_id < {_ADC_NQ} AND x.vec_id <> q.vec_id),
         exact_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (
                 PARTITION BY qid ORDER BY d_nano, vec_id) AS rk
        FROM exact) WHERE rk <= {_ADC_K})
    SELECT a.qid AS query_id,
           CAST(count(e.vec_id) AS BIGINT) AS hits,
           CAST((10000 * count(e.vec_id)) // {_ADC_K} AS BIGINT) AS recall_bp
    FROM adc_top a LEFT JOIN exact_top e USING (qid, vec_id)
    GROUP BY a.qid
    ORDER BY query_id
"""


@register("q446_pq_adc_recall", _DUCK_ADC)
def q446_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) recall@{_ADC_K} — the measurement
    that closes the repo's IVF-PQ stack (Jégou et al., TPAMI 2011
    §III.B: at search time the QUERY stays uncompressed; distance to a
    coded vector is the sum of per-subspace lookup-table entries —
    'asymmetric' beats symmetric because only one side carries
    quantization error): q159 gives the codes, q53/q437 the cells;
    this answers 'what does 32x compression COST in recall'. For a
    fixed {_ADC_NQ}-query panel, build each query's {_PQ_M}x{_PQ_K}
    distance LUT, score every coded corpus vector by LUT sum, and
    compare ADC top-{_ADC_K} against the exact-L2 top-{_ADC_K}.

    Determinism: LUT entries quantize to nano integers BEFORE the
    cross-subspace sum (order-free); both rankings tie-break on
    vec_id; recall is an exact integer ratio.

    100 TB shape: the LUT (|Q| x M x K = {_ADC_NQ * _PQ_M * _PQ_K}
    rows) broadcasts; ADC scoring is a broadcast join against the
    corpus CODES (M small ints per vector — the point of PQ: the
    floats never move) reduced map-side to (query, vec) sums; the
    exact pass is bounded to the fixed panel (q30's contract). The
    per-query top-k is a keyed window over |Q| partitions."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    subs = materialize(v.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("e", s * _PQ_D + 1, _PQ_D) for s in range(_PQ_M)])
        ).alias("s", "sub"),
    ))  # feeds codes AND the query LUT
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code_id"),
        F.col("s").alias("cs"),
        F.col("sub").alias("csub"),
    )
    d2 = sq_dist(F.col("sub"), F.col("csub"))
    codes = (
        subs.join(F.broadcast(cb), F.col("s") == F.col("cs"))
        .withColumn("d", d2)
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d", "code_id")).alias("m"))
        .select("vec_id", "s", F.col("m.code_id").alias("code_id"))
    )
    lut = (
        subs.filter(F.col("vec_id") < _ADC_NQ)
        .join(F.broadcast(cb), F.col("s") == F.col("cs"))
        .select(
            F.col("vec_id").alias("qid"),
            "s",
            "code_id",
            quantise(d2, 9).alias("d_nano"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code_id"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d_nano").alias("adc_nano"))
    )
    wr = Window.partitionBy("qid").orderBy("adc_nano", "vec_id")
    adc_top = (
        adc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _ADC_K)
        .select("qid", "vec_id")
    )
    q = v.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    exact = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            quantise(sq_dist(F.col("qe"), F.col("e")), 9)
            .alias("d_nano"),
        )
    )
    we = Window.partitionBy("qid").orderBy("d_nano", "vec_id")
    exact_top = (
        exact.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= _ADC_K)
        .select("qid", F.col("vec_id").alias("evec"), F.lit(1).alias("hit"))
    )
    return (
        adc_top.join(
            exact_top,
            (adc_top.qid == exact_top.qid) & (adc_top.vec_id == exact_top.evec),
            "left",
        )
        .groupBy(adc_top.qid.alias("query_id"))
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("hits"),
            F.expr(f"CAST((10000 * sum(coalesce(hit, 0))) div {_ADC_K} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
        .orderBy("query_id")
    )


# --- round-12 wave 3: q478 int8 scalar-quantization recall --------------------

_SQ_NQ = 5  # fixed query panel (q446/q31b convention)
_SQ_K = 10  # recall@10

_DUCK_SQ = f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(1000000 * x) AS BIGINT)) AS x6
      FROM embeddings),
         ex AS (
      SELECT vec_id, d, x6[d] AS x
      FROM v, (SELECT unnest(generate_series(1, 64)) AS d) dd),
         cen AS (
      SELECT d, min(x) AS mn, max(x) - min(x) AS span
      FROM ex GROUP BY d),
         recon AS (
      SELECT ex.vec_id, ex.d,
             cen.mn + ((((ex.x - cen.mn) * 255) // greatest(cen.span, 1))
                       * cen.span) // 255 AS r
      FROM ex JOIN cen USING (d)),
         qx AS (SELECT vec_id AS qid, d, x FROM ex WHERE vec_id < {_SQ_NQ}),
         dist AS (
      SELECT qx.qid, recon.vec_id,
             sum((qx.x - recon.r) * (qx.x - recon.r)) AS adc
      FROM qx JOIN recon USING (d)
      WHERE recon.vec_id <> qx.qid
      GROUP BY qx.qid, recon.vec_id),
         exact AS (
      SELECT qx.qid, ex.vec_id,
             sum((qx.x - ex.x) * (qx.x - ex.x)) AS ed
      FROM qx JOIN ex USING (d)
      WHERE ex.vec_id <> qx.qid
      GROUP BY qx.qid, ex.vec_id),
         ranked AS (
      SELECT dist.qid, dist.vec_id,
             row_number() OVER (PARTITION BY dist.qid
                                ORDER BY dist.adc, dist.vec_id) AS rk_adc,
             row_number() OVER (PARTITION BY dist.qid
                                ORDER BY exact.ed, exact.vec_id) AS rk_exact
      FROM dist JOIN exact
        ON exact.qid = dist.qid AND exact.vec_id = dist.vec_id)
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(sum(CASE WHEN rk_adc <= {_SQ_K} AND rk_exact <= {_SQ_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST((10000 * sum(CASE WHEN rk_adc <= {_SQ_K}
                                   AND rk_exact <= {_SQ_K}
                                  THEN 1 ELSE 0 END)) // {_SQ_K} AS BIGINT)
             AS recall_bp
    FROM ranked GROUP BY qid ORDER BY query_id
"""


@register("q478_sq_int8_recall", _DUCK_SQ)
def q478_sq_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar-quantization recall@{_SQ_K} — the 4x-compression
    rung that completes the repo's vector-compression ladder (PQ
    codes q159 / ADC q446 at 32x, 1-bit sign quantization q290 at
    32x, matryoshka truncation q324): per-dimension min/max scalar
    quantization (the SQ8 scheme of FAISS's ScalarQuantizer and
    Milvus/pgvector's halfvec/int8 paths; Jégou et al. TPAMI 2011
    §II situates SQ as the baseline PQ improves on) maps each
    coordinate to an 8-bit code; search stays ASYMMETRIC — the query
    keeps full precision and scores against per-dim DEQUANTIZED
    codes, so only the corpus side carries quantization error. For
    the fixed {_SQ_NQ}-query panel, SQ top-{_SQ_K} is compared to the
    exact-L2 top-{_SQ_K}; recall says whether 8 bits/dim is enough
    for this embedding distribution (for near-uniform dims it is —
    the curve to q290's sign-bit answer is the design space).

    Determinism: inputs e6-quantize BEFORE the min/max census (the
    q440 contract); codes and dequantized values are pure integer
    arithmetic (truncating div, span-0 dims code to 0); both
    rankings tie-break on vec_id; recall is an exact integer ratio.

    100 TB shape: the per-dim min/max census is ONE global
    aggregate carrying 128 codegen accumulators (min+max per
    dimension, the q440/q474 columnar-census treatment — zero row
    expansion; the first draft posexploded 64 rows/vector through
    the hash aggregate and was rewritten per ADVICE r12); the
    single census row broadcasts back, so quantize + dequantize +
    both distances all evaluate IN-ROW in the scan stage (zip_with
    folds); the x{_SQ_NQ} panel expansion feeds two keyed windows
    over |Q| partitions (the q446 precedent — at production scale
    the IVF cells of q53/q437 bound the rerank set instead)."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    v = materialize(emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> CAST(round(1000000 * x) AS BIGINT))"
        ).alias("x6"),
    ))  # feeds the census, the panel AND the scan pass
    # 128 in-row accumulators (min+max per dim) in ONE global agg —
    # the q440/q474 columnar-census shape; no per-dim row explosion.
    cen1 = v.agg(
        *[F.min(F.element_at("x6", d + 1)).alias(f"mn{d}") for d in range(64)],
        *[F.max(F.element_at("x6", d + 1)).alias(f"mx{d}") for d in range(64)],
    ).select(
        F.array(
            *[
                F.struct(
                    F.lit(d + 1).alias("d"),
                    F.col(f"mn{d}").alias("mn"),
                    (F.col(f"mx{d}") - F.col(f"mn{d}")).alias("span"),
                )
                for d in range(64)
            ]
        ).alias("cen")
    )
    recon = v.crossJoin(F.broadcast(cen1)).select(
        "vec_id",
        "x6",
        F.expr(
            "transform(sequence(1, 64), i -> cen[i - 1].mn"
            " + ((((x6[i - 1] - cen[i - 1].mn) * 255)"
            "     div greatest(cen[i - 1].span, 1))"
            "    * cen[i - 1].span) div 255)"
        ).alias("r"),
    )
    panel = (
        v.filter(F.col("vec_id") < _SQ_NQ)
        .select(F.struct(F.col("vec_id").alias("qid"), F.col("x6").alias("q6")).alias("q"))
        .agg(F.collect_list("q").alias("qs"))
    )
    pairs = (
        recon.crossJoin(F.broadcast(panel))
        .select("vec_id", "x6", "r", F.explode("qs").alias("q"))
        .filter(F.col("vec_id") != F.col("q.qid"))
        .select(
            F.col("q.qid").alias("qid"),
            "vec_id",
            F.expr(
                "aggregate(zip_with(q.q6, r, (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (s, t) -> s + t)"
            ).alias("adc"),
            F.expr(
                "aggregate(zip_with(q.q6, x6, (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (s, t) -> s + t)"
            ).alias("ed"),
        )
    )
    wa = Window.partitionBy("qid").orderBy("adc", "vec_id")
    we = Window.partitionBy("qid").orderBy("ed", "vec_id")
    ranked = pairs.select(
        "qid",
        F.row_number().over(wa).alias("rk_adc"),
        F.row_number().over(we).alias("rk_exact"),
    )
    both = (F.col("rk_adc") <= _SQ_K) & (F.col("rk_exact") <= _SQ_K)
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(both.cast("int")).cast("bigint").alias("hits"),
            F.expr(
                f"CAST((10000 * sum(CASE WHEN rk_adc <= {_SQ_K}"
                f" AND rk_exact <= {_SQ_K} THEN 1 ELSE 0 END))"
                f" div {_SQ_K} AS BIGINT)"
            ).alias("recall_bp"),
        )
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            "hits",
            "recall_bp",
        )
        .orderBy("query_id")
    )
