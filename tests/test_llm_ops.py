"""Unit tests for the LLM-pipeline operator families (text analysis,
dedup, similarity, multimodal) beyond the oracle-differential checks."""

from __future__ import annotations

import pytest

# Oracle-replica / deep-functional suite: excluded from the default
# fast-core gate run (see pytest.ini); run with `-m slow`.
pytestmark = pytest.mark.slow

import math

import duckdb
from pyspark.sql import functions as F

from ooh_etl_spark.functions.text import (
    lang_id,
    simhash64,
    word_shingles,
)
from ooh_etl_spark.operators.dedup import exact_dedup, jaccard_pairs, simhash_pairs
from ooh_etl_spark.operators.multimodal import attach_payload, extract_features
from ooh_etl_spark.operators.similarity import knn_brute_force
from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, run


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_lang_id_on_real_samples(spark):
    samples = {
        "the cat sat on the mat and looked at the dog": "en",
        "el perro corre por la calle y los gatos duermen": "es",
        "der Hund und die Katze sind nicht hier": "de",
        "le chat et le chien sont dans les jardins": "fr",
        "xx yy zz qq ww": "unknown",
    }
    for text, expected in samples.items():
        assert one(spark, lang_id(F.lit(text))) == expected, text


def test_word_shingles_short_doc_fallback(spark):
    assert one(spark, word_shingles(F.lit("a b"))) == ["a b"]
    assert one(spark, word_shingles(F.lit("a b c d"))) == ["a b c", "b c d"]


def test_simhash_identical_texts_equal(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz completely different qqq")],
        "id long, text string",
    )
    rows = {r.id: r.sig for r in df.select("id", simhash64(F.col("text")).alias("sig")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "dup"), (2, "dup"), (9, "solo")], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in exact_dedup(df, "text", "doc_id").collect())
    assert kept == [2, 9]


def test_jaccard_pairs_detects_near_dup(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),  # 3/5-ish shingle overlap
            (3, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(df, "text", "doc_id", threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_jaccard_prefix_filter_equals_inverted_index(spark):
    """Prefix filtering must be lossless: identical pair set + scores
    as the full inverted-index expansion on driver data (sf0.001)."""
    from ooh_etl_spark.operators.dedup import jaccard_pairs_prefix
    from ooh_etl_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = {tuple(r) for r in jaccard_pairs(docs, "text", "doc_id").collect()}
    pref = {
        tuple(r) for r in jaccard_pairs_prefix(docs, "text", "doc_id").collect()
    }
    assert base == pref and base  # equal and non-trivial


def test_simhash_pairs_near_dup_low_hamming(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "entirely unrelated words compose this other document here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs


def test_knn_self_excluded_and_cos_bounds(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    res = knn_brute_force(emb, emb.filter(F.col("vec_id") < 2), k=3).collect()
    assert len(res) == 6
    for r in res:
        assert r.query_id != r.neighbor_id
        assert -1.0001 <= r.cos_sim <= 1.0001
        assert not math.isnan(r.cos_sim)


def test_multimodal_feature_shape(spark):
    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    out = extract_features(attach_payload(docs)).collect()
    assert len(out) == 1
    assert out[0].n_bytes == len(b"hello world")
    assert len(out[0].features) == 8
    # deterministic stub: same input → same features
    out2 = extract_features(attach_payload(docs)).collect()
    assert out[0].features == out2[0].features


def test_compression_quality_buckets(spark):
    # Pin the pandas-UDF semantics the rows-only check can't: a highly
    # repetitive text compresses far below a high-entropy one.
    import zlib

    from ooh_etl_spark.queries.quality_ops import _compression_ratio

    df = spark.createDataFrame(
        [("aaaa " * 200,), ("the quick brown fox jumps over the lazy dog " * 5,)],
        "text string",
    )
    rep, normal = [
        r[0] for r in df.select(_compression_ratio(F.col("text"))).collect()
    ]
    assert rep < 0.1 < normal
    # matches a driver-side zlib computation exactly
    t = "aaaa " * 200
    assert rep == round(len(zlib.compress(t.encode(), 6)) / len(t.encode()), 4)


def test_semdedup_scaled_equals_q151_at_k8(spark):
    # q151b and q151 share one pipeline (_semdedup), differing only in
    # how K is chosen. Forcing the shared helper to q151's K=8 must
    # reproduce q151's oracle-green output exactly — the machine check
    # that the production-sized form computes the same semantics.
    from ooh_etl_spark.queries.dedup import _semdedup, q151_semdedup

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in _semdedup(spark, sf, 8).collect()]
    b = [tuple(r) for r in q151_semdedup(spark, sf).collect()]
    assert a == b and len(a) > 0


def test_semdedup_scaled_cluster_sizes_bounded(spark):
    # The point of K ≈ sqrt(n): expected cluster size is sqrt(n), so
    # the within-cluster pairwise pass does ~sqrt(n) comparisons per
    # vector. Assert the fixture's max cluster stays within a small
    # constant of sqrt(n) (measured ~1.4x; bound 3x) — if a code change
    # ever re-introduces a corpus-quadratic candidate set, this fails.
    from pyspark.sql import Window

    from ooh_etl_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    k = max(2, math.isqrt(n - 1) + 1)  # ceil(sqrt(n)), q151b's rule
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    c = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    sqd = F.aggregate(
        F.zip_with("e", "ce", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    assigned = (
        v.crossJoin(F.broadcast(c))
        .withColumn("dist", sqd)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    max_cluster = assigned.groupBy("cid").count().agg(F.max("count")).collect()[0][0]
    assert max_cluster <= 3 * math.sqrt(n), (max_cluster, n)


def test_q217_viterbi_coverage_scores_and_optimality(spark):
    """Unigram-LM Viterbi invariants: (1) every segmentation
    concatenates back to its word; (2) the reported score is the sum
    of the pieces' micro-nat scores under the SAME piece table the
    operator derived; (3) for short words the DP result equals
    brute-force enumeration over all segmentations."""
    import itertools
    import math
    import re
    from collections import Counter

    import duckdb

    from ooh_etl_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    out = QUERIES["q217_unigram_viterbi"].fn(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.segmentation.str.replace("|", "", regex=False) == out.word).all()

    # Rebuild the piece table exactly as the operator defines it.
    raw = duckdb.sql(
        f"SELECT lower(text) t FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).df()
    words = Counter()
    for t in raw.t:
        for w in re.split(r"\s+", t):
            if w:
                words[w] += 1
    subs = Counter()
    for w, f in words.items():
        for l in range(2, 5):
            for i in range(len(w) - l + 1):
                subs[w[i : i + l]] += f
    top = dict(
        sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    )
    chars = Counter()
    for w, f in words.items():
        for c in w:
            chars[c] += f
    pieces = dict(chars)
    for p, c in top.items():
        pieces[p] = max(pieces.get(p, 0), c)
    total = sum(pieces.values())
    score = {
        p: int(round(1_000_000 * math.log(c / total)))
        for p, c in pieces.items()
    }

    def all_segs(w):
        if not w:
            yield ()
            return
        for l in range(1, min(4, len(w)) + 1):
            if w[:l] in score:
                for rest in all_segs(w[l:]):
                    yield (w[:l],) + rest

    for r in out.itertuples():
        segs = r.segmentation.split("|")
        assert r.n_pieces == len(segs)
        assert r.score_micro == sum(score[p] for p in segs)
        if len(r.word) <= 6:
            best = max(
                all_segs(r.word),
                key=lambda s: (
                    sum(score[p] for p in s),
                    -len(s),
                    tuple(-ord(c) for p in s for c in p),
                ),
            )
            bs = sum(score[p] for p in best)
            assert r.score_micro == bs, (r.word, r.segmentation, best)


def test_q201_pairs_are_bigrams_and_top1_matches_python(spark):
    out = run(spark, "q201_bpe_merge_pairs").toPandas()
    assert (out["pair"].str.len() == 2).all()
    assert (out.merge_count.sort_values(ascending=False).to_numpy()
            == out.merge_count.to_numpy()).all()
    # Independent top-pair recount in pure Python.
    texts = duckdb.sql(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).df()["text"]
    from collections import Counter

    wc: Counter = Counter()
    for t in texts:
        wc.update(w for w in t.lower().split() if w)
    pc: Counter = Counter()
    for w, f in wc.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += f
    top_pair, top_n = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
    assert out.iloc[0]["pair"] == top_pair or out.iloc[0]["merge_count"] == top_n
    assert out.iloc[0]["merge_count"] == top_n


def test_q202_negatives_never_self_and_in_range(spark):
    out = run(spark, "q202_negative_sampling").toPandas()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    assert len(out) == 2 * n_docs
    assert (out.neg_id != out.doc_id).all()
    assert ((out.neg_id >= 0) & (out.neg_id < n_docs)).all()
    assert set(out.neg_rank) == {1, 2}


def test_q203_each_epoch_is_a_permutation_and_orders_differ(spark):
    out = run(spark, "q203_epoch_shuffle").toPandas()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    for epoch, grp in out.groupby("epoch"):
        # every doc exactly once per epoch
        assert sorted(grp.doc_id) == list(range(n_docs))
        # contiguous 1..k positions within every shard
        for _, sh in grp.groupby("shard"):
            assert sorted(sh.pos) == list(range(1, len(sh) + 1))
    e0 = out[out.epoch == 0].sort_values(["shard", "pos"]).doc_id.tolist()
    e1 = out[out.epoch == 1].sort_values(["shard", "pos"]).doc_id.tolist()
    assert e0 != e1  # the epochs genuinely reshuffle


def test_q215_merge_round_matches_python_bpe(spark):
    out = run(spark, "q215_bpe_merge_round").toPandas()
    raw = duckdb.sql(
        f"SELECT lower(text) t FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).df()
    import re
    from collections import Counter

    words = Counter()
    for t in raw.t:
        for w in re.split(r"\s+", t):
            if w:
                words[w] += 1
    pairs = Counter()
    for w, f in words.items():
        for a, b in zip(w, w[1:]):
            pairs[(a, b)] += f
    top = min(pairs, key=lambda p: (-pairs[p], p[0], p[1]))
    assert out.merged_pair.iloc[0] == top[0] + top[1]
    # greedy left-to-right merge, then recount
    newpairs, sym_after, sym_before = Counter(), 0, 0
    for w, f in words.items():
        syms, i = [], 0
        while i < len(w):
            if i + 1 < len(w) and (w[i], w[i + 1]) == top:
                syms.append(w[i] + w[i + 1])
                i += 2
            else:
                syms.append(w[i])
                i += 1
        sym_before += f * len(w)
        sym_after += f * len(syms)
        for a, b in zip(syms, syms[1:]):
            newpairs[f"{a}>{b}"] += f
    assert out.symbols_before.iloc[0] == sym_before
    assert out.symbols_after.iloc[0] == sym_after
    assert sym_after < sym_before  # the merge must actually compress
    for r in out.itertuples():
        assert newpairs[r.pair] == r.merge_count


def test_q359_bucketing_cuts_waste(spark):
    r = run(spark, "q359_length_bucket_packing").collect()[0]
    # bucketing can only reduce padding waste (sorted batches minimize
    # within-batch spread)
    assert r.bucketed_waste_toks <= r.arrival_waste_toks
    assert 0 <= r.bucketed_waste_bp <= r.arrival_waste_bp <= 10000
    assert r.waste_cut_bp >= 0


def test_q387_prefix_cache_identities(spark):
    r = run(spark, "q387_prefix_cache_savings").collect()[0]
    assert r.n_prefixes <= r.n_prompts
    assert r.n_shared_prefixes <= r.n_prefixes
    # savings = (prompts - prefixes) * PFX tokens exactly
    assert r.saved_toks == (r.n_prompts - r.n_prefixes) * 8
    assert 0 <= r.savings_bp <= 10000


def test_q388_speculative_identity_accept_is_one_minus_tv(spark):
    r = run(spark, "q388_speculative_overlap").collect()[0]
    assert r.vocab > 0
    assert 0 <= r.accept_rate_e6 <= 1000000
    # accept = 1 - TV, up to nano-quantization slack
    assert abs(r.accept_rate_e6 - r.one_minus_tv_e6) <= 2
    assert abs(r.accept_rate_e6 + r.tv_distance_e6 - 1000000) <= 2


def test_q389_footrule_bounds(spark):
    r = run(spark, "q389_rank_footrule").collect()[0]
    assert r.n > 0
    assert 0 <= r.footrule_norm_bp <= 10000
    assert 0 <= r.top50_overlap <= 50
    # parity-correct maximum
    max_fr = r.n * r.n // 2 if r.n % 2 == 0 else (r.n * r.n - 1) // 2
    assert r.footrule <= max_fr


def test_q217_golden_is_guard_gated():
    spec = QUERIES["q217_unigram_viterbi"]
    assert spec.oracle is not None
    assert spec.golden_guard is not None
    assert spec.golden_domain is not None and len(spec.golden_domain) == 2
