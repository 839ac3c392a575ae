"""Functional tests for ``queries/retrieval_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, emb_dir, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q290_hamming_bounds_and_topk_shape(spark):
    rows = QUERIES["q290_binary_quantize_hamming"].fn(spark, SF_DIR).collect()
    assert len(rows) == 8 * 5  # 8 query vectors x top-5
    for r in rows:
        assert 0 <= r["hamming"] <= 64
        assert 1 <= r["rk"] <= 5
    # per query, distances are non-decreasing in rank
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rk"], r["hamming"]))
    for pairs in by_q.values():
        hs = [h for _, h in sorted(pairs)]
        assert hs == sorted(hs)


def test_q290_hamming_is_zero_for_identical_sign_pattern(spark):
    # popcount(xor(w, w)) == 0: quantize one vector, compare to itself.
    from ooh_etl_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(1)
    w = emb.select(
        F.expr(
            "aggregate(transform(sequence(0, 31), "
            "i -> IF(embedding[i] > 0, shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)"
        ).alias("w0")
    ).collect()[0]["w0"]
    assert bin(w ^ w).count("1") == 0


def test_q334_mutual_nn_is_injective(spark):
    rows = run(spark, "q334_mutual_nn_pairs").collect()
    a_side = [r.id_a for r in rows]
    b_side = [r.id_b for r in rows]
    # mutuality forces a perfect partial matching: no vector appears
    # in two pairs, and sides stay disjoint (even vs odd ids)
    assert len(a_side) == len(set(a_side))
    assert len(b_side) == len(set(b_side))
    assert all(a % 2 == 0 and b % 2 == 1 for a, b in zip(a_side, b_side))


def test_q341_srp_collision_prob_tracks_angle(spark):
    rows = run(spark, "q341_srp_lsh_pairs").collect()
    assert len(rows) > 0
    assert all(r.sig_hamming <= 1 for r in rows)
    # Charikar: P[bit collision] = 1 - angle/pi, so surviving pairs
    # (>= 15/16 bits agreeing) should skew toward high cosine vs the
    # corpus-wide mean (which is ~0 for these embeddings)
    mean_cos = sum(r.cos_e6 for r in rows) / len(rows)
    assert mean_cos > 0


def test_q342_maxsim_bounds_and_ranking(spark):
    rows = run(spark, "q342_colbert_maxsim").collect()
    # 4 query docs x top-5
    assert len(rows) == 20
    for r in rows:
        # maxsim over 5 query tokens, each cosine in [-1, 1] e6
        assert -5_000_000 <= r.maxsim_e6 <= 5_000_000
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_doc, []).append(r.maxsim_e6)
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_q375_mmr_first_pick_is_top_relevance(spark):
    rows = run(spark, "q375_mmr_rerank").collect()
    assert [r.sel_rank for r in rows] == [1, 2, 3]
    # step 1 has no diversity penalty: mmr == rel
    assert rows[0].mmr_bp == rows[0].rel_bp
    # later steps: mmr = rel - 0.5 * max_sim with max_sim in [-1, 1],
    # so mmr differs from rel by at most 5000 bp (negative cosines CAN
    # push mmr above rel — the penalty becomes a diversity bonus)
    for r in rows[1:]:
        assert abs(r.mmr_bp - r.rel_bp) <= 5000
    # selections are distinct and none is the query itself
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == 3 and 0 not in ids
    # greedy order: later mmr scores are non-increasing
    assert rows[1].mmr_bp >= rows[2].mmr_bp


def test_q403_err_cascade(spark):
    rows = sorted(run(spark, "q403_expected_reciprocal_rank").collect(),
                  key=lambda r: r.r)
    assert [r.r for r in rows] == list(range(1, 11))
    for r in rows:
        assert 0 <= r.grade <= 3
        assert r.term_e9 >= 0
    # running ERR is nondecreasing and < 1
    cums = [r.err_cum_e9 for r in rows]
    assert cums == sorted(cums)
    assert cums[-1] < 10**9


def test_q434_one_pos_per_query_and_scores_dominate(spark):
    rows = run(spark, "q434_bm25_hard_negatives").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {1, 2, 3}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["label"] for r in rs][0] == "pos"
        assert all(lbl == "neg" for lbl in [r["label"] for r in rs][1:])
        scores = [r["score_e4"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_q334b_equals_q334_when_recall_is_total(spark, tmp_path):
    # The funnel-variant contract (q27b/q151c/q423b/q191b discipline):
    # when every true-best pair is GUARANTEED to collide in >=1 band,
    # the candidate argmaxes equal the global argmaxes, so q334b must
    # equal q334 row for row. Guarantee by construction: odd vector
    # 2i+1 IS even vector 2i (identical input -> identical
    # deterministic bucket in EVERY band -> collision certain, and its
    # cosine is the global maximum 1e6 with all cross-pair cosines
    # strictly below by well-separated random bases).
    rng = np.random.RandomState(11)
    bases = rng.standard_normal((10, 64))
    vecs = []
    for i in range(10):
        vecs.append(bases[i])  # vec_id 2i (even side)
        vecs.append(bases[i])  # vec_id 2i+1 (odd side, identical)
    d = emb_dir(tmp_path, list(enumerate(vecs)))
    exact = sorted(map(tuple, run(spark, "q334_mutual_nn_pairs", d).collect()))
    funnel = sorted(
        map(tuple, run(spark, "q334b_mutual_nn_funnel", d).collect())
    )
    assert len(exact) == 10  # every constructed pair is mutual
    assert funnel == exact


def test_q334b_is_subset_of_exact_candidates(spark):
    # On the real fixture the funnel's recall is < 1 by design, but
    # every pair it DOES emit must carry the exact cosine and appear
    # with the same score in q334's full-cross-product mutual set
    # only if both argmaxes agree — the safe invariant is on scores:
    # each (id_a, id_b) the funnel emits has the same cos_e6 the exact
    # scorer assigns (verification is exact, never approximate).
    exact = {
        (r["id_a"], r["id_b"]): r["cos_e6"]
        for r in run(spark, "q334_mutual_nn_pairs").collect()
    }
    for r in run(spark, "q334b_mutual_nn_funnel").collect():
        k = (r["id_a"], r["id_b"])
        if k in exact:
            assert r["cos_e6"] == exact[k]


def test_q446_recall_is_exact_ratio(spark):
    for r in run(spark, "q446_pq_adc_recall").collect():
        assert 0 <= r["hits"] <= 10
        assert r["recall_bp"] == 10000 * r["hits"] // 10


# --- q478: int8 SQ recall invariants -----------------------------------------


def test_q478_recall_structurally_exact(spark):
    rows = run(spark, "q478_sq_int8_recall").collect()
    assert [r.query_id for r in rows] == [0, 1, 2, 3, 4]
    for r in rows:
        assert 0 <= r.hits <= 10
        assert r.recall_bp == 1000 * r.hits
        # 8 bits/dim on near-unit embeddings is close to lossless;
        # anything under half recall means the dequantize contract broke
        assert r.hits >= 5, (r.query_id, r.hits)
