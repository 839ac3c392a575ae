"""Functional tests for ``queries/search_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest

from tests.conftest import run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q400_rbo_monotone_and_bounded(spark):
    rows = sorted(run(spark, "q400_rank_biased_overlap").collect(),
                  key=lambda r: r.d)
    assert [r.d for r in rows] == list(range(1, 21))
    prev_x = 0
    prev_rbo = 0
    for r in rows:
        # overlap is nondecreasing and <= depth
        assert prev_x <= r.x_d <= r.d
        assert r.rbo_e6 >= prev_rbo
        prev_x, prev_rbo = r.x_d, r.rbo_e6
    # RBO truncated at K=20 with p=.9 can't exceed 1 - p^20 mass seen
    assert rows[-1].rbo_e6 <= 1000000


def test_q404_dirichlet_ql_ranking(spark):
    rows = run(spark, "q404_dirichlet_query_likelihood").collect()
    assert len(rows) == 10
    scores = [r.score_e6 for r in rows]
    assert scores == sorted(scores, reverse=True)
    # scores are log-probs of 3 terms: strictly negative
    assert all(s < 0 for s in scores)


def test_q415_prf_contains_seeds_and_expansions(spark):
    rows = run(spark, "q415_rocchio_prf").collect()
    assert len(rows) == 10
    scores = [r.score_e6 for r in rows]
    assert scores == sorted(scores, reverse=True)
    # PRF reranking keeps some seeds but must be ABLE to promote
    # non-seed docs; both classes present on this corpus
    seeds = sum(r.in_prf_seed for r in rows)
    assert 0 < seeds < 10


def test_q416_team_draft_balanced(spark):
    rows = sorted(run(spark, "q416_team_draft_interleave").collect(),
                  key=lambda r: r.pos)
    assert [r.pos for r in rows] == list(range(1, 11))
    # no doc repeats; teams within 1 pick of each other at every prefix
    docs = [r.doc_id for r in rows]
    assert len(set(docs)) == 10
    na = nb = 0
    for r in rows:
        if r.team == "A":
            na += 1
        else:
            nb += 1
        assert abs(na - nb) <= 1
    assert rows[-1].a_clicks_cum + rows[-1].b_clicks_cum == \
        sum(r.clicked for r in rows)
