"""Functional tests for ``queries/text_stats.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pandas as pd
import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, docs_dir, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q306_bleu_bounds_and_selfbleu_is_one(spark):
    rows = QUERIES["q306_bleu_pairs"].fn(spark, SF_DIR).collect()
    assert len(rows) == 50
    for r in rows:
        assert 0 <= r["p2_bp"] <= r["p1_bp"] <= 10000  # p2 <= p1 always
        assert 0 <= r["bleu_e6"] <= 1_000_000
    # identity control: BLEU(candidate, candidate) == 1 by construction
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as SF

    doc = load_table(spark, SF_DIR, "documents").filter("doc_id = 0")
    toks = doc.select(SF.split(SF.lower(SF.trim("text")), r"\s+").alias("t"))
    n = toks.select(SF.size("t")).collect()[0][0]
    assert n > 1  # the bigram side of the identity is non-trivial


def test_q317_rake_scores_and_phrases_sane(spark):
    rows = QUERIES["q317_rake_keywords"].fn(spark, SF_DIR).collect()
    assert len(rows) == 15
    stop = {"the", "a", "of", "and", "to", "in", "is", "on"}
    for r in rows:
        words = r["phrase"].split(" ")
        assert 1 <= len(words) <= 4
        assert not (set(words) & stop), r["phrase"]
        assert r["score_milli"] > 0 and r["n_occurrences"] >= 1
    scores = [r["score_milli"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_q338_kneser_ney_probabilities_in_unit_interval(spark):
    rows = run(spark, "q338_kneser_ney_bigram").collect()
    assert len(rows) == 20
    assert all(0 < r.p_kn_e9 <= 1_000_000_000 for r in rows)
    counts = [r.c for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_q346_dispersion_bounds(spark):
    rows = run(spark, "q346_dispersion_dp").collect()
    assert len(rows) == 15
    assert all(0 <= r.dp_e6 <= 1_000_000 for r in rows)


def test_q353_nucleus_bounds(spark):
    rows = run(spark, "q353_nucleus_vocab_coverage").collect()
    for r in rows:
        assert 1 <= r.k_nucleus <= r.vocab_size
        assert 0 < r.nucleus_share_bp <= 10000


def test_q366_good_turing_identities(spark):
    rows = run(spark, "q366_good_turing").collect()
    rs = [r.r for r in rows]
    assert rs == sorted(rs) and rs[0] >= 1  # ascending frequency classes
    n_tokens = rows[0].n_tokens
    v = rows[0].v
    assert sum(r.n_r for r in rows) <= v
    # mass fractions are per-class token shares of the same total
    for r in rows:
        assert abs(r.mass_e6 - round(1e6 * r.n_r * r.r / n_tokens)) <= 1
        assert r.r_star_milli >= 0


def test_q367_textrank_scores_positive_and_ranked(spark):
    rows = run(spark, "q367_textrank_keywords").collect()
    assert len(rows) == 10
    scores = [r.pr_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every score >= the damping floor
    assert all(s >= 150000 for s in scores)
    # words are distinct, non-empty tokens
    assert len({r.word for r in rows}) == 10
    assert all(r.word for r in rows)


def test_q398_flesch_per_source(spark):
    rows = run(spark, "q398_flesch_readability").collect()
    assert len(rows) == 20  # src0..src19
    for r in rows:
        # at least one syllable per word, at most ~all chars
        assert r.sum_syllables >= r.sum_words
        assert r.syll_per_word_milli >= 1000
        # flesch is bounded above by 206.835 - 1.015 - 84.6 (w=1, s=w)
        assert r.avg_flesch_milli <= 206835


def test_q407_chao1_ordering(spark):
    r = run(spark, "q407_chao1_richness").collect()[0]
    # estimators only ADD unseen mass
    assert r.chao1 >= r.s_obs
    assert r.chao1_bc >= r.s_obs
    # bias-corrected is never larger than classic (f1^2/2f2 vs f1(f1-1)/2(f2+1))
    assert r.chao1_bc <= r.chao1 + 1
    assert 0 <= r.coverage_bp <= 10000
    assert r.f1 + 2 * r.f2 <= r.n_tokens


def test_q420_heaps_beta_bounds(spark, tmp_path):
    # All-distinct-token docs have v = n exactly, so ln(v) = ln(n) and
    # the fitted exponent is exactly 1 (10000 bp). Single-repeated-token
    # docs have v = 1 for every n, so the slope is exactly 0.
    distinct_rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(5 + 3 * i)), "en", "s", 0)
        for i in range(6)
    ]
    repeat_rows = [
        (i, " ".join(["dup"] * (5 + 3 * i)), "de", "s", 0) for i in range(6)
    ]
    out = {
        r["lang"]: r
        for r in run(
            spark, "q420_heaps_law_fit", docs_dir(tmp_path, distinct_rows + repeat_rows)
        ).collect()
    }
    assert out["en"].heaps_beta_bp == 10000
    assert out["de"].heaps_beta_bp == 0
    assert out["de"].sum_types == 6  # v = 1 per doc


def test_q421_byte_cost_exact(spark, tmp_path):
    # 'abcd' = 4 chars / 4 bytes; CJK is 3 bytes per char in UTF-8;
    # U+FFFD trips the replacement-doc counter.
    rows = [
        (1, "abcd", "en", "s", 0),
        (2, "日本語本", "zh", "s", 0),  # 4 chars, 12 bytes
        (3, "ab�cd", "fr", "s", 0),
    ]
    out = {
        r["lang"]: r
        for r in run(spark, "q421_charset_cost_census", docs_dir(tmp_path, rows))
        .collect()
    }
    assert out["en"].bytes_per_char_e6 == 1_000_000
    assert out["en"].nonascii_bp == 0
    assert out["zh"].bytes_per_char_e6 == 3_000_000
    assert out["zh"].nonascii_bp == 10000
    assert out["fr"].n_replacement_docs == 1
    assert out["en"].n_replacement_docs == 0


def test_q422_novelty_extremes(spark, tmp_path):
    # Two identical docs: every distinct bigram has df = 2, so nothing
    # is novel (novelty_bp = 0). A doc with a fully private alphabet
    # has df = 1 everywhere (novelty_bp = 10000). A stock phrase
    # repeated across >= 5 docs crosses the n_common threshold.
    stock = "call now limited offer"
    rows = (
        [(1, "alpha beta gamma delta", "en", "twin", 0),
         (2, "alpha beta gamma delta", "en", "twin", 0),
         (3, "unique tokens only here", "en", "solo", 0)]
        + [(10 + i, f"pad{i}a pad{i}b " + stock, "en", "stock", 0)
           for i in range(5)]
    )
    out = {
        r["source"]: r
        for r in run(
            spark, "q422_bigram_novelty_profile", docs_dir(tmp_path, rows)
        ).collect()
    }
    assert out["twin"].novelty_bp == 0
    assert out["twin"].n_unique == 0
    assert out["solo"].novelty_bp == 10000
    # the 5-doc stock phrase produces df>=5 bigrams in every stock doc
    assert out["stock"].n_common >= 5 * (len(stock.split()) - 1)


# --- q432: per-source JS divergence ------------------------------------------


def test_q432_identical_sources_have_zero_js(spark, tmp_path):
    # two sources with the SAME token distribution -> each equals the
    # pooled corpus -> JS = 0 and no corpus mass is absent.
    rows = [
        (1, "a b c d", "en", "s1", 0),
        (2, "a b c d", "en", "s2", 0),
    ]
    out = run(spark, "q432_source_js_divergence", docs_dir(tmp_path, rows)).collect()
    assert [r["source"] for r in out] == ["s1", "s2"]
    for r in out:
        assert r["js_milli"] == 0 and r["absent_mass_bp"] == 0
        assert r["n_tokens"] == 4 and r["vocab"] == 4


def test_q432_disjoint_source_approaches_one_bit(spark, tmp_path):
    # a source sharing NO tokens with the rest of the corpus: as its
    # share of the pool shrinks, JS(p, corpus) -> 1 bit. With a 50/50
    # split JS = 1 - 0.5*log2(4/3)... compute the closed form instead:
    # p uniform on {a,b}, corpus = 0.5*p + 0.5*q with q uniform on
    # {x,y}: JS(p, corpus) here is KL terms with q_t = 1/4 for all.
    rows = [
        (1, "a b a b", "en", "s1", 0),
        (2, "x y x y", "en", "s2", 0),
    ]
    out = {r["source"]: r for r in run(
        spark, "q432_source_js_divergence", docs_dir(tmp_path, rows)
    ).collect()}
    import math
    # p_t = 1/2 (2 tokens), corpus q_t = 1/4 (4 tokens, each source
    # holds half the pool mass). JS = 0.5*sum[p log2(2p/(p+q))]
    #   + 0.5*(sum_present[q log2(2q/(p+q))] + absent_mass)
    p, q = 0.5, 0.25
    js = 0.5 * (2 * p * math.log2(2 * p / (p + q))) + 0.5 * (
        2 * q * math.log2(2 * q / (p + q)) + 0.5
    )
    for r in out.values():
        assert r["absent_mass_bp"] == 5000  # half the corpus mass absent
        assert r["js_milli"] == round(1000 * js)


def test_q432_null_text_row_contributes_nothing(spark, tmp_path):
    # ADVICE r9 (low): explode_outer on a NULL text would emit one
    # null-token row that DuckDB's unnest never does; the post-explode
    # filter must keep per-source masses identical to the no-null run.
    rows_base = [
        (1, "aa bb cc dd", "en", "s1", 0),
        (2, "aa bb cc ee", "en", "s2", 0),
    ]
    base = {
        r["source"]: r["n_tokens"]
        for r in run(
            spark, "q432_source_js_divergence", docs_dir(tmp_path, rows_base)
        ).collect()
    }
    import pandas as pd

    df = pd.DataFrame(
        rows_base + [(3, None, "en", "s1", 0)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    df["n_chars"] = 0
    d = tmp_path / "docs_null"
    d.mkdir(exist_ok=True)
    df.to_parquet(d / "documents.parquet", index=False)
    withnull = {
        r["source"]: r["n_tokens"]
        for r in run(spark, "q432_source_js_divergence", str(d)).collect()
    }
    assert withnull == base


def test_q438_share_accounting(spark, tmp_path):
    rows = run(spark, "q438_wimbd_ngram_census").collect()
    assert len(rows) == 20
    cums = [r["cum_share_bp"] for r in rows]
    assert cums == sorted(cums), "cumulative share must be nondecreasing"
    assert cums[-1] <= 10000
    for r in rows:
        assert r["n_docs"] <= r["occurrences"]
        assert r["share_bp"] <= r["cum_share_bp"]
    # constructed corpus: one 5-gram repeated across two docs dominates
    t = "aa bb cc dd ee"
    rows2 = run(
        spark,
        "q438_wimbd_ngram_census",
        docs_dir(
            tmp_path,
            [
                (1, t + " " + t, "en", "s", 0),
                (2, t, "en", "s", 0),
                (3, "zz yy xx ww vv", "en", "s", 0),
            ],
        ),
    ).collect()
    top = rows2[0]
    assert top["gram"] == "aa bb cc dd ee"
    assert top["occurrences"] == 3  # doc1 has 2 (positions 1 and 6), doc2 has 1
    assert top["n_docs"] == 2


def test_q441_containment_vs_jaccard(spark, tmp_path):
    # source B's grams are a strict subset of A's -> containment 100%,
    # Jaccard < 100%.
    a_text = "w1 w2 w3 w4 w5 w6 w7 w8"  # grams: 6
    b_text = "w1 w2 w3 w4 w5"  # grams: 3, all inside A's
    rows = [(1, a_text, "en", "a", 0), (2, b_text, "en", "b", 0)]
    out = run(spark, "q441_source_overlap_matrix", docs_dir(tmp_path, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("a", "b")
    assert r["n_shared"] == 3 and r["containment_bp"] == 10000
    assert r["jaccard_bp"] == 10000 * 3 // 6


def test_q448_self_entropy_is_lowest_for_twin_sources(spark, tmp_path):
    # Two sources with DISJOINT vocabularies: each source's stream must
    # be cheaper (lower cross-entropy) under its own LM than under the
    # other's, where every bigram is unseen.
    rows = [
        (1, "aa bb cc aa bb cc aa bb", "en", "s1", 0),
        (2, "aa bb cc aa bb cc aa cc", "en", "s1", 0),
        (3, "xx yy zz xx yy zz xx yy", "en", "s2", 0),
        (4, "xx yy zz xx yy zz xx zz", "en", "s2", 0),
    ]
    out = {
        (r["train_source"], r["eval_source"]): r["xent_milli_nats"]
        for r in run(
            spark, "q448_domain_affinity_matrix", docs_dir(tmp_path, rows)
        ).collect()
    }
    assert out[("s1", "s1")] < out[("s2", "s1")]
    assert out[("s2", "s2")] < out[("s1", "s2")]


def test_q455_lambda_moves_with_bigram_coverage(spark, tmp_path):
    # Held-out bigrams fully covered by training -> responsibilities
    # near 1 -> lambda rises well above 750. Disjoint-vocab held-out
    # (no trained bigram fires) -> responsibilities 0 -> lambda 0.
    # doc_ids are chosen for the md5-parity split: parity(0)=0,
    # parity(1)=0 (train side); parity(2)=1, parity(4)=1 (held side).
    covered = "a b a b a b a b a b"
    for needle, expect_high in ((covered, True), ("p q p q r s r s", False)):
        rows = [
            (0, covered, "en", "s", 0),   # train (parity 0)
            (1, covered, "en", "s", 0),   # train (parity 0)
            (2, needle if expect_high else "zz yy zz yy xx ww", "en", "s", 0),
            (4, needle if expect_high else "vv uu vv uu tt ss", "en", "s", 0),
        ]
        out = run(
            spark, "q455_deleted_interpolation", docs_dir(tmp_path, rows)
        ).collect()
        assert len(out) == 1
        lam = out[0].lambda1_milli
        if expect_high:
            # 2-token vocab caps p_uni at ~1/2 -> resp <= 6/7 = 857 milli
            assert lam > 800
            assert out[0].seen_bigram_bp == 10000
        else:
            assert lam == 0
            assert out[0].seen_bigram_bp == 0
