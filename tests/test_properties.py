"""Property-based tests (hypothesis) for the parsing/text surface.

The reference has no property tests (SURVEY.md §5.1 — a stub suite);
these pin total-function behavior: no crash on arbitrary input, outputs
within declared ranges, invariants that must hold for ANY document.

Batched: hypothesis generates a corpus per property, evaluated in one
Spark job (per-example Spark jobs would be pathologically slow).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ooh_etl_spark.functions import html as H
from ooh_etl_spark.functions.text import (
    DUCK_TOKENIZE,
    quality_score,
    tokenize,
    word_shingles,
)


def run_batch(spark, texts: list[str], col_fn):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    return [r.v for r in df.select(col_fn(F.col("t")).alias("v")).collect()]


printable = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"), max_size=200
)

# The codegen xpath path's domain: markup-ish text. Stray '<'/'>' that
# is not actual markup is the lenient fallback's territory (see
# wrap_fragment docstring); everything else — control chars, bare '&',
# unicode — must be total here.
markupish = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00<>"), max_size=200
)


@settings(max_examples=30, deadline=None)
@given(st.lists(markupish, min_size=1, max_size=30))
def test_pay_map_total_on_markupish_input(spark, texts):
    # Dirty-but-markup-ish CDATA must not crash; wages, when extracted,
    # are positive and 2-dp.
    for m in run_batch(spark, texts, H.pay_map):
        assert m is not None
        for v in m.values():
            assert v > 0
            assert round(v, 2) == v


@settings(max_examples=30, deadline=None)
@given(st.lists(printable, min_size=1, max_size=30))
def test_fallback_total_on_fully_arbitrary_input(spark, texts):
    from ooh_etl_spark.functions.html_fallback import tag_texts

    for v in run_batch(spark, texts, lambda c: tag_texts(c, "p")):
        assert v is not None


@settings(max_examples=30, deadline=None)
@given(st.lists(printable, min_size=1, max_size=30))
def test_extract_after_heading_null_or_nonempty(spark, texts):
    for v in run_batch(spark, texts, H.extract_after_heading):
        assert v is None or len(v) > 0  # group 3 is (.+): never ''


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet="ab c", min_size=1, max_size=60), min_size=1, max_size=50))
def test_shingles_never_empty_and_distinct(spark, texts):
    for sh in run_batch(spark, texts, lambda c: word_shingles(c, 3)):
        assert len(sh) >= 1
        assert len(sh) == len(set(sh))


@settings(max_examples=30, deadline=None)
@given(st.lists(printable.filter(lambda s: s.strip()), min_size=1, max_size=50))
def test_quality_score_bounded(spark, texts):
    for q in run_batch(spark, texts, quality_score):
        assert q is None or -0.0001 <= q <= 1.0001


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="abc xyz", min_size=1, max_size=60), min_size=1, max_size=40))
def test_tokenize_roundtrip_count(spark, texts):
    # len(tokens) == whitespace-separated word count of the trimmed text.
    got = run_batch(spark, texts, lambda c: F.size(tokenize(c)))
    expected = [len(t.strip().lower().split()) if t.strip() else 1 for t in texts]
    assert got == expected


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.characters(max_codepoint=0x7F), max_size=60),
        min_size=1,
        max_size=40,
    )
)
def test_tokenize_agrees_with_its_duckdb_twin(spark, texts):
    # The oracles tokenize with DUCK_TOKENIZE, so both engines must cut
    # the same tokens. ASCII with every C0 control covers the one place
    # Java's and RE2's \s differ: vertical tab.
    import duckdb

    got = run_batch(spark, texts, tokenize)
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(texts)))
    want = [
        r[0]
        for r in con.execute(f"SELECT {DUCK_TOKENIZE} FROM docs ORDER BY i").fetchall()
    ]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from("abcdefghij"), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=20),
    st.integers(min_value=1, max_value=5),
)
def test_mg_merge_contains_all_heavy_hitters(tokens, k, n_batches):
    # The Misra-Gries candidate guarantee behind q120: every value with
    # count > n/k MUST survive the bounded-state merge, under any
    # batching of the input.
    import pandas as pd

    from ooh_etl_spark.operators.sketches import mg_merge

    chunks = [tokens[i::n_batches] for i in range(n_batches)]
    batches = (pd.Series(c).value_counts() for c in chunks if c)
    candidates = set(mg_merge(batches, k).index)
    n = len(tokens)
    true_hh = {v for v in set(tokens) if tokens.count(v) * k > n}
    assert true_hh <= candidates, (true_hh, candidates, k)
    assert len(candidates) <= 2 * k  # bounded state (k per compress round)


# (The former driver-side PyBloom and its no-false-negatives property
# test were removed with the Python prefilter: bloom_semi_join now
# delegates scan pruning to Spark's runtime filter injection, asserted
# plan-side in tests/test_plans.py::test_q121_bloom_join_is_jvm_only.)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00 \t\n\r"),
            min_size=0,
            max_size=8,
        ),
        min_size=0,
        max_size=40,
    )
)
def test_word_count_map_matches_python_counter(spark, words):
    # The flagship run-length construction must agree with a plain
    # Python Counter over the same whitespace split, for ANY token
    # multiset (duplicates, empty tokens, unicode) — the invariant that
    # has survived two rewrites (quadratic filter → sorted run-length).
    # The Python reference spells out Java's \s class ([ \t\n\x0B\f\r])
    # — Python's unicode \s also matches U+001C-001F and friends, which
    # Java's does not.
    import re
    from collections import Counter

    from ooh_etl_spark.queries.flagship import word_count_map

    text = " ".join(words)
    [m] = run_batch(spark, [text], word_count_map)
    assert m == dict(Counter(re.split(r"[ \t\n\x0b\f\r]+", text)))


# --- round-9 wave math (pure-python mirrors of the engine-shared forms) ------

_K9 = 16  # q429 summary points per shard


def _q429_selected(ns: int) -> list[int]:
    """Mirror of the q429 grid predicate both engines run:
    rank r is a summary point iff (r*K)//ns > ((r-1)*K)//ns."""
    return [r for r in range(1, ns + 1) if (r * _K9) // ns > ((r - 1) * _K9) // ns]


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=5000))
def test_q429_grid_selects_min_k_ns_points_covering_all_rows(ns):
    sel = _q429_selected(ns)
    # exactly min(K, ns) points, the last at rank ns (full coverage),
    # and every inter-point gap (= the weight both engines assign)
    # at most ceil(ns/K)
    assert len(sel) == min(_K9, ns)
    assert sel[-1] == ns
    gaps = [b - a for a, b in zip([0] + sel, sel)]
    assert sum(gaps) == ns
    assert max(gaps) <= -(-ns // _K9)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=400),
    st.integers(min_value=1, max_value=8),
)
def test_q429_two_level_estimate_rank_bound(values, n_shards):
    # Full simulation of the q429 algorithm on an arbitrary multiset
    # and arbitrary sharding: the merged estimate is never below the
    # exact type-1 quantile and never beyond rank t + N//K + S.
    shards = [sorted(values[i::n_shards]) for i in range(n_shards)]
    shards = [s for s in shards if s]
    pts = []  # (value, weight)
    for s in shards:
        sel = _q429_selected(len(s))
        for prev, r in zip([0] + sel, sel):
            pts.append((s[r - 1], r - prev))
    pts.sort()
    allv = sorted(values)
    n = len(allv)
    for p in range(1, 10):
        t = (p * n + 9) // 10
        cum, est = 0, None
        for v, w in pts:
            cum += w
            if cum >= t:
                est = v
                break
        exact = allv[t - 1]
        hi = allv[min(n, t + n // _K9 + len(shards)) - 1]
        assert exact <= est <= hi


def _js_closed_form(src_counts: dict, corpus_counts: dict) -> float:
    """Mirror of the q432 closed form: KL terms over PRESENT tokens
    plus the absent-mass term (1 - q_present)."""
    import math

    ns = sum(src_counts.values())
    n = sum(corpus_counts.values())
    kl_p = kl_q = q_present = 0.0
    for tok, c in src_counts.items():
        p = c / ns
        q = corpus_counts[tok] / n
        kl_p += p * math.log2(2 * p / (p + q))
        kl_q += q * math.log2(2 * q / (p + q))
        q_present += q
    return 0.5 * (kl_p + kl_q + (1 - q_present))


def _js_naive(src_counts: dict, corpus_counts: dict) -> float:
    """Textbook JS over the FULL vocabulary (densified), the form the
    closed form must equal."""
    import math

    ns = sum(src_counts.values())
    n = sum(corpus_counts.values())
    js = 0.0
    for tok, cc in corpus_counts.items():
        p = src_counts.get(tok, 0) / ns
        q = cc / n
        m = (p + q) / 2
        if p:
            js += 0.5 * p * math.log2(p / m)
        if q:
            js += 0.5 * q * math.log2(q / m)
    return js


@settings(max_examples=150, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=20,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=1, max_value=50),
        max_size=20,
    ),
)
def test_q432_absent_mass_closed_form_equals_naive_js(src, other):
    # corpus = src + an arbitrary other source; every src token is in
    # the corpus by construction (the q432 precondition).
    corpus = dict(other)
    for t, c in src.items():
        corpus[t] = corpus.get(t, 0) + c
    a = _js_closed_form(src, corpus)
    b = _js_naive(src, corpus)
    assert abs(a - b) < 1e-9
    assert -1e-12 <= a <= 1.0 + 1e-12  # JS (base 2) is bounded by 1 bit
