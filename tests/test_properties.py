"""Property-based tests (hypothesis) for the parsing/text surface.

The reference has no property tests (SURVEY.md §5.1 — a stub suite);
these pin total-function behavior: no crash on arbitrary input, outputs
within declared ranges, invariants that must hold for ANY document.

Batched: hypothesis generates a corpus per property, evaluated in one
Spark job (per-example Spark jobs would be pathologically slow).
"""

from __future__ import annotations

import pytest
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


def test_xpath_element_nodes_are_null_text_nodes_are_strings(spark):
    # xpath_grouped's markers rely on this: an element node comes back
    # as NULL, a text node as its (non-NULL) string.
    path = F.lit("/r/m | //p/text()")
    [v] = run_batch(spark, ["<r><m/><p>x</p></r>"], lambda c: F.xpath(c, path))
    assert v == [None, "x"]


# Fragment pieces for the grouped-XPath equivalence property. Free text
# has no '&' or ';' (an undeclared entity like '&x;' fails both paths
# alike); bare '&' and '&amp;' come in as pieces of their own.
_words = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00<>&;"), max_size=10
)
_piece = st.one_of(
    _words,  # text outside any <p>, XML-invalid characters included
    _words.map(lambda t: f"<p>{t}</p>"),
    st.tuples(_words, _words, _words).map(lambda t: "<p>%s <a>%s</a> %s</p>" % t),
    st.sampled_from(
        [
            "<![CDATA[]]>",
            "<p>a<![CDATA[]]>b</p>",
            "<p><![CDATA[]]></p>",
            "&",
            "&amp;",
            "\x01\x0b\ufffe",
            "<p>The median annual wage for devs was $41,600.</p>",
            "<p>The median hourly wage for devs was $20.00.</p>",
            "<h3>Work Schedules</h3><p>Most work full time.</p>",
            "<h3>Important Qualities</h3><p>Calm. Stays calm.</p>",
        ]
    ),
    _words.map(lambda t: f"<table><tr><td>{t}</td><td>{t}%</td></tr></table>"),
    _words.map(lambda t: f"<td><h4> {t} </h4></td>"),
)
_fragment = st.one_of(st.none(), st.lists(_piece, max_size=4).map("".join))
_occupation = st.tuples(
    st.sampled_from([None, "Military Careers", "Actors"]), *[_fragment] * 7
)


def _per_fragment_records(occ):
    """occupation_records with one per-fragment function call per
    extraction: the reference the grouped evaluation must equal."""
    title = F.col("title")
    we = F.col("work_environment.section_body")
    htb = F.col("how_to_become_one.section_body")

    def masked(c):
        return F.when(title != "Military Careers", c)

    qf = {
        "description": "description",
        "medianPayAnnual": "qf_median_pay_annual.value",
        "medianPayHourly": "qf_median_pay_hourly.value",
        "education": "qf_entry_level_education.value",
        "workExperience": "qf_work_experience.value",
        "training": "qf_on_the_job_training.value",
        "numberOfJobs": "qf_number_of_jobs.value",
        "employmentOutlook": "qf_employment_outlook.description",
        "employmentOutlookCode": "qf_employment_outlook.value",
        "projectedChangeInNumberOfJobs": "qf_employment_openings.value",
    }
    casts = {"medianPayAnnual", "medianPayHourly"}
    return occ.select(
        title.alias("title"),
        H.extract_after_heading(we).alias("workSchedules"),
        H.qualities_map(htb).alias("importantQualities"),
        *[
            masked(F.col(c).try_cast("double") if n in casts else F.col(c)).alias(n)
            for n, c in qf.items()
        ],
        masked(H.xpath_concat(F.col("summary_what_they_do"))).alias("whatTheyDo"),
        masked(H.xpath_concat(F.col("summary_how_to_become_one"))).alias("howToBecomeOne"),
        masked(H.xpath_concat(F.col("summary_work_environment"))).alias("workEnvironment"),
        masked(H.pay_text(F.col("summary_pay"))).alias("payText"),
        masked(H.pay_map(F.col("summary_pay"))).alias("pay"),
        masked(H.extract_trimmed_list(F.col("similar_occupations.section_body"))).alias(
            "similarOccupations"
        ),
        masked(H.cells_to_map(we)).alias("topIndustries"),
        masked(H.xpath_match_count(F.col("summary_what_they_do"))).alias("whatTheyDo_matches"),
    )


def _canonical(records):
    """Maps and arrays as q_ooh_records renders them."""
    from ooh_etl_spark.queries.ooh_surface import map_to_sorted_string

    maps = {"importantQualities", "pay", "topIndustries"}
    return [
        r.asDict()
        for r in records.select(
            *[
                map_to_sorted_string(F.col(c)).alias(c)
                if c in maps
                else F.array_join(c, "|").alias(c)
                if c == "similarOccupations"
                else F.col(c)
                for c in records.columns
            ]
        ).collect()
    ]


@settings(max_examples=20, deadline=None)
@given(st.lists(_occupation, min_size=1, max_size=12))
def test_grouped_xpath_records_equal_per_fragment_functions(spark, rows):
    # One xpath evaluation per row (xpath_grouped) must give exactly the
    # per-fragment results for all 21 columns, including for NULL and
    # <p>-less fragments, empty CDATA, dirty characters, and masked or
    # NULL-title rows.
    from ooh_etl_spark.sources.xml import OCCUPATION_SCHEMA, occupation_records

    occ = spark.createDataFrame(
        [
            (t, "d", ("1",), ("2",), ("e",), ("w",), ("o",), ("3",), ("x", "A"), ("4",),
             swtd, shtb, swe, spay, (sim,), (we,), (htb,))
            for t, swtd, shtb, swe, spay, sim, we, htb in rows
        ],
        OCCUPATION_SCHEMA,
    )
    got, want = occupation_records(occ), _per_fragment_records(occ)
    assert got.columns == want.columns
    assert _canonical(got) == _canonical(want)


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


@pytest.mark.parametrize(
    "name",
    ["q251_readability", "q465_filter_agreement_matrix", "q482_gate_threshold_curve"],
)
def test_tokenizer_sites_agree_with_oracle_on_vertical_tab(spark, tmp_path, name):
    # These queries count words, stopwords and repeated tokens. A split
    # on Java's \s, which includes vertical tab, instead of tokenize's
    # set disagrees with the DuckDB twin the oracles use; the texts put
    # vertical tabs where such a split moves a count across a gate.
    import duckdb

    from tests.conftest import assert_matches_oracle, docs_dir

    texts = [
        "the\x0bthe\x0bthe cat sat",
        "x\x0bx\x0bx\x0bx y z",
        " ".join(f"w{i}" for i in range(19)) + "\x0bthe. End.",
        "a\x0bof\x0bto and in the quick brown fox jumps over the lazy dog " * 2,
        "plain words without a vertical tab in the text at all",
        " ".join(f"word{i}" for i in range(24)) + " the\x0bthe",
    ]
    d = docs_dir(tmp_path, [(i, t, "en", f"s{i % 2}", 0) for i, t in enumerate(texts)])
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')")
    assert_matches_oracle(spark, duck, name, d)


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
