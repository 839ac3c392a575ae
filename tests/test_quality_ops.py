"""Functional tests for ``queries/quality_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, docs_dir, run

# The corpus-build funnel and the censuses of its stages.
_FUNNEL_QUERIES = [
    "q479_corpus_build_funnel",
    "q480_gopher_repetition_census",
    "q481_funnel_stage_overlap",
    "q482_gate_threshold_curve",
]


@pytest.mark.slow
def test_q206_yield_curve_monotone_and_totals(spark):
    out = run(spark, "q206_quality_yield_curve").toPandas()
    # buckets descend; cumulative columns are non-decreasing top-down
    assert (out.bucket.to_numpy()[:-1] > out.bucket.to_numpy()[1:]).all()
    assert (out.cum_docs.to_numpy()[:-1] <= out.cum_docs.to_numpy()[1:]).all()
    assert out.cum_docs.iloc[-1] == out.n_docs.sum()
    assert out.cum_tokens.iloc[-1] == out.n_tokens.sum()


@pytest.mark.slow
def test_q297_normalized_means_are_flat(spark):
    rows = QUERIES["q297_quantile_normalization"].fn(spark, SF_DIR).collect()
    raw = [r["mean_raw_milli"] for r in rows]
    qn = [r["mean_qn_milli"] for r in rows]
    assert max(qn) - min(qn) <= max(raw) - min(raw)
    # equal-size source groups (the sf0.001 fixture): QN is exact, all
    # sources land on the identical pooled quantile profile
    if len({r["n"] for r in rows}) == 1:
        assert len(set(qn)) == 1


@pytest.mark.slow
def test_q351_lexicon_rates_consistent(spark):
    rows = run(spark, "q351_lexicon_flagging").collect()
    for r in rows:
        assert 0 <= r.n_flagged <= r.n_docs
        assert 0 <= r.flagged_bp <= 10000
        assert 0 <= r.hit_rate_bp <= 10000


@pytest.mark.slow
def test_q382_loo_weighted_deltas_cancel(spark):
    rows = run(spark, "q382_source_ablation").collect()
    assert len(rows) == 20
    corpus_mean = rows[0].corpus_mean_milli
    assert all(r.corpus_mean_milli == corpus_mean for r in rows)
    # deltas sorted descending; a below-average source has positive
    # delta (removing it raises the mean)
    deltas = [r.loo_delta_milli for r in rows]
    assert deltas == sorted(deltas, reverse=True)
    for r in rows:
        sign_below = r.mean_len_milli < corpus_mean
        assert (r.loo_delta_milli >= 0) == sign_below or r.loo_delta_milli == 0


@pytest.mark.slow
def test_q79_alpha_rule_on_mixed_tokens(spark, tmp_path):
    # Pin the regexp_extract_all n_alpha rewrite (r8: HOF lambdas are
    # interpreted; the string-expr form stays in codegen) to the
    # original filter(rlike('^[a-z]+$')) semantics on tokens the
    # synthetic corpus never produces: digits, embedded punctuation,
    # mixed alphanumerics, non-ASCII letters, multi-space runs.
    # 'one two2 thr-ee café  four x9 y' -> alpha tokens: one, four, y
    # (7 tokens, 3 alpha -> 5*3 < 4*7 fails the 80% rule).
    rows = [
        (1, "one two2 thr-ee café  four x9 y", "mixed", "en", 0),
        (2, "all pure alpha tokens here yes sir indeed ok fine good pal",
         "clean", "en", 0),
    ]
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "source", "lang", "n_chars"]
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    df["doc_id"] = df["doc_id"].astype("int64")
    (tmp_path / "d").mkdir(exist_ok=True)
    df.to_parquet(tmp_path / "d" / "documents.parquet", index=False)
    out = {
        r["source"]: r
        for r in run(spark, "q79_quality_rules", str(tmp_path / "d")).collect()
    }
    assert out["mixed"].n_fail_alpha == 1      # 3/7 alpha < 80%
    assert out["mixed"].n_fail_short == 1      # 7 < 10 tokens
    assert out["clean"].n_fail_alpha == 0      # 12/12 alpha
    assert out["clean"].n_keep == 1


# --- q430: Gopher stopword gate ----------------------------------------------


@pytest.mark.slow
def test_q430_distinct_hits_not_token_hits(spark, tmp_path):
    # doc 1: "the the the ..." — many stop TOKENS but only ONE distinct
    # stop word -> FAILS the >=2-distinct rule; doc 2 has two distinct
    # stopwords exactly once each -> passes.
    rows = [
        (1, "the the the the rock", "en", "s", 0),
        (2, "of stone and rock here", "en", "s", 0),
    ]
    r = run(spark, "q430_stopword_gate", docs_dir(tmp_path, rows)).collect()[0]
    assert r["n_docs"] == 2
    assert r["n_pass"] == 1 and r["n_fail_stopword"] == 1
    # stop tokens: 4x"the" + "of" + "and" = 6 of 10 tokens
    assert r["n_stop_tokens"] == 6 and r["n_tokens"] == 10
    assert r["stop_density_bp"] == (10000 * 6) // 10


@pytest.mark.slow
def test_q430_consecutive_stopwords_all_counted(spark, tmp_path):
    # regexp token counting consumes only the LEADING separator, so a
    # run "of the and that" counts every one of them.
    rows = [(1, "of the and that", "en", "s", 0)]
    r = run(spark, "q430_stopword_gate", docs_dir(tmp_path, rows)).collect()[0]
    assert r["n_stop_tokens"] == 4 and r["n_tokens"] == 4
    assert r["n_pass"] == 1


@pytest.mark.slow
def test_q439_single_gate_failures_land_at_k3(spark, tmp_path):
    # Construct one doc per single-gate failure plus one all-pass doc:
    # the census must put exactly three docs at k=3 and one at k=4.
    # (All-pass needs: >=10 tokens, mean len in [2,12], >=80% alpha,
    # >=2 distinct Gopher stopwords.)
    good = "the cat sat of the mat and dogs ran far"  # 10 toks, 3 stops
    short = "the of cat"  # fails min-length only
    nonalpha = "the of 11 22 33 44 55 66 77 88"  # fails alpha only
    nostop = "cat sat mat dog ran far big red car pig"  # fails stopword only
    rows = [
        (1, good, "en", "s", 0),
        (2, short, "en", "s", 0),
        (3, nonalpha, "en", "s", 0),
        (4, nostop, "en", "s", 0),
    ]
    out = {
        r["n_pass"]: r
        for r in run(
            spark, "q439_filter_ensemble_census", docs_dir(tmp_path, rows)
        ).collect()
    }
    assert out[4]["n_docs"] == 1
    assert out[3]["n_docs"] == 3
    assert sum(r["n_docs"] for r in out.values()) == 4
    assert sum(r["docs_bp"] for r in out.values()) <= 10000


@pytest.mark.slow
def test_q439_null_text_row_scores_zero(spark, tmp_path):
    # ADVICE r10 (medium): a NULL text makes every gate signal NULL;
    # raw boolean casts would park the doc in an n_pass=NULL group,
    # while the DuckDB oracle's CASE WHEN ... ELSE 0 scores it
    # n_pass=0. Both engines must agree: run the registered oracle SQL
    # on the same fixture and compare frames exactly.
    import duckdb

    good = "the cat sat of the mat and dogs ran far"
    df = pd.DataFrame(
        [(1, good, "en", "s", 0), (2, None, "en", "s", 0)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["n_chars"].astype("int64")
    d = tmp_path / "docs_null439"
    d.mkdir(exist_ok=True)
    df.to_parquet(d / "documents.parquet", index=False)

    out = {
        r["n_pass"]: (r["n_docs"], r["n_tokens"], r["docs_bp"])
        for r in run(spark, "q439_filter_ensemble_census", str(d)).collect()
    }
    assert 0 in out and out[0][0] == 1, f"NULL doc must score n_pass=0: {out}"
    assert None not in out, "no n_pass=NULL group may exist"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    # oracle column order: n_pass, n_docs, docs_bp, n_tokens, tokens_bp
    oracle = {
        int(r[0]): (int(r[1]), int(r[3] or 0), int(r[2] if r[2] is not None else 0))
        for r in con.execute(
            QUERIES["q439_filter_ensemble_census"].oracle
        ).fetchall()
    }
    spark_cmp = {
        k: (v[0], v[1] or 0, v[2] if v[2] is not None else 0)
        for k, v in out.items()
    }
    assert spark_cmp == oracle


@pytest.mark.slow
def test_q443_flags_low_entropy(spark, tmp_path):
    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaa", "en", "junk", 0),  # H = 0 bits
        (2, "the quick brown fox jumps over the lazy dog", "en", "prose", 0),
    ]
    out = {
        r["source"]: r
        for r in run(spark, "q443_char_entropy_gate", docs_dir(tmp_path, rows)).collect()
    }
    assert out["junk"]["n_low_entropy"] == 1
    assert out["junk"]["mean_entropy_e6"] == 0
    assert out["prose"]["n_low_entropy"] == 0
    assert out["prose"]["mean_entropy_e6"] > 3000000  # prose ~4 bits/char


@pytest.mark.slow
def test_q444_exact_contamination_is_bloom_flagged(spark, tmp_path):
    # doc 97 (97 % 97 == 0) is the benchmark; doc 1 repeats its text ->
    # every gram exact-hits, so it must be flagged by BOTH paths (a
    # bloom never false-negatives); doc 2 is clean prose.
    bench = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (97, bench, "en", "b", 0),
        (1, bench, "en", "c", 0),
        (2, "one two three four five six seven eight", "en", "c", 0),
    ]
    out = {
        r["source"]: r
        for r in run(spark, "q444_bloom_decontaminate", docs_dir(tmp_path, rows)).collect()
    }
    c = out["c"]
    assert c["n_flagged_exact"] == 1
    assert c["n_flagged_bloom"] >= 1  # superset of exact, never below
    assert c["n_false_positive"] == c["n_flagged_bloom"] - c["n_flagged_exact"]


# --- q473: decontamination order curve invariants ---------------------------


@pytest.mark.slow
def test_q473_flagged_non_increasing_in_order(spark):
    # A benchmark n-gram hit implies benchmark (n-1)-gram hits (every
    # sub-span of a bench gram is itself a bench gram), so the flagged
    # set can only shrink as the order grows.
    rows = run(spark, "q473_decon_order_curve").collect()
    assert len(rows) == 5
    flagged = [r.flagged_docs for r in rows]  # rows ordered by gram_order
    assert flagged == sorted(flagged, reverse=True), flagged
    cd = {r.corpus_docs for r in rows}
    assert len(cd) == 1  # corpus size is order-independent
    for r in rows:
        assert r.flagged_bp == (10000 * r.flagged_docs) // r.corpus_docs
        assert r.flagged_docs <= r.hit_occurrences or r.flagged_docs == 0


# --- q475: bloom sizing curve invariants -------------------------------------


@pytest.mark.slow
def test_q475_fpr_monotone_and_theory_tracks(spark):
    rows = run(spark, "q475_bloom_sizing_advisor").collect()
    assert len(rows) == 6
    # one bench set, one absent-gram census — constant across the grid
    assert len({r.n_inserted for r in rows}) == 1
    assert len({r.n_absent for r in rows}) == 1
    by = {(r.m_bits, r.k_hashes): r for r in rows}
    # at fixed k, a bigger filter can only lower the measured FPR
    for k in (2, 4):
        fprs = [by[(m, k)].fpr_bp for m in (4096, 16384, 65536)]
        assert fprs == sorted(fprs, reverse=True), fprs
    for r in rows:
        assert 0 <= r.n_false_pos <= r.n_absent
        assert r.fpr_bp == (10000 * r.n_false_pos) // r.n_absent
        assert 0 <= r.theory_bp <= 10000
        assert r.bits_per_key_milli == (1000 * r.m_bits) // r.n_inserted
    # the measurement exists to sit NEXT to the formula: on a hash
    # this uniform the two agree within a small absolute band at the
    # fixture scale (else the md5-slice contract is broken)
    for r in rows:
        assert abs(r.fpr_bp - r.theory_bp) <= max(50, r.theory_bp // 2), (
            r.m_bits,
            r.k_hashes,
            r.fpr_bp,
            r.theory_bp,
        )


# --- q479: corpus-build funnel invariants ----------------------------------


def _rows(spark):
    return {
        (r["stage"], r["source"]): r
        for r in run(spark, "q479_corpus_build_funnel").collect()
    }


def test_all_wave_queries_registered_with_oracles(spark):
    for name in _FUNNEL_QUERIES:
        assert name in QUERIES, name
        assert QUERIES[name].oracle is not None, f"{name} must be oracle-backed"


def test_q479_stage_yields_monotone_nonincreasing(spark):
    """Stages 0-4 only ever REMOVE docs/tokens, per source."""
    rows = _rows(spark)
    sources = {s for (_, s) in rows}
    assert len(sources) == 20
    for s in sources:
        for stage in range(1, 5):
            prev, cur = rows[(stage - 1, s)], rows[(stage, s)]
            assert cur["n_docs"] <= prev["n_docs"], (s, stage)
            assert cur["n_tokens"] <= prev["n_tokens"], (s, stage)
            assert 0 <= cur["metric_bp"] <= 10000, (s, stage)


def test_q479_stage0_is_the_bench_excluded_corpus(spark):
    """Raw stage = all docs except the bench split, metric pinned 10000."""
    import duckdb

    rows = _rows(spark)
    n_raw = sum(r["n_docs"] for (st, _), r in rows.items() if st == 0)
    expected = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
        " WHERE doc_id % 97 <> 0"
    ).fetchone()[0]
    assert n_raw == expected
    assert all(
        r["metric_bp"] == 10000 for (st, _), r in rows.items() if st == 0
    )


def test_q479_mixture_weights_normalize(spark):
    """DoReMi weights sum to ~10000 bp (truncating div loses < |src| bp)
    and stages 5/6 carry the final corpus counts."""
    rows = _rows(spark)
    w = [r["metric_bp"] for (st, _), r in rows.items() if st == 5]
    assert 10000 - len(w) <= sum(w) <= 10000
    for s in {s for (_, s) in rows}:
        assert rows[(5, s)]["n_docs"] == rows[(4, s)]["n_docs"]
        assert rows[(6, s)]["n_tokens"] == rows[(4, s)]["n_tokens"]


def test_q479_packing_metric_matches_closed_form(spark):
    """pad_waste_bp recomputed from the final stage's token census must
    be consistent with the emitted value for at least the global check:
    every per-source value sits in [0, 10000) and is zero only when the
    source is empty or every doc is an exact multiple of 128."""
    rows = _rows(spark)
    for (st, s), r in rows.items():
        if st != 6:
            continue
        assert 0 <= r["metric_bp"] < 10000, (s, r["metric_bp"])
        if r["n_docs"] > 0:
            # fixture docs are ~16 tokens -> pad waste dominates; a zero
            # here would mean the pad arithmetic silently vanished
            assert r["metric_bp"] > 0, s


# --- q480: Gopher repetition census invariants ------------------------------


def test_q480_flag_hierarchy_and_coverage_bounds(spark):
    """flagged_any >= each individual rule's count per source; every
    flag count <= n_docs; the dup-3 coverage rule actually FIRES
    somewhere in the corpus (a silent-zero coverage computation would
    still oracle-match, so the signal itself is pinned)."""
    rows = run(spark, "q480_gopher_repetition_census").collect()
    assert len(rows) == 20
    for r in rows:
        for c in ("flagged_top2", "flagged_top3", "flagged_top4",
                  "flagged_dup3"):
            assert 0 <= r[c] <= r["n_docs"], (r["source"], c)
            assert r[c] <= r["flagged_any"], (r["source"], c)
        assert r["flagged_any"] <= (
            r["flagged_top2"] + r["flagged_top3"] + r["flagged_top4"]
            + r["flagged_dup3"]
        )
    assert sum(r["flagged_dup3"] for r in rows) >= 1
    assert sum(r["flagged_any"] for r in rows) >= 1


def test_q480_dup_coverage_position_union_golden(spark):
    """Golden pin of the position-set-union semantics on a constructed
    doc: 'a b c a b c x' has the duplicated 3-gram 'a b c' at starts
    1 and 4, covering positions {1..6} of 7 -> 8571 bp (NOT 6/7 of
    multiset mass double-counted)."""
    df = spark.createDataFrame([("a b c a b c x",)], "text string")
    got = df.selectExpr(
        "size(split(lower(trim(text)), '\\\\s+')) AS n_toks",
        "CASE WHEN size(split(lower(trim(text)), '\\\\s+')) >= 3 THEN"
        " transform(sequence(1, size(split(lower(trim(text)), '\\\\s+')) - 2),"
        " i -> array_join(slice(split(lower(trim(text)), '\\\\s+'), i, 3), ' '))"
        " ELSE array() END AS gd"
    ).selectExpr(
        "(10000 * size(array_distinct(flatten(transform("
        "filter(sequence(1, size(gd)),"
        " i -> size(filter(gd, h -> h = element_at(gd, i))) >= 2),"
        " i -> sequence(i, i + 2)))))) div n_toks AS bp"
    ).collect()[0]["bp"]
    assert got == 8571


# --- q481: stage kill-overlap invariants -------------------------------------


def test_q481_matrix_consistency(spark):
    """6 pair rows; kill counts are consistent across rows naming the
    same stage; both <= min(kills); exact/neardup structurally
    disjoint (neardup evaluates on exact survivors)."""
    rows = {(r["stage_a"], r["stage_b"]): r
            for r in run(spark, "q481_funnel_stage_overlap").collect()}
    assert len(rows) == 6
    kills = {}
    for (a, b), r in rows.items():
        assert r["both_kill"] <= min(r["kills_a"], r["kills_b"])
        assert r["only_a_kills"] == r["kills_a"] - r["both_kill"]
        assert r["only_b_kills"] == r["kills_b"] - r["both_kill"]
        assert 0 <= r["overlap_bp"] <= 10000
        for s, k in ((a, r["kills_a"]), (b, r["kills_b"])):
            assert kills.setdefault(s, k) == k, f"{s} inconsistent"
    assert rows[("exact", "neardup")]["both_kill"] == 0


def test_q479_checkpoint_cuts_hold(spark):
    """The funnel's stage boundaries must stay checkpointed: the final
    plan roots at ExistingRDD scans with a bounded exchange residue.
    Measured r13: checkpoints no-op'd -> 216 parquet scans / 427
    exchanges (every census re-derives the lineage); with the cuts ->
    zero parquet scans in the final plan and <= 5 exchanges."""
    from ooh_etl_spark.plans.audit import physical_plan, shuffle_count

    plan = physical_plan(
        QUERIES["q479_corpus_build_funnel"].fn(spark, SF_DIR)
    )
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert shuffle_count(plan) <= 5, shuffle_count(plan)


# --- q482: gate threshold curve invariants -----------------------------------


def test_q482_monotone_and_anchored(spark):
    """Survivors are monotone in the swept threshold (non-increasing
    for the >= gates, non-decreasing for the <= repetition gate), and
    every gate's curve at its deployed default equals the all-default
    ensemble survivor count (the q465/q479 gate composition)."""
    rows = run(spark, "q482_gate_threshold_curve").collect()
    assert len(rows) == 20
    by_gate = {}
    for r in rows:
        by_gate.setdefault(r["gate"], []).append(r)
    defaults = {"len": 20, "alpha": 12, "stopword": 100, "repetition": 2000}
    anchor = None
    for gate, rs in by_gate.items():
        rs.sort(key=lambda r: r["threshold"])
        surv = [r["n_survivors"] for r in rs]
        toks = [r["tokens_survive"] for r in rs]
        if gate == "repetition":
            assert surv == sorted(surv), (gate, surv)
            assert toks == sorted(toks), (gate, toks)
        else:
            assert surv == sorted(surv, reverse=True), (gate, surv)
            assert toks == sorted(toks, reverse=True), (gate, toks)
        at_default = [
            r["n_survivors"] for r in rs if r["threshold"] == defaults[gate]
        ]
        assert len(at_default) == 1, gate
        anchor = anchor if anchor is not None else at_default[0]
        assert at_default[0] == anchor, (gate, at_default[0], anchor)
        assert len({r["n_docs"] for r in rs}) == 1
