"""Functional tests for ``queries/dedup.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, docs_dir, emb_dir, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


_KNUTH_A = 2654435761
_KNUTH_M = 4294967296
_KNUTH_T = 3435973837


def _is_train(doc_id: int) -> bool:
    return (doc_id * _KNUTH_A) % _KNUTH_M < _KNUTH_T


def test_q291_lcp_buckets_within_threshold_and_cap(spark):
    rows = QUERIES["q291_suffix_lcp_profile"].fn(spark, SF_DIR).collect()
    assert rows, "word-soup corpus must surface shared suffixes"
    for r in rows:
        assert 10 <= r["lcp_bucket"] <= 40
        assert r["n_pairs"] >= r["n_docs"] >= 1


def test_q327_normalized_dedup_partitions_corpus(spark):
    from ooh_etl_spark.tables import load_table

    total = load_table(spark, SF_DIR, "documents").count()
    rows = run(spark, "q327_normalized_exact_dedup").collect()
    assert sum(r.n_copies * r.n_groups for r in rows) == total
    # normalization can only merge MORE than byte-exact dedup
    exact_groups = (
        load_table(spark, SF_DIR, "documents")
        .select("text")
        .distinct()
        .count()
    )
    assert sum(r.n_groups for r in rows) <= exact_groups


def test_q345_sweep_monotone_in_threshold(spark):
    rows = run(spark, "q345_dedup_threshold_sweep").collect()
    assert [r.threshold_bp for r in rows] == [5000, 6000, 7000, 8000, 9000]
    pairs = [r.n_pairs for r in rows]
    dropped = [r.n_dropped for r in rows]
    survival = [r.survival_bp for r in rows]
    # raising the threshold can only shrink the pair/drop sets
    assert pairs == sorted(pairs, reverse=True)
    assert dropped == sorted(dropped, reverse=True)
    assert survival == sorted(survival)
    # the 0.5 row must agree with q27's pair count
    q27_pairs = run(spark, "q27_jaccard_pairs").count()
    assert rows[0].n_pairs == q27_pairs


def test_q350_incremental_matches_are_cross_batch_only(spark):
    rows = run(spark, "q350_incremental_dedup").collect()
    assert len(rows) > 0
    from ooh_etl_spark.tables import load_table

    mx = (
        load_table(spark, SF_DIR, "documents")
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    cut = (mx + 1) * 9 // 10
    for r in rows:
        assert r.new_doc_id >= cut
        assert r.kept_doc_id < cut
        assert r.n_matches >= 1


def test_q379_sparse_cosine_bounds_and_symmetric_keying(spark):
    rows = run(spark, "q379_sparse_cosine_pairs").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.da < r.db
        assert 9000 <= r.cos_bp <= 10000


def test_q392_overlap_jaccard_bounds(spark):
    rows = run(spark, "q392_source_overlap_matrix").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.src_a < r.src_b
        assert 0 < r.co <= min(r.n_a, r.n_b)
        assert 0 <= r.jaccard_bp <= 10000
        expected = round(10000.0 * r.co / (r.n_a + r.n_b - r.co))
        assert abs(r.jaccard_bp - expected) <= 1


def test_q417_winnowing_guarantee(spark, tmp_path):
    # Schleimer et al. theorem 1: any shared substring of length
    # >= k + w - 1 (= 11 here) yields at least one SHARED fingerprint.
    # Two documents with a planted 40-char common passage and otherwise
    # disjoint alphabets must collide; a third, fully disjoint doc
    # must not inherit their fingerprints.
    common = "the quick brown fox jumps over lazy dogs"
    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaa " + common + " bbbbbbbbbbbbbbbbbbbb",
         "en", "s1", 0),
        (2, "cccccccccccccccccccc " + common + " dddddddddddddddddddd",
         "en", "s1", 0),
        (3, "eeeeeeeeeeeeeeeeeeee ffffffffffffffffffff gggggggggggggggg",
         "en", "s2", 0),
    ]
    out = {
        r["source"]: r
        for r in run(spark, "q417_winnowing_fingerprints", docs_dir(tmp_path, rows))
        .collect()
    }
    # the planted passage forces cross-doc fingerprints in s1
    assert out["s1"].xdoc_fps > 0
    # per-doc distinct sets sum to n_fps; distinct <= n_fps
    for r in out.values():
        assert r.distinct_fps <= r.n_fps
    # the disjoint doc shares nothing with anyone
    assert out["s2"].xdoc_fps == 0


def test_q418_cdc_shift_resistance(spark, tmp_path):
    # THE content-defined-chunking property (LBFS): prepending one char
    # shifts every byte offset, yet all chunks after the first boundary
    # are byte-identical, so the census still sees the duplication.
    # Fixed-width chunking would share nothing.
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
        "omega one two three four five six seven eight nine ten "
        "eleven twelve thirteen fourteen fifteen sixteen seventeen"
    )
    rows = [
        (1, base, "en", "s1", 0),
        (2, "X" + base, "en", "s1", 0),
    ]
    r = (
        run(spark, "q418_cdc_chunk_dedup", docs_dir(tmp_path, rows))
        .collect()[0]
    )
    # duplicated chunk mass despite the offset shift
    assert r.n_chunks > r.distinct_chunks, r
    assert r.dup_bp > 0, r
    # sanity: both docs chunked
    assert r.n_docs == 2 and r.n_chunks >= 4


def test_q418_degenerate_docs(spark, tmp_path):
    # empty text -> zero chunks (no crash, no phantom row); short text
    # (< window k) -> exactly one whole-doc chunk via the sentinel pair
    rows = [
        (1, "", "en", "s1", 0),
        (2, "tiny", "en", "s2", 0),
    ]
    out = {
        r["source"]: r
        for r in run(spark, "q418_cdc_chunk_dedup", docs_dir(tmp_path, rows))
        .collect()
    }
    assert "s1" not in out  # empty doc contributes no chunks
    assert out["s2"].n_chunks == 1


def test_q423_policy_ladder(spark, tmp_path):
    # Construct exactly two near-dup pairs, both straddling the Knuth
    # 80/20 split: one EXACT pair (identical text) and one NEAR pair
    # (one token differs). The policy ladder is then fully determined:
    # naive leaks both; exact-cluster de-leaks only the exact pair;
    # near-dup-component clustering leaks nothing (its structural
    # guarantee — every pair is intra-component).
    train_ids = [i for i in range(1, 40) if _is_train(i)]
    test_ids = [i for i in range(1, 40) if not _is_train(i)]
    xa, xb = train_ids[0], test_ids[0]  # exact pair, split-straddling
    na, nb = train_ids[1], test_ids[1]  # near pair, split-straddling
    x_text = " ".join(f"alpha{j}" for j in range(12))
    n_base = [f"beta{j}" for j in range(12)]
    n_text_a = " ".join(n_base)
    n_text_b = " ".join(n_base[:-1] + ["betaX"])  # 1 token differs
    rows = [
        (xa, x_text, "en", "s", 0),
        (xb, x_text, "en", "s", 0),
        (na, n_text_a, "en", "s", 0),
        (nb, n_text_b, "en", "s", 0),
    ]
    out = {
        r["policy"]: r
        for r in run(
            spark, "q423_split_leakage_audit", docs_dir(tmp_path, rows)
        ).collect()
    }
    assert out["a_naive_hash"].n_pairs == 2
    assert out["a_naive_hash"].leaked_pairs == 2
    assert out["b_exact_cluster"].leaked_pairs == 1  # near pair still leaks
    assert out["c_neardup_cluster"].leaked_pairs == 0
    assert out["c_neardup_cluster"].leak_bp == 0


def test_q423_pair_free_corpus_matches_oracle(spark, tmp_path):
    # ADVICE r8: on a corpus with ZERO near-dup pairs the oracle still
    # emits its three policy rows; the Spark side must too (zero
    # counts, NULL leak_bp) — guarded by the literal policy frame
    # left-join. Verified against the actual DuckDB oracle on the same
    # pair-free corpus, through the driver's canonicalization.
    import duckdb

    from tools.check_oracle import canon_frame

    from ooh_etl_spark.queries import QUERIES

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(12)), "en", "s", 0)
        for i in range(1, 6)
    ]
    d = docs_dir(tmp_path, rows)
    sdf = run(spark, "q423_split_leakage_audit", d)
    srows = sdf.collect()
    assert len(srows) == 3
    for r in srows:
        assert r.n_pairs == 0 and r.leaked_pairs == 0 and r.leak_bp is None
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    ores = con.execute(QUERIES["q423_split_leakage_audit"].oracle)
    ocols = [x[0] for x in ores.description]
    orows = ores.fetchall()
    scols = sorted(sdf.columns)
    assert canon_frame(srows, sdf.columns, scols) == canon_frame(
        orows, ocols, scols
    )


def test_q423_component_policy_never_leaks(spark, tmp_path):
    # Transitive chains: a~b and b~c near-dup but a,c share a component
    # only through b. The component policy must keep the WHOLE chain on
    # one side even when the min-id label travels multiple hops.
    base = [f"tok{j}" for j in range(12)]
    chain = [
        " ".join(base),
        " ".join(base[:-1] + ["varA"]),
        " ".join(base[:-2] + ["varA", "varB"]),
        " ".join(base[:-3] + ["varA", "varB", "varC"]),
    ]
    rows = [(i + 1, t, "en", "s", 0) for i, t in enumerate(chain)]
    out = {
        r["policy"]: r
        for r in run(
            spark, "q423_split_leakage_audit", docs_dir(tmp_path, rows)
        ).collect()
    }
    assert out["c_neardup_cluster"].n_pairs >= 3  # chain adjacencies found
    assert out["c_neardup_cluster"].leaked_pairs == 0


def test_q424_first_occurrence_census(spark, tmp_path):
    # doc 1: one 8-token line L. doc 2: L again (removed — doc 1 wins
    # by doc_id order) + a private 8-token line (kept). doc 3: a
    # 3-token partial line (kept). Census is per source.
    line = " ".join(f"w{j}" for j in range(8))
    private = " ".join(f"p{j}" for j in range(8))
    rows = [
        (1, line, "en", "first", 0),
        (2, line + " " + private, "en", "second", 0),
        (3, "tiny partial line", "en", "third", 0),
    ]
    out = {
        r["source"]: r
        for r in run(spark, "q424_line_dedup", docs_dir(tmp_path, rows)).collect()
    }
    assert out["first"].n_lines == 1 and out["first"].n_kept == 1
    assert out["second"].n_lines == 2 and out["second"].n_kept == 1
    assert out["second"].retained_lines_bp == 5000
    assert out["third"].n_lines == 1 and out["third"].n_kept == 1
    # char retention: doc 2 keeps only the private line's chars
    assert out["second"].n_chars_kept == len(private)
    assert out["second"].n_chars == len(line) + len(private)


def test_q424_retention_bounded_and_total(spark, tmp_path):
    # Every distinct line survives exactly once corpus-wide: sum of
    # kept over sources == number of distinct lines.
    line_a = " ".join(f"a{j}" for j in range(8))
    line_b = " ".join(f"b{j}" for j in range(8))
    rows = [
        (1, line_a + " " + line_b, "en", "s1", 0),
        (2, line_b + " " + line_a, "en", "s2", 0),
        (3, line_a, "en", "s3", 0),
    ]
    res = run(spark, "q424_line_dedup", docs_dir(tmp_path, rows)).collect()
    assert sum(r["n_kept"] for r in res) == 2  # line_a, line_b
    assert sum(r["n_lines"] for r in res) == 5


def test_q423b_exact_policy_collapses_to_naive(spark, tmp_path):
    # Post-exact-dedup every text is unique, so the exact-cluster hash
    # policy (b) must coincide with the naive per-doc hash policy (a)
    # BY CONSTRUCTION — and exact-dup pairs must no longer appear in
    # the pair table at all. Build one exact pair + one near pair: the
    # funnel drops the exact pair, leaving exactly the near-dup
    # adjacency for all three policies.
    base = [f"tok{j}" for j in range(12)]
    rows = [
        (1, " ".join(base), "en", "s", 0),
        (2, " ".join(base), "en", "s", 0),  # exact dup of 1 — funnel drops
        (3, " ".join(base[:-1] + ["varX"]), "en", "s", 0),  # near dup of 1
    ]
    out = {
        r["policy"]: r
        for r in run(
            spark, "q423b_split_leakage_audit_funnel", docs_dir(tmp_path, rows)
        ).collect()
    }
    a, b, c = (
        out["a_naive_hash"],
        out["b_exact_cluster"],
        out["c_neardup_cluster"],
    )
    assert a.n_pairs == b.n_pairs == c.n_pairs == 1  # only the near pair
    assert (a.n_pairs, a.leaked_pairs, a.leak_bp) == (
        b.n_pairs,
        b.leaked_pairs,
        b.leak_bp,
    )
    assert c.leaked_pairs == 0  # component policy never leaks


def test_q423b_funnel_shrinks_pair_table_vs_raw(spark, tmp_path):
    # The scale rationale made executable at test size: replicate a
    # small corpus 3x (the SCALE.md pathology in miniature). The raw
    # audit sees the clique-inflated pair table; the funnel audit sees
    # only the natural near-dup pairs.
    base = [f"w{j}" for j in range(12)]
    texts = [
        " ".join(base),
        " ".join(base[:-1] + ["varA"]),
    ]
    rows = [
        (copy * 10 + i, t, "en", "s", 0)
        for copy in range(3)
        for i, t in enumerate(texts)
    ]
    d = docs_dir(tmp_path, rows)
    raw = {
        r["policy"]: r
        for r in run(spark, "q423_split_leakage_audit", d).collect()
    }
    fun = {
        r["policy"]: r
        for r in run(spark, "q423b_split_leakage_audit_funnel", d).collect()
    }
    # 6 docs in 1 near-dup component -> C(6,2)=15 raw pairs; funnel
    # keeps 2 docs -> 1 pair.
    assert raw["c_neardup_cluster"].n_pairs == 15
    assert fun["c_neardup_cluster"].n_pairs == 1
    assert fun["c_neardup_cluster"].leaked_pairs == 0


def test_q425_reorder_only_dups_detected(spark, tmp_path):
    # doc 2 is a word-order permutation of doc 1 (BOW dup, not exact);
    # doc 3 is a byte-exact copy of doc 1 (both exact and BOW dup);
    # doc 4 is unrelated. Exact dedup keeps 1,2,4; BOW keeps 1,4.
    rows = [
        (1, "alpha beta gamma delta", "en", "s", 0),
        (2, "delta gamma beta alpha", "en", "s", 0),
        (3, "alpha beta gamma delta", "en", "s", 0),
        (4, "totally different words here", "en", "s", 0),
    ]
    out = run(spark, "q425_bow_fingerprint_dedup", docs_dir(tmp_path, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 4
    assert r.n_exact_kept == 3  # 1, 2, 4
    assert r.n_bow_kept == 2    # 1, 4
    assert r.reorder_only_dups == 1  # doc 2
    assert r.bow_dup_bp == 5000  # 2 of 4 dropped


def test_q425_token_multiset_not_set(spark, tmp_path):
    # 'a a b' and 'a b b' share the token SET {a,b} but not the
    # multiset — a bag-of-words fingerprint must NOT collide them.
    rows = [
        (1, "a a b", "en", "s", 0),
        (2, "a b b", "en", "s", 0),
    ]
    r = run(spark, "q425_bow_fingerprint_dedup", docs_dir(tmp_path, rows)).collect()[0]
    assert r.n_bow_kept == 2 and r.reorder_only_dups == 0


def test_q426_rep_is_longest_then_min_id(spark, tmp_path):
    # One near-dup cluster of three; doc 12 has the longest text so it
    # is the representative despite not being the min id. n_chars is
    # derived from the text by _docs_dir.
    base = [f"tok{j}" for j in range(12)]
    rows = [
        (10, " ".join(base), "en", "s1", 0),
        (12, " ".join(base + ["extra", "tail", "words"]), "en", "s2", 0),
        (15, " ".join(base[:-1] + ["varX"]), "en", "s1", 0),
    ]
    out = run(
        spark, "q426_cluster_representatives", docs_dir(tmp_path, rows)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cluster_id == 10  # min-label component id
    assert r.n_members == 3
    assert r.rep_doc_id == 12  # longest text wins over min id
    assert r.n_sources == 2


def test_q426_rep_tie_breaks_to_min_id(spark, tmp_path):
    # Equal-length members: the tie must deterministically go to the
    # smallest doc_id (the q55 struct-extremum lesson).
    base = [f"w{j}" for j in range(12)]
    rows = [
        (7, " ".join(base), "en", "s", 0),
        (3, " ".join(base), "en", "s", 0),  # exact dup, same length
    ]
    r = run(
        spark, "q426_cluster_representatives", docs_dir(tmp_path, rows)
    ).collect()[0]
    assert r.rep_doc_id == 3


def test_q427_identical_docs_estimate_exactly_one(spark, tmp_path):
    # A byte-identical pair has true J = 1.0 and identical MinHash
    # signatures: the estimate must be exactly 10000 bp with zero MAE.
    base = [f"u{j}" for j in range(12)]
    rows = [
        (1, " ".join(base), "en", "s", 0),
        (2, " ".join(base), "en", "s", 0),
    ]
    out = run(spark, "q427_minhash_calibration", docs_dir(tmp_path, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.bucket_lo_bp == 8000
    assert r.n_pairs == 1
    assert r.mean_true_bp == 10000
    assert r.mean_est_bp == 10000
    assert r.mae_bp == 0 and r.bias_bp == 0


def test_q427_estimate_lands_on_625bp_grid(spark, tmp_path):
    # Partial-overlap pairs: every per-pair estimate is matches/16, so
    # bucket means over one pair must land on the 625-bp grid, and
    # |bias| <= mae always.
    base = [f"v{j}" for j in range(20)]
    rows = [
        (1, " ".join(base), "en", "s", 0),
        (2, " ".join(base[:15] + ["x1", "x2", "x3", "x4", "x5"]), "en", "s", 0),
        (3, " ".join(base[:10] + [f"y{j}" for j in range(10)]), "en", "s", 0),
    ]
    out = run(spark, "q427_minhash_calibration", docs_dir(tmp_path, rows)).collect()
    assert out, "expected at least one J>=0.2 candidate pair"
    for r in out:
        assert r.bucket_lo_bp in (2000, 4000, 6000, 8000)
        assert 0 <= r.mean_est_bp <= 10000
        assert abs(r.bias_bp) <= r.mae_bp


# --- q428: ROUGE-2 pair overlap ----------------------------------------------


def test_q428_clipped_multiset_not_set(spark, tmp_path):
    # Shared 12-token prefix makes the pair a Jaccard candidate
    # (3-shingle J = 12/17); the suffixes then differ in bigram
    # MULTIPLICITY: doc 1 carries "a b" three times, doc 2 twice.
    # Clipped overlap counts min(3, 2) = 2 for it (a SET measure would
    # say 1; an unclipped product would say 6).
    pre = [f"w{j}" for j in range(12)]
    rows = [
        (1, " ".join(pre + ["a", "b", "a", "b", "a", "b"]), "en", "s", 0),
        (2, " ".join(pre + ["a", "b", "c", "a", "b"]), "en", "s", 0),
    ]
    out = run(spark, "q428_rouge2_pair_overlap", docs_dir(tmp_path, rows))
    r = out.collect()[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # shared: 11 prefix bigrams + "w11 a" + min(3,2) of "a b" = 14
    assert r["ovl"] == 14 and r["tot_a"] == 17 and r["tot_b"] == 16
    assert r["rouge2_recall_bp"] == (10000 * 14) // 17
    assert r["rouge2_precision_bp"] == (10000 * 14) // 16
    assert r["rouge2_f1_bp"] == (20000 * 14) // 33


def test_q428_identical_docs_score_10000(spark, tmp_path):
    rows = [
        (1, "x y z w v", "en", "s", 0),
        (2, "x y z w v", "en", "s", 0),
    ]
    r = run(spark, "q428_rouge2_pair_overlap", docs_dir(tmp_path, rows)).collect()[0]
    assert r["rouge2_f1_bp"] == 10000
    assert r["rouge2_recall_bp"] == 10000 and r["rouge2_precision_bp"] == 10000


def test_q428_below_threshold_pairs_dropped(spark, tmp_path):
    # Disjoint vocabularies -> no shared bigram -> no pair at all
    # (overlap group never forms); near-threshold pair stays out.
    rows = [
        (1, "a b c d e f", "en", "s", 0),
        (2, "p q r s t u", "en", "s", 0),
    ]
    assert (
        run(spark, "q428_rouge2_pair_overlap", docs_dir(tmp_path, rows)).count()
        == 0
    )


# --- q431: shingle containment -----------------------------------------------


def test_q431_containment_catches_what_jaccard_misses(spark, tmp_path):
    # doc 2 is doc 1 plus a long unrelated tail: every shingle of the
    # short doc appears in the long one (containment = 1.0) while
    # Jaccard is diluted far below the 0.5 dedup threshold.
    short = [f"tok{j}" for j in range(8)]
    tail = [f"zz{j}" for j in range(40)]
    rows = [
        (1, " ".join(short), "en", "s", 0),
        (2, " ".join(short + tail), "en", "s", 0),
    ]
    out = run(spark, "q431_shingle_containment", docs_dir(tmp_path, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["contained_id"] == 1
    assert r["containment_bp"] == 10000
    assert r["jaccard_bp"] < 5000
    assert r["sz_a"] == 6 and r["sz_b"] == 46  # 3-shingle set sizes


def test_q431_tie_sizes_contained_is_id_a(spark, tmp_path):
    base = [f"w{j}" for j in range(12)]
    rows = [
        (5, " ".join(base), "en", "s", 0),
        (9, " ".join(base), "en", "s", 0),
    ]
    r = run(spark, "q431_shingle_containment", docs_dir(tmp_path, rows)).collect()[0]
    assert (r["id_a"], r["id_b"], r["contained_id"]) == (5, 9, 5)


def test_q151c_replicated_vectors_collapse_to_base_output(spark, tmp_path):
    # The SCALE.md pathology in miniature: 3 byte-identical copies of
    # each base vector (new ids). The funnel form's output on the
    # replicated corpus must equal its output on the base corpus —
    # duplicate concentration never reaches the clustering stage.
    import math

    base = []
    for i in range(12):
        v = [math.cos(0.7 * i + 0.1 * j) for j in range(8)]
        base.append((i, v))
    rep = [(i + 100 * (c + 1), v) for c in range(2) for i, v in base]
    out_base = run(
        spark, "q151c_semdedup_funnel", emb_dir(tmp_path, base)
    ).collect()
    d2 = tmp_path / "r2"
    d2.mkdir()
    out_rep = run(
        spark,
        "q151c_semdedup_funnel",
        emb_dir(d2, base + rep),
    ).collect()
    assert sorted(map(tuple, out_rep)) == sorted(map(tuple, out_base))


def test_q151c_equals_q151_on_unique_corpus(spark, tmp_path):
    # On an already-unique corpus the funnel stage is a no-op: both
    # entries must emit identical rows.
    import math

    rows = [
        (i, [math.sin(0.3 * i + 0.2 * j) for j in range(8)])
        for i in range(15)
    ]
    d = emb_dir(tmp_path, rows)
    a = sorted(map(tuple, run(spark, "q151_semdedup", d).collect()))
    b = sorted(map(tuple, run(spark, "q151c_semdedup_funnel", d).collect()))
    assert a == b


def test_q27b_funnel_drops_clique_inflation(spark, tmp_path):
    # 3x-replicated corpus: raw q27 sees the full clique of exact
    # copies; the funnel form sees only the natural near-dup pair.
    base = [f"w{j}" for j in range(12)]
    texts = [" ".join(base), " ".join(base[:-1] + ["varA"])]
    rows = [
        (copy * 10 + i, t, "en", "s", 0)
        for copy in range(3)
        for i, t in enumerate(texts)
    ]
    d = docs_dir(tmp_path, rows)
    assert run(spark, "q27_jaccard_pairs", d).count() == 15  # C(6,2)
    fun = run(spark, "q27b_jaccard_pairs_funnel", d).collect()
    assert [(r.id_a, r.id_b) for r in fun] == [(0, 1)]


def test_q27b_equals_q27_on_unique_corpus(spark, tmp_path):
    base = [f"t{j}" for j in range(12)]
    rows = [
        (1, " ".join(base), "en", "s", 0),
        (2, " ".join(base[:-1] + ["varB"]), "en", "s", 0),
        (3, " ".join(f"z{j}" for j in range(12)), "en", "s", 0),
    ]
    d = docs_dir(tmp_path, rows)
    a = sorted(map(tuple, run(spark, "q27_jaccard_pairs", d).collect()))
    b = sorted(map(tuple, run(spark, "q27b_jaccard_pairs_funnel", d).collect()))
    assert a == b


def test_q428_single_token_doc_does_not_crash(spark, tmp_path):
    # ADVICE r9 (medium): sequence(1, size-1) with size=1 DESCENDS to
    # [1, 0] and toks[1] raises under Spark 4 ANSI mode. A 1-token doc
    # has zero bigrams: it must contribute nothing, not crash.
    rows = [
        (1, "solo", "en", "s", 0),
        (2, "alpha beta gamma delta alpha beta gamma delta", "en", "s", 0),
        (3, "alpha beta gamma delta alpha beta gamma echo", "en", "s", 0),
    ]
    out = run(spark, "q428_rouge2_pair_overlap", docs_dir(tmp_path, rows)).collect()
    ids = {(r["id_a"], r["id_b"]) for r in out}
    assert all(1 not in pair for pair in ids)


def test_jaccard_pairs_rejects_null_threshold_without_raw_counts(spark):
    # ADVICE r9 (low): threshold=None + raw_counts=False would filter
    # on NULL and silently return an empty frame.
    import pytest as _pytest

    from ooh_etl_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="raw_counts"):
        jaccard_pairs(df, "text", "doc_id", threshold=None)


def test_q442_duplicates_downweight(spark, tmp_path):
    # source 'dup' holds two identical docs; 'uniq' two disjoint docs.
    # Every dup gram has corpus frequency 2 -> w = 500 milli ->
    # downweight 5000bp; every uniq gram is unique -> w = 1000, 0bp.
    rows = [
        (1, "aa bb cc dd ee", "en", "dup", 0),
        (2, "aa bb cc dd ee", "en", "dup", 0),
        (3, "ff gg hh ii jj", "en", "uniq", 0),
        (4, "kk ll mm nn oo", "en", "uniq", 0),
    ]
    out = {
        r["source"]: r
        for r in run(spark, "q442_softdedup_weights", docs_dir(tmp_path, rows)).collect()
    }
    assert out["dup"]["downweight_bp"] == 5000
    assert out["uniq"]["downweight_bp"] == 0


def test_q450_yield_is_monotone_down_the_ladder(spark, tmp_path):
    # 'A  b' and 'a b' collide only after ws-collapse; 'a-b' and 'ab'
    # only after alnum-stripping... construct one new dup per rung.
    rows = [
        (1, "alpha beta", "en", "s", 0),
        (2, "alpha beta", "en", "s", 0),         # raw dup
        (3, "Alpha Beta", "en", "s", 0),         # joins at lower_trim
        (4, "alpha  beta", "en", "s", 0),        # joins at ws_collapse
        (5, "alpha, beta", "en", "s", 0),        # joins at alnum_only
        (6, "unique text here", "en", "s", 0),
    ]
    out = {
        r["rung"]: r["n_removed"]
        for r in run(spark, "q450_norm_dedup_ladder", docs_dir(tmp_path, rows)).collect()
    }
    assert out[0] == 1 and out[1] == 2 and out[2] == 3 and out[3] == 4


def test_q451_grid_is_exact_scurve():
    # The inlined literal grid IS 1 - (1 - s^r)^b: spot-check against
    # float math away from rounding boundaries, and pin the exact
    # endpoints (s=1 collides always; the grid is monotone in s for
    # every config — the S in S-curve).
    from ooh_etl_spark.queries.dedup import _SCURVE_CONFIGS, _scurve_rows

    rows = _scurve_rows()
    by_cfg = {}
    for b, r, i, p in rows:
        by_cfg.setdefault((b, r), []).append((i, p))
    assert set(by_cfg) == set(_SCURVE_CONFIGS)
    for (b, r), pts in by_cfg.items():
        pts.sort()
        assert pts[-1] == (20, 10000)  # s = 1.0 -> certain collision
        assert [p for _, p in pts] == sorted(p for _, p in pts)  # monotone
        for i, p in pts:
            s = i / 20
            expect = 1 - (1 - s**r) ** b
            assert abs(p - 10000 * expect) <= 1.0


def test_q451_identical_docs_expect_full_recall(spark, tmp_path):
    # Two identical docs land in Jaccard bucket 20 where every (b, r)
    # config has p = 10000 bp: expected recall of the observed pair
    # population is exactly 100% for all four configs.
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "srcA", 0),
        (1, "alpha beta gamma delta epsilon zeta", "en", "srcA", 0),
        (2, "totally different words here now yes", "en", "srcB", 0),
    ]
    out = run(spark, "q451_lsh_scurve_recall", docs_dir(tmp_path, rows)).collect()
    assert len(out) == 4
    for r in out:
        assert r.n_pairs == 1
        assert r.exp_recall_bp == 10000


def test_q454_scope_split(spark, tmp_path):
    # srcA doc1 duplicates srcA doc0 (within); srcB doc2 duplicates
    # srcA doc0 (cross-source only: B's own pass keeps it, the global
    # pass removes it); doc3 is unique.
    rows = [
        (0, "dup text body", "en", "srcA", 0),
        (1, "dup text body", "en", "srcA", 0),
        (2, "dup text body", "en", "srcB", 0),
        (3, "unique text body", "en", "srcB", 0),
    ]
    out = {
        r.source: r
        for r in run(
            spark, "q454_dedup_scope_census", docs_dir(tmp_path, rows)
        ).collect()
    }
    a, b = out["srcA"], out["srcB"]
    assert (a.removed_within, a.removed_global, a.removed_cross_only) == (1, 1, 0)
    assert (b.removed_within, b.removed_global, b.removed_cross_only) == (0, 1, 1)


def test_q456_inertia_monotone_and_accounting(spark):
    # The K grid is NESTED (first-2 subset of first-4 ...), so each
    # vector's min distance can only fall as K grows: inertia is
    # monotone non-increasing in K. Accounting: every vector assigned
    # at every K; clusters_used <= k.
    out = sorted(run(spark, "q456_semdedup_k_curve").collect(), key=lambda r: r.k)
    n = out[0].n_vecs
    last = None
    for r in out:
        assert r.n_vecs == n
        assert r.clusters_used <= r.k
        assert r.max_cluster <= r.n_vecs
        if last is not None:
            assert r.inertia_e6 <= last
        last = r.inertia_e6


def test_q456_zero_inertia_when_vectors_are_centroids(spark, tmp_path):
    # 2 distinct unit vectors, each duplicated: with K >= 2 every
    # vector IS one of the first-2 centroids -> inertia exactly 0, and
    # the two clusters split 2/2 (candidate_pairs = 1 + 1 = 2).
    e0 = np.zeros(8); e0[0] = 1.0
    e1 = np.zeros(8); e1[1] = 1.0
    d = emb_dir(tmp_path, list(enumerate([e0, e1, e0, e1])))
    for r in run(spark, "q456_semdedup_k_curve", d).collect():
        assert r.inertia_e6 == 0
        if r.k >= 2:
            assert r.clusters_used == 2
            assert r.candidate_pairs == 2


def test_q457_uncapped_covers_everything(spark):
    # A true pair has jaccard >= 0.5 > 0, so it shares >= 1 shingle;
    # with the sentinel cap every shared shingle survives ->
    # coverage_bp == 10000. Candidate volume and kept shingles are
    # monotone non-increasing as the cap tightens.
    out = sorted(
        run(spark, "q457_stop_shingle_ablation").collect(),
        key=lambda r: -r.cap_df,
    )
    assert out[0].cap_df == 1000000000
    assert out[0].coverage_bp == 10000
    for prev, cur in zip(out, out[1:]):
        assert cur.n_shingles_kept <= prev.n_shingles_kept
        assert cur.candidate_pairs <= prev.candidate_pairs
        assert cur.covered_true_pairs <= prev.covered_true_pairs


def test_q457_hot_shingle_dropped_pair_survives(spark, tmp_path):
    # Docs 0/1 are identical (a true pair; their shingles have df=2).
    # 20 filler docs all share one hot template shingle (df=20) and
    # nothing else. At cap 16 the hot shingle is dropped: candidate
    # volume collapses from C(20,2)+rare to rare-only, while the true
    # pair stays covered through its rare df=2 shingles.
    pair = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(0, pair, "en", "s", 0), (1, pair, "en", "s", 0)]
    for i in range(20):
        rows.append((2 + i, f"hot template shingle u{i} v{i} w{i}", "en", "s", 0))
    out = {
        r.cap_df: r
        for r in run(
            spark, "q457_stop_shingle_ablation", docs_dir(tmp_path, rows)
        ).collect()
    }
    unc, capped = out[1000000000], out[16]
    assert unc.true_pairs == 1 and unc.covered_true_pairs == 1
    assert capped.covered_true_pairs == 1  # rare shingles carry the pair
    assert capped.candidate_pairs < unc.candidate_pairs  # hot list gone


def test_q458_accounting(spark):
    from ooh_etl_spark.tables import load_table

    out = run(spark, "q458_ivf_centroid_drift").collect()
    n_corpus = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vecs for r in out) == n_corpus  # every vector assigned once
    for r in out:
        assert r.cell_old % 2 == 0 and r.cell_old < 16  # old-panel ids
        assert 0 <= r.n_moved <= r.n_vecs
        assert r.moved_bp == 10000 * r.n_moved // r.n_vecs


def test_q458_zero_churn_when_panels_agree(spark, tmp_path):
    # Construct a corpus where both panels resolve to the SAME
    # (cid -> vector) map: basis vectors live at the shared even ids
    # 0/2/4/6; every other id (including the panels' non-shared
    # members 1,3,5,7 and 8,10,12,14) is an exact copy of one basis,
    # so each vector's argmin ties at d2=0 and breaks to the shared
    # smallest cid under BOTH panels -> zero movement everywhere.
    basis = []
    for i in range(4):
        e = np.zeros(16); e[i] = 1.0
        basis.append(e)
    vecs = []
    for vid in range(24):
        vecs.append(basis[(vid // 2) % 4] if vid % 2 == 0 or vid < 8 else basis[vid % 4])
    # make ids 0/2/4/6 the four distinct bases explicitly
    for j in range(4):
        vecs[2 * j] = basis[j]
    d = emb_dir(tmp_path, list(enumerate(vecs)))
    for r in run(spark, "q458_ivf_centroid_drift", d).collect():
        assert r.n_moved == 0 and r.moved_bp == 0


# --- q463: splice boundary invariants --------------------------------------


def test_q463_pair_arithmetic(spark):
    rows = run(spark, "q463_splice_boundary_overlap").collect()
    for r in rows:
        assert r.splice_pairs > 0
        assert r.splice_pairs <= r.n_prefix_docs * r.n_suffix_docs


# --- q464/q466: bag-of-words fingerprint family ----------------------------


def test_q464_symmetric_and_ordered(spark):
    rows = run(spark, "q464_cross_source_dup_matrix").collect()
    assert len(rows) > 0  # non-degenerate on the fixture
    seen = set()
    for r in rows:
        assert r.source_a < r.source_b
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))
        assert r.shared_digests >= 1


def test_q466_policy_identity(spark):
    r = run(spark, "q466_dedup_survivor_policy").collect()[0]
    assert r.n_dup_groups > 0  # non-degenerate on the fixture
    assert r.n_divergent <= r.n_dup_groups
    # Longest-copy survivor keeps at least as many chars as min-id.
    assert r.extra_chars_kept >= 0
    assert r.extra_chars_kept == r.maxlen_kept_chars - r.minid_kept_chars
    assert r.divergent_bp == (10000 * r.n_divergent) // r.n_dup_groups


# --- q472: in-batch collision invariants -----------------------------------


def test_q472_collisions_monotone_in_batch_size(spark):
    rows = sorted(
        run(spark, "q472_inbatch_collision_curve").collect(),
        key=lambda r: r.batch_size,
    )
    total_docs_lb = rows[0].n_batches  # B=8 batches x >=1 doc
    assert total_docs_lb > 0
    for a, b in zip(rows, rows[1:]):
        assert a.n_batches >= b.n_batches  # bigger batches, fewer of them
        # coarser batching can only merge batches -> pair count grows
        assert a.dup_pairs_in_batch <= b.dup_pairs_in_batch
    for r in rows:
        assert r.colliding_batches <= r.n_batches
        assert r.colliding_bp == (10000 * r.colliding_batches) // r.n_batches


# --- q477: D4 prototypicality prune invariants -------------------------------


def test_q477_prune_overshoots_target_and_is_monotone(spark):
    rows = run(spark, "q477_prototypicality_prune").collect()
    ps = sorted({r.p_pct for r in rows})
    assert ps == [10, 25, 50]
    # per-cluster rule: 100*cum >= p*n at the threshold bucket ->
    # summed over clusters the GLOBAL drop always reaches the target
    for p in ps:
        tot_n = sum(r.n_vecs for r in rows if r.p_pct == p)
        tot_d = sum(r.n_dropped for r in rows if r.p_pct == p)
        assert 100 * tot_d >= p * tot_n, (p, tot_d, tot_n)
    # per-label monotonicity in p (thresholds only grow with p)
    labels = {r.label for r in rows}
    for lab in labels:
        seq = [r.n_dropped for p in ps for r in rows
               if r.p_pct == p and r.label == lab]
        assert seq == sorted(seq), (lab, seq)
    for r in rows:
        assert 0 <= r.n_dropped <= r.n_vecs
        assert r.drop_bp == (10000 * r.n_dropped) // r.n_vecs
