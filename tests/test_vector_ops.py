"""Functional tests for ``queries/vector_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q309_mmd_near_zero_on_random_labels(spark):
    r = QUERIES["q309_mmd_linear"].fn(spark, SF_DIR).collect()[0]
    assert r["n_quads"] > 10
    # labels are random -> same distribution -> MMD^2 ~ 0; the h kernel
    # terms are bounded by 2 in magnitude, so the mean must sit well
    # inside +-0.5 under the null
    assert abs(r["mmd2_e9"]) < 500_000_000


def test_q322_radius_curve_is_nonincreasing(spark):
    rows = sorted(
        QUERIES["q322_kcenter_coreset"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["rank"],
    )
    assert len(rows) == 6
    dists = [r["dist_nano"] for r in rows]
    # greedy k-center: each pick's covering distance never increases
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert len({r["vec_id"] for r in rows}) == 6  # no repeats, seed excluded
    assert all(r["vec_id"] != 0 for r in rows)


def test_q324_matryoshka_more_dims_higher_fidelity(spark):
    rows = {r.dim: r for r in run(spark, "q324_matryoshka_fidelity").collect()}
    assert set(rows) == {16, 32}
    for r in rows.values():
        assert r.mean_spearman_e6 <= 1_000_000
        assert r.n_queries == 20
    # a longer prefix can only add information on this fixture
    assert rows[32].mean_spearman_e6 >= rows[16].mean_spearman_e6


def test_q440_identical_vs_orthogonal_groups(spark, tmp_path):
    # label 0: 4 identical vectors -> mean pairwise cos = 1e6 exactly,
    # diversity 0. label 1: 4 pairwise-orthogonal basis vectors ->
    # mean cos 0, diversity 1e6.
    same = np.zeros(64); same[0] = 1.0
    vecs, labels = [], []
    for _ in range(4):
        vecs.append(same); labels.append(0)
    for i in range(4):
        e = np.zeros(64); e[i + 1] = 1.0
        vecs.append(e); labels.append(1)
    df = pd.DataFrame(
        {
            "vec_id": np.arange(8, dtype="int64"),
            "embedding": [np.asarray(v, dtype="float32") for v in vecs],
            "label": np.asarray(labels, dtype="int32"),
        }
    )
    d = tmp_path / "emb440"
    d.mkdir(exist_ok=True)
    df.to_parquet(d / "embeddings.parquet", index=False)
    out = {
        r["label"]: r
        for r in run(spark, "q440_diversity_coefficient", str(d)).collect()
    }
    assert out[0]["mean_cos_e6"] == 1000000 and out[0]["diversity_e6"] == 0
    assert out[1]["mean_cos_e6"] == 0 and out[1]["diversity_e6"] == 1000000


# --- q461: posting balance invariants --------------------------------------


def test_q461_shares_sum_and_load_factor(spark):
    rows = run(spark, "q461_ivf_posting_balance").collect()
    assert len(rows) <= 16
    total = sum(r.n_vecs for r in rows)
    # share floors sum to <= 10000 and miss < |cells| bp
    s = sum(r.share_bp for r in rows)
    assert 10000 - len(rows) <= s <= 10000
    for r in rows:
        assert r.load_factor_bp == (10000 * r.n_vecs * len(rows)) // total


# --- q469: norm gate on a constructed corpus --------------------------------


def test_q469_flags_constructed_pathologies(spark, tmp_path):
    vecs = [
        np.zeros(8, dtype="float32"),                      # zero norm
        np.full(8, 0.1, dtype="float32"),                  # ||x||^2 = 0.08 low
        np.full(8, 1.0, dtype="float32"),                  # ||x||^2 = 8 high
        np.array([np.nan] + [0.5] * 7, dtype="float32"),   # NaN
        np.full(8, 0.35, dtype="float32"),                 # ||x||^2 = 0.98 pass
    ]
    df = pd.DataFrame(
        {
            "vec_id": np.arange(5, dtype="int64"),
            "embedding": vecs,
            "label": np.zeros(5, dtype="int32"),
        }
    )
    d = tmp_path / "emb12"
    d.mkdir()
    df.to_parquet(d / "embeddings.parquet", index=False)
    r = run(spark, "q469_embedding_norm_gate", str(d)).collect()[0]
    # NaN vectors carry the -1 sentinel: they land in nan_vecs and in
    # NO norm bucket (the engine-divergent CAST(NaN AS BIGINT) never
    # executes).
    assert (r.n_vecs, r.zero_norm, r.low_norm, r.high_norm, r.nan_vecs) == (
        5, 1, 1, 1, 1,
    )
    assert r.pass_bp == (10000 * 1) // 5


# --- q474: embedding separability invariants --------------------------------


def test_q474_scatter_decomposition(spark):
    rows = run(spark, "q474_embedding_separability").collect()
    assert len(rows) >= 2
    # one global CH index, repeated per label row
    assert len({r.ch_index_milli for r in rows}) == 1
    assert rows[0].ch_index_milli >= 0
    # within shares partition the within-scatter (truncating bp)
    share = sum(r.within_share_bp for r in rows)
    assert 10000 - len(rows) <= share <= 10000, share
    for r in rows:
        # unit vectors at e6: per-vector scatter terms are bounded by
        # the squared norm 1e12
        assert 0 <= r.within_mean_e12 <= 10**12
        assert 0 <= r.centroid_sq_e12 <= 10**12
        assert r.n_vectors > 0
