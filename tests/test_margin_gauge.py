"""The kernel margin receipts (``tools/margin_gauge.py``) on the sf0.01
fixture — numpy only, no Spark session: the BLAS kernels and the
oracles' folds must agree on every SRP sign bit and every cell rank
with a wide margin over their discrepancy; on sf0.001, the engine's
driver-side Lloyd must train the codebook the gauge replays."""

import importlib.util
import os

import numpy as np
import pytest

from conftest import SF_SMALL, SF_TINY

_spec = importlib.util.spec_from_file_location(
    "margin_gauge",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "margin_gauge.py"),
)
margin_gauge = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(margin_gauge)


def test_cell_margin_gauge_sf001():
    V = margin_gauge.load_embeddings(SF_SMALL)
    for name, r in margin_gauge.cell_gauges(V).items():
        assert r["ok"], (name, r)
        assert set(r["min_gap_per_nprobe"]) == set(range(1, margin_gauge.N_CELLS))


def test_srp_margin_gauge_sf001():
    V = margin_gauge.load_embeddings(SF_SMALL)
    gauges = margin_gauge.srp_gauges(V)
    assert {n: g["n_planes"] for n, g in gauges.items()} == {
        "pinned_8x6_seed43": 48, "s3_s7_seed42_8": 8, "auto_500_4x4": 16,
    }
    for name, r in gauges.items():
        assert r["ok"], (name, r)


def test_ivf_cosine_margin_gauge_sf001():
    r = margin_gauge.ivf_cosine_gauge(margin_gauge.load_embeddings(SF_SMALL))
    assert r["ok"], r
    assert set(r["min_gap_per_nprobe"]) == {1, 2}


def test_margin_gauges_flag_a_decision_inside_the_drift_band():
    """The receipts fail when a projection sits on a plane or two
    centroids share a direction."""
    V = np.random.default_rng(0).standard_normal((50, 64))
    plane = margin_gauge.srp_constructions(64)["s3_s7_seed42_8"][0][0]
    V[7] -= (V[7] @ plane) / (plane @ plane) * plane
    assert not margin_gauge.srp_gauges(V)["s3_s7_seed42_8"]["ok"]
    V[1] = 2 * V[0]
    assert not margin_gauge.ivf_cosine_gauge(V)["ok"]


def test_codebook_replay_equals_engine_lloyd_sf0001(monkeypatch):
    """The cell receipt's ``ivf_train_8x2`` codebook is the one the
    engine trains: ``clustering.lloyd`` equals the gauge's replay, and
    a mismatch fails the gauge with exit 1."""
    V = margin_gauge.load_embeddings(SF_TINY)
    assert margin_gauge.codebook_equal(V)
    assert margin_gauge.gauge(SF_TINY)["codebook_equal"]
    monkeypatch.setattr(margin_gauge, "codebook_equal", lambda V: False)
    monkeypatch.setattr(margin_gauge, "FIXTURES", [SF_TINY])
    monkeypatch.setattr(margin_gauge, "SF1", os.path.join(SF_TINY, "absent"))
    monkeypatch.setattr(margin_gauge.sys, "argv", ["margin_gauge.py"])
    with pytest.raises(SystemExit) as exit_:
        margin_gauge.main()
    assert exit_.value.code == 1
