"""The cell-assignment margin receipt (``tools/margin_gauge.py``) on the
sf0.01 fixture — numpy only, no Spark session: the BLAS kernel and the
oracles' distance fold must order the pinned codebooks' cells with a
wide margin over their discrepancy."""

import importlib.util
import os

from conftest import SF_SMALL

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
