"""SRP sign-margin gauge (round-15 ADVICE): the Arrow BLAS signature
path is bit-identical to the SQL oracle replay ONLY while every
|dot(vector, plane)| stays orders of magnitude above f64
summation-order drift — a vector whose projection lands inside the
drift band could flip a sign bit between summation orders and split
engine vs oracle silently.  This gauge measures the minimum |dot|
across vectors × planes of the PINNED 8×6 construction (seed 43) for
each test fixture and asserts margin / drift-bound >= MARGIN_FACTOR.

(The r16 exact-VERIFY change needs no such gauge: ``pyudf.seq_rowdot``
reproduces the JVM fold's exact IEEE operation sequence, so engine
sims are bit-identical by construction, not by margin — pinned by
tests/test_pyudf_verify.py.  Signs of SRP projections are the one
place a BLAS matmul's different summation order is load-bearing.)

Cell-assignment receipt: ``clustering.assign_topn`` picks cells from
the BLAS expansion ``||v||² − 2v·c + ||c||²`` (``pyudf.cell_sqdist``),
while the DuckDB oracles rank a left-to-right fold of ``(x − c)²``.
The two agree on the top-``nprobe`` cells as long as every gap between
the ``nprobe``-th and ``(nprobe+1)``-th fold distance is far above their
discrepancy.  For the pinned codebooks (the seeded ``id < 8`` cells
rounded to 6 dp, and ``ivf_train``'s 8 cells × 2 Lloyd rounds) the
gauge reports, per nprobe, the smallest such gap and the discrepancy,
both scaled by ``||v||² + ||c||²`` so near-zero self-distances do not
dominate, and asserts gap / discrepancy >= MARGIN_FACTOR.

Usage: python tools/margin_gauge.py [out.json]
Exit 1 if any fixture's margin is below the bound.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_graphdb_spark.functions.pyudf import cell_sqdist  # noqa: E402
from projet_graphdb_spark.functions.similarity import srp_bands  # noqa: E402

FIXTURES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
SF1 = "/tmp/sfscaled"  # included when present (the 10x sweep data)

# |true_dot| must exceed the worst-case f64 summation reorder drift by
# this factor for the sign to be order-independent.  Drift bound:
# d * eps * max|partial sum| <= d * eps * sum|terms| (loose, safe).
MARGIN_FACTOR = 1e3


N_CELLS = 8


def load_embeddings(sf_dir: str) -> np.ndarray:
    """Embeddings as f64 rows in ``vec_id`` order (ids are dense)."""
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    order = np.argsort(tbl["vec_id"].to_numpy())
    return np.asarray(
        [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    )[order]


def fold_sqdist(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """The oracles' distance: a left-to-right fold of (x − c)² in f64."""
    return np.stack([np.cumsum((V - c) ** 2, axis=1)[:, -1] for c in C], axis=1)


def lloyd(V: np.ndarray, k: int, rounds: int, round_dp: int = 6) -> np.ndarray:
    """``clustering.kmeans_centroids`` replayed in numpy: seeds are the
    rows with id < k, every average is rounded, an empty cluster keeps
    its centroid."""
    C = np.round(V[:k], round_dp)
    for _ in range(rounds):
        near = np.argsort(fold_sqdist(V, C), axis=1, kind="stable")[:, 0]
        C = np.stack([
            np.round(V[near == j].mean(axis=0), round_dp) if (near == j).any() else C[j]
            for j in range(k)
        ])
    return C


def cell_gauge(V: np.ndarray, C: np.ndarray) -> dict:
    """Adjacent-rank fold gaps vs the kernel/fold discrepancy, both
    scaled by ``||v||² + ||c||²``."""
    fold = fold_sqdist(V, C)
    csq = (C * C).sum(axis=1)
    scale = (V * V).sum(axis=1)[:, None] + csq[None, :]
    err = float((np.abs(cell_sqdist(V, C, csq) - fold) / scale).max())
    rank = np.argsort(fold, axis=1, kind="stable")
    d = np.take_along_axis(fold, rank, axis=1)
    s = np.take_along_axis(scale, rank, axis=1)
    gaps = (d[:, 1:] - d[:, :-1]) / (s[:, 1:] + s[:, :-1])  # (n, k-1)
    per_nprobe = {p + 1: float(g) for p, g in enumerate(gaps.min(axis=0))}
    min_gap = min(per_nprobe.values())
    ratio = min_gap / max(err, np.finfo(np.float64).tiny)
    return {
        "min_gap_per_nprobe": per_nprobe,
        "min_scaled_gap": min_gap,
        "max_scaled_discrepancy": err,
        "min_gap_over_discrepancy": ratio,
        "ok": bool(ratio >= MARGIN_FACTOR),
    }


def cell_gauges(V: np.ndarray) -> dict:
    """The receipt for both pinned codebooks of one fixture."""
    return {
        "seeded_8": cell_gauge(V, np.round(V[:N_CELLS], 6)),
        "ivf_train_8x2": cell_gauge(V, lloyd(V, N_CELLS, 2)),
    }


def gauge(sf_dir: str) -> dict:
    V = load_embeddings(sf_dir)
    dim = V.shape[1]
    planes = np.asarray(
        [p for band in srp_bands(8, 6, dim, 43) for p in band]
    )  # (48, dim)
    D = V @ planes.T  # (n, 48)
    # worst-case reorder drift per dot: d * eps * sum|v_i * p_i|
    absD = np.abs(V) @ np.abs(planes.T)
    drift = dim * np.finfo(np.float64).eps * absD
    margin = np.abs(D)
    ratio = margin / np.maximum(drift, np.finfo(np.float64).tiny)
    cells = cell_gauges(V)
    return {
        "n_vectors": int(V.shape[0]),
        "dim": int(dim),
        "min_abs_dot": float(margin.min()),
        "max_drift_bound": float(drift.max()),
        "min_margin_over_drift": float(ratio.min()),
        "cells": cells,
        "ok": bool(ratio.min() >= MARGIN_FACTOR) and all(c["ok"] for c in cells.values()),
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    results = {}
    ok = True
    dirs = list(FIXTURES)
    if os.path.isdir(SF1):
        dirs.append(SF1)
    for d in dirs:
        r = gauge(d)
        results[d] = r
        ok = ok and r["ok"]
        print(
            f"{d}: n={r['n_vectors']} dim={r['dim']} "
            f"min|dot|={r['min_abs_dot']:.3e} "
            f"drift<= {r['max_drift_bound']:.3e} "
            f"margin/drift>={r['min_margin_over_drift']:.1e}"
        )
        for name, c in r["cells"].items():
            print(
                f"  cells {name}: min gap={c['min_scaled_gap']:.3e} "
                f"discrepancy={c['max_scaled_discrepancy']:.3e} "
                f"gap/discrepancy>={c['min_gap_over_discrepancy']:.1e}"
            )
        print(f"  {'OK' if r['ok'] else 'TOO CLOSE'}")
    results["margin_factor_required"] = MARGIN_FACTOR
    results["ok"] = ok
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
