"""Sign- and rank-margin gauge for the engine's Arrow BLAS kernels.

Each kernel computes a dot or distance in a different summation order
than the SQL oracles' left-to-right fold.  It agrees with the oracle
only while every decision it makes (a sign bit, a cell rank) is far
from the f64 drift between the two orders.  For each test fixture the
gauge reports the smallest such margin and asserts margin / drift >=
MARGIN_FACTOR.

SRP receipt: ``similarity.srp_signature_array`` signs every
construction through one numpy matmul (``pyudf.make_srp_sigs_udf``).
A vector whose projection lands inside the drift band could flip a
sign bit between summation orders and split engine vs oracle
silently.  For the pinned 8×6 construction (seed 43, s9/d10/t42),
s3/s7's single band of 8 seed-42 planes, and the 4×4 auto build
``srp_auto_bands(500, 64, threshold=0.9)``, the gauge measures the
minimum |dot| over vectors × planes against a worst-case reorder drift
bound.

(The exact-VERIFY tail needs no gauge: ``pyudf.seq_rowdot``
reproduces the JVM fold's exact IEEE operation sequence, so engine
sims are bit-identical by construction — pinned by
tests/test_pyudf_verify.py.)

Cell-assignment receipt: ``clustering.assign_topn`` picks cells from
the BLAS expansion ``||v||² − 2v·c + ||c||²`` (``pyudf.cell_sqdist``),
while the DuckDB oracles rank a left-to-right fold of ``(x − c)²``.
The two agree on the top-``nprobe`` cells as long as every gap between
the ``nprobe``-th and ``(nprobe+1)``-th fold distance is far above their
discrepancy.  For the pinned codebooks (the seeded ``id < 8`` cells
rounded to 6 dp, and ``ivf_train``'s 8 cells × 2 Lloyd rounds) the
gauge reports, per nprobe, the smallest such gap and the discrepancy,
both scaled by ``||v||² + ||c||²`` so near-zero self-distances do not
dominate, and asserts gap / discrepancy >= MARGIN_FACTOR.  The
``ivf_train`` receipt holds only for the codebook the engine trains:
``codebook_equal`` checks that the engine's driver-side Lloyd
(``clustering.lloyd``) returns this gauge's fold-distance replay bit
for bit.

Cosine-cell receipt: ``similarity.knn_ivf`` (s4) ranks cells by the
same kernel over the unit-normalized ``id < 8`` codebook, while its
oracle ranks ``list_cosine_similarity``.  The gauge maps the kernel's
distances back to cosine units, ``(||v||² + ||ĉ||² − D) / (2||v||)``,
and compares their largest discrepancy from a left-to-right cosine
fold with the smallest gap between the oracle's ``nprobe``-th and
``(nprobe+1)``-th cosine, for nprobe 1 and 2.

Usage: python tools/margin_gauge.py [out.json]
Exit 1 if any fixture's margin is below the bound or its codebooks differ.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_graphdb_spark.functions import clustering  # noqa: E402
from projet_graphdb_spark.functions.pyudf import cell_sqdist  # noqa: E402
from projet_graphdb_spark.functions.similarity import srp_auto_bands, srp_bands  # noqa: E402

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


def codebook_equal(V: np.ndarray, k: int = N_CELLS, rounds: int = 2) -> bool:
    """Whether ``clustering.lloyd`` over ``V`` (ids 0..n-1 in row
    order) equals :func:`lloyd` bit for bit."""
    got = clustering.lloyd(np.arange(len(V)), V, k, rounds)
    return bool(np.array_equal(np.asarray([got[c] for c in sorted(got)]), lloyd(V, k, rounds)))


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


def srp_constructions(dim: int) -> dict:
    """Every SRP construction a fixture query signs: the pinned 8×6
    bands, s3/s7's one band (``__spark_entry__._srp_planes``: 8 planes
    from ``default_rng(42)``), and the 16-plane auto build."""
    return {
        "pinned_8x6_seed43": srp_bands(8, 6, dim, 43),
        "s3_s7_seed42_8": [list(np.random.default_rng(42).standard_normal((8, dim)))],
        "auto_500_4x4": srp_auto_bands(500, dim, threshold=0.9),
    }


def srp_gauge(V: np.ndarray, bands: list) -> dict:
    """Min |dot| over vectors × planes vs the worst-case reorder drift
    ``d * eps * sum|v_i * p_i|`` of each dot."""
    planes = np.asarray([p for band in bands for p in band], dtype=np.float64)
    margin = np.abs(V @ planes.T)
    drift = V.shape[1] * np.finfo(np.float64).eps * (np.abs(V) @ np.abs(planes.T))
    ratio = margin / np.maximum(drift, np.finfo(np.float64).tiny)
    return {
        "n_planes": int(len(planes)),
        "min_abs_dot": float(margin.min()),
        "max_drift_bound": float(drift.max()),
        "min_margin_over_drift": float(ratio.min()),
        "ok": bool(ratio.min() >= MARGIN_FACTOR),
    }


def srp_gauges(V: np.ndarray) -> dict:
    return {name: srp_gauge(V, b) for name, b in srp_constructions(V.shape[1]).items()}


def fold_dot(V: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Left-to-right f64 fold of each row's dot with ``c``."""
    return np.cumsum(V * c, axis=-1)[..., -1]


def ivf_cosine_gauge(V: np.ndarray, k: int = N_CELLS) -> dict:
    """s4's receipt: oracle cosine rank gaps at nprobe 1 and 2 vs the
    kernel's discrepancy, both in cosine units."""
    C = V[:k]
    vn = np.sqrt(fold_dot(V, V))
    cos = np.stack([fold_dot(V, c) / (vn * np.sqrt(fold_dot(c, c))) for c in C], axis=1)
    U = np.stack([c / np.sqrt(c @ c) for c in C])  # as knn_ivf normalizes
    usq = (U * U).sum(axis=1)
    D = cell_sqdist(V, U, usq)
    kernel_cos = ((V * V).sum(axis=1)[:, None] + usq[None, :] - D) / (2.0 * vn[:, None])
    err = float(np.abs(kernel_cos - cos).max())
    ranked = -np.sort(-cos, axis=1)
    per_nprobe = {p: float((ranked[:, p - 1] - ranked[:, p]).min()) for p in (1, 2)}
    min_gap = min(per_nprobe.values())
    ratio = min_gap / max(err, np.finfo(np.float64).tiny)
    return {
        "min_gap_per_nprobe": per_nprobe,
        "min_cosine_gap": min_gap,
        "max_cosine_discrepancy": err,
        "min_gap_over_discrepancy": ratio,
        "ok": bool(ratio >= MARGIN_FACTOR),
    }


def gauge(sf_dir: str) -> dict:
    V = load_embeddings(sf_dir)
    srp = srp_gauges(V)
    cells = cell_gauges(V)
    ivf_cos = ivf_cosine_gauge(V)
    same = codebook_equal(V)
    return {
        "n_vectors": int(V.shape[0]),
        "dim": int(V.shape[1]),
        "srp": srp,
        "cells": cells,
        "ivf_cosine": ivf_cos,
        "codebook_equal": same,
        "ok": same and all(r["ok"] for r in [*srp.values(), *cells.values(), ivf_cos]),
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
        print(f"{d}: n={r['n_vectors']} dim={r['dim']}")
        for name, g in r["srp"].items():
            print(
                f"  srp {name}: min|dot|={g['min_abs_dot']:.3e} "
                f"drift<= {g['max_drift_bound']:.3e} "
                f"margin/drift>={g['min_margin_over_drift']:.1e}"
            )
        for name, c in r["cells"].items():
            print(
                f"  cells {name}: min gap={c['min_scaled_gap']:.3e} "
                f"discrepancy={c['max_scaled_discrepancy']:.3e} "
                f"gap/discrepancy>={c['min_gap_over_discrepancy']:.1e}"
            )
        g = r["ivf_cosine"]
        print(
            f"  s4 cosine cells: min gap={g['min_cosine_gap']:.3e} "
            f"discrepancy={g['max_cosine_discrepancy']:.3e} "
            f"gap/discrepancy>={g['min_gap_over_discrepancy']:.1e}"
        )
        print(f"  ivf_train_8x2 codebook equals clustering.lloyd: {r['codebook_equal']}")
        print(f"  {'OK' if r['ok'] else 'FAIL'}")
    results["margin_factor_required"] = MARGIN_FACTOR
    results["ok"] = ok
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
