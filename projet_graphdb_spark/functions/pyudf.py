"""Vectorized scalar @pandas_udf helpers.

NOTE: deliberately NO ``from __future__ import annotations`` — pandas_udf
reads the REAL type hints to infer the UDF kind; stringized annotations
(PEP 563) break that inference.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

# Module-level UDFs declare their return type as a DataType OBJECT, not
# a DDL string: string types are parsed through the active SparkContext
# at decoration time, and this module is now imported inside executor
# Python workers too (UDF bodies reference module functions like
# seq_rowdot), where no context exists.


@pandas_udf(DoubleType())
def np_l2norm(v: pd.Series) -> pd.Series:
    """Arrow-batched numpy L2 norm of an array column — the scalar
    pandas_udf shape (each batch arrives as a Series of numpy arrays)."""
    import numpy as np

    return v.map(lambda a: float(np.sqrt(np.dot(a, a))))


def evaluated_once(col):
    """``col`` (an expression over a Python UDF) as the one output row of
    an ``explode``, for a ``select`` that keeps it as a column.

    A filter over a projected UDF column (the caller's, or the
    ``isnotnull`` Catalyst infers for a join key) is pushed below the
    projection with the UDF substituted in, so the UDF runs once for
    the filter and again for the projection: two Python runners per
    task.  No filter over a generator's output is pushed below the
    generator, and Catalyst infers none from a generator whose input is
    not a plain column.  NULL stays a row."""
    from pyspark.sql import functions as F

    return F.explode(F.array(col))


def seq_rowdot(A, B):
    """Row-wise dot products with the JVM HOF fold's EXACT IEEE
    semantics: elementwise f64 products (identical to
    ``x.cast("double") * y.cast("double")``), then a strict
    left-to-right sequential summation via ``np.cumsum`` — numpy's
    ``add.accumulate`` is a plain sequential loop, so the last prefix
    is BIT-IDENTICAL to ``aggregate(zip_with(a, b, x*y), 0.0, acc+v)``
    (pinned by tests/test_pyudf.py::test_seq_rowdot_matches_fold;
    ``einsum``/``sum`` use SIMD/pairwise partial sums and are NOT).
    Arrays must be 2-D f64-convertible of equal shape."""
    import numpy as np

    P = np.asarray(A, dtype=np.float64) * np.asarray(B, dtype=np.float64)
    if P.shape[1] == 0:
        return np.zeros(P.shape[0], dtype=np.float64)
    return np.cumsum(P, axis=1)[:, -1]


@pandas_udf(DoubleType())
def pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Arrow-batched exact-verify dot product for candidate PAIRS whose
    sides come from two frames — the per-pair term of
    ``similarity._incremental_cells_pairs`` (IVF/IMI ingest, shard ×
    corpus); the batch dup operators verify inside their blocks and
    call :func:`seq_rowdot` directly (``similarity._verify_within_blocks``).
    Guide §4.2: the interpreted ``aggregate(zip_with(...))`` fold costs
    ~4.5 µs/pair and dominates the verify tail at scale; one
    BLAS-shaped batch op replaces it.
    Bit-identical to the JVM fold for finite, non-null elements of
    equal length: see :func:`seq_rowdot`.

    Edge semantics (pinned by tests/test_pyudf_verify.py): a NULL
    vector or a ragged pair (lengths differ — the JVM ``zip_with``
    null-pads and folds to NULL) yields NULL.  A NaN ELEMENT yields a
    NaN dot, which the pandas→Arrow conversion turns into NULL — unlike
    the JVM fold, whose NaN passes ``sim >= threshold``.  Either way
    the pair is dropped by the verify filter."""
    import numpy as np

    la = va.map(len, na_action="ignore")
    lb = vb.map(len, na_action="ignore")
    valid = la == lb  # NULL lengths are NaN, never equal
    out = np.full(len(va), np.nan)
    for n in la[valid].unique():
        rows = (valid & (la == n)).to_numpy()
        out[rows] = seq_rowdot(
            np.vstack(va[rows].to_numpy()), np.vstack(vb[rows].to_numpy())
        )
    return pd.Series(out)


def make_srp_sigs_udf(mat, offsets, weights):
    """Factory for the engine's one SRP signature UDF (see
    similarity.srp_signature_array): one BLAS matmul per Arrow batch,
    then per-band bit packing.  The matmul's summation order differs
    from the oracles' fold; ``tools/margin_gauge.py`` shows every
    fixture projection sits far outside the drift band.

    A NULL vector, or one whose length differs from the plane dim,
    emits a NULL signature array, so it is never indexed.

    ``mat``: (total_bits × dim) float64 plane matrix; ``offsets``:
    per-band bit offsets (len n_bands+1); ``weights``: per-band
    ``1 << arange(bits)`` int64 vectors."""
    import numpy as np

    n_bands = len(weights)
    dim = mat.shape[1]

    @pandas_udf(ArrayType(LongType()))
    def _sigs(v: pd.Series) -> pd.Series:
        ok = (v.map(len, na_action="ignore") == dim).to_numpy()
        out = [None] * len(v)
        if ok.any():
            S = (np.vstack(v[ok].to_numpy()) @ mat.T) >= 0.0  # (rows × total_bits)
            sigs = np.empty((len(S), n_bands), dtype=np.int64)
            for j in range(n_bands):
                sigs[:, j] = S[:, offsets[j]:offsets[j + 1]] @ weights[j]
            for i, s in zip(np.flatnonzero(ok), sigs):
                out[i] = s
        return pd.Series(out, dtype=object)

    return _sigs


def cell_sqdist(V, cent_mat, csq):
    """The cell kernel's squared distances, ``||v||² − 2·V·Cᵀ + ||c||²``
    as one BLAS block: (rows × k) from (rows × dim) f64 vectors, the
    (k × dim) centroid matrix and its row norms ``csq``.  Its rounding
    differs from the oracles' left-to-right fold; ``tools/margin_gauge.py``
    measures by how much against the fixtures' adjacent-distance gaps."""
    return (V * V).sum(axis=1)[:, None] - 2.0 * (V @ cent_mat.T) + csq[None, :]


def topn_stable(D, p):
    """Column indices of the ``p`` smallest entries per row of ``D``,
    equal to a stable sort by (distance, column) — with sorted cids,
    ties keep the smaller cid, like the oracles' fold.

    O(k) per row: the ``p``-th smallest distance is a cutoff, and a row
    with exactly ``p`` entries at or under it sorts only those (found in
    ascending column order, then sorted stably by distance).  A row
    where equal distances straddle the cutoff (duplicate centroids) or
    a NaN appears takes the full stable sort instead."""
    import numpy as np

    p = min(p, D.shape[1])
    if not 0 < p < D.shape[1]:
        return np.argsort(D, axis=1, kind="stable")[:, :p]
    inside = D <= np.partition(D, p - 1, axis=1)[:, p - 1 : p]
    clean = inside.sum(axis=1) == p
    near = np.empty((len(D), p), dtype=np.int64)
    part = np.nonzero(inside[clean])[1].reshape(-1, p)
    order = np.argsort(np.take_along_axis(D[clean], part, axis=1), axis=1, kind="stable")
    near[clean] = np.take_along_axis(part, order, axis=1)
    near[~clean] = np.argsort(D[~clean], axis=1, kind="stable")[:, :p]
    return near


def nearest_cells(V, cent_mat, csq, nprobe):
    """Row indices into ``cent_mat`` of the ``nprobe`` nearest centroids
    of each row of ``V`` (non-empty, f64): :func:`topn_stable` over
    :func:`cell_sqdist` blocks of ~32 MB (measured at N=1M, k=16384, a
    10k-row × 16384-cell block of 1.3 GB per core made allocation
    thrash, not compute, the cost); selection is O(k) per row."""
    import numpy as np

    step = max(1, int(4_000_000 // max(1, len(cent_mat))))  # ~32 MB blocks
    return np.concatenate([
        topn_stable(cell_sqdist(V[i : i + step], cent_mat, csq), nprobe)
        for i in range(0, len(V), step)
    ])


def make_topn_cells_udf(cent_mat, cids, nprobe):
    """Factory for the engine's one cell-assignment UDF (see
    clustering.assign_topn): per Arrow batch, :func:`nearest_cells`
    picks the ``nprobe`` nearest cells of every vector.

    A NULL vector, one whose length differs from the codebook's dim, or
    one with a non-finite element (a NULL element arrives as NaN) emits
    NULL.

    ``cent_mat``: (k × dim) float64 centroid matrix, rows in ``cids``
    order; ``cids``: sorted ascending int64 centroid ids; ``nprobe``:
    how many nearest cells to emit per vector."""
    import numpy as np

    cvec = np.asarray(cids, dtype=np.int64)
    csq = (cent_mat * cent_mat).sum(axis=1)  # (k,)
    _, dim = cent_mat.shape

    @pandas_udf(ArrayType(LongType()))
    def _cells(v: pd.Series) -> pd.Series:
        ok = (v.map(len, na_action="ignore") == dim).to_numpy()
        out = [None] * len(v)
        if ok.any():
            V = np.vstack(v[ok].to_numpy()).astype(np.float64)  # (rows × dim)
            finite = np.isfinite(V).all(axis=1)
            ok[ok] = finite
            if finite.any():
                cells = cvec[nearest_cells(V[finite], cent_mat, csq, nprobe)]
                for i, c in zip(np.flatnonzero(ok), cells):
                    out[i] = c
        return pd.Series(out, dtype=object)

    return _cells
