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


def verify_cosine(a, b, floor):
    """The engine's one exact-cosine verify: candidate pairs of two row
    sets ``a`` and ``b``, each ``(ids, vecs)`` with ``vecs`` an object
    array of non-NULL 1-D vectors.  With ``b`` None the pairs are ``a``'s
    upper triangle (``id_a < id_b``; ``a`` sorted by id), otherwise every
    ``a`` × ``b`` pair whose ids differ.

    Rows are split by vector length: vectors of different lengths are
    never compared.  ``V_a @ V_b.T / outer(n_a, n_b)`` runs in ~32 MB row
    blocks and keeps the pairs that are not provably below the
    threshold: a BLAS cosine ``>= floor`` (``threshold − 1e-9``, far
    above the ≤ dim·u BLAS-vs-fold error), a non-finite one, or a zero
    norm product.  The survivors' dots are re-folded with
    :func:`seq_rowdot`, and the norms are ``sqrt(seq_rowdot(v, v))``, so
    both equal the JVM ``similarity.dot`` / ``l2norm`` folds bit for bit
    and the caller's JVM-side ``_dot / (_na * _nb)`` is the fold's
    cosine.  A NaN or NULL element folds to NaN, which reaches the JVM
    as NULL (pandas→Arrow), so the pair is dropped; a zero norm product
    divides by zero there (ANSI mode raises).

    Yields ``(id_a, id_b, dot, na, nb)`` array chunks."""
    import numpy as np

    def lengths(vecs):
        return np.fromiter(map(len, vecs), np.int64, len(vecs))

    same = b is None
    ia, va = a
    ib, vb = a if same else b
    la = lengths(va)
    lb = la if same else lengths(vb)
    for d in np.intersect1d(la, lb):
        sa = la == d
        ids_a, A = ia[sa], np.vstack(va[sa]).astype(np.float64)
        na = np.sqrt(seq_rowdot(A, A))
        if same:
            ids_b, B, nb = ids_a, A, na
        else:
            sb = lb == d
            ids_b, B = ib[sb], np.vstack(vb[sb]).astype(np.float64)
            nb = np.sqrt(seq_rowdot(B, B))
        step = max(1, 4_000_000 // len(B))  # ~32 MB blocks
        for s in range(0, len(A), step):
            lo = s if same else 0  # sorted ids: every partner of rows s.. sits at column ≥ s
            with np.errstate(divide="ignore", invalid="ignore"):
                nn = na[s : s + step, None] * nb[None, lo:]
                cos = (A[s : s + step] @ B[lo:].T) / nn
            i, j = np.nonzero(~(cos < floor) | (nn == 0))
            i += s
            j += lo
            keep = ids_a[i] < ids_b[j] if same else ids_a[i] != ids_b[j]
            i, j = i[keep], j[keep]
            yield ids_a[i], ids_b[j], seq_rowdot(A[i], B[j]), na[i], nb[j]


def ranges(starts, counts):
    """The concatenated index ranges ``[s, s + c)`` for each ``(s, c)``."""
    import numpy as np

    counts = np.asarray(counts, dtype=np.int64)
    firsts = np.cumsum(counts) - counts
    return np.repeat(np.asarray(starts, dtype=np.int64) - firsts, counts) + np.arange(counts.sum())


def stream_blocks(frames, cut, block):
    """The blocked kernel's carry loop (``similarity._blocked_map``).
    ``frames`` yields ``(keys, payload)`` per input batch, rows sorted by
    the block key: ``keys`` a list of equal-length key arrays.  A block
    is a run of equal keys (NaN equals NaN, as in Spark's grouping) and
    may span batches: the open block's pieces ``cut(payload, rows)`` are
    carried from one batch to the next.

    Once per batch, ``block(pieces, sizes)`` gets every block of two
    rows or more that closed in it: the pieces, concatenated, are
    ``len(sizes)`` consecutive blocks of those sizes (the carried block
    first, then one cut of the batch's inner blocks).  A one-row block
    inside a batch is never cut.  Yields once after each batch and once
    at the end, so the caller can flush what ``block`` produced."""
    import numpy as np
    import pandas as pd

    held, n_held, last = [], 0, None  # the open block; the previous batch's keys
    for keys, payload in frames:
        n = len(keys[0])
        if n == 0:
            continue
        new = np.zeros(n, bool)  # row i starts a block
        new[0] = last is None
        for k, p in zip(keys, last or keys):
            prev = np.concatenate([p[-1:], k[:-1]])
            new |= (k != prev) & ~(pd.isna(k) & pd.isna(prev))
        bounds = np.concatenate([[0], np.flatnonzero(new[1:]) + 1, [n]])
        sizes = np.diff(bounds)
        last = keys
        if not new[0]:  # the open block goes on
            held.append(cut(payload, np.arange(bounds[1])))
            n_held += sizes[0]
            if len(sizes) == 1:
                yield
                continue
        pieces, closed = (held, [n_held]) if n_held > 1 else ([], [])
        inner = np.arange(0 if new[0] else 1, len(sizes) - 1)
        inner = inner[sizes[inner] > 1]
        if len(inner):
            pieces = pieces + [cut(payload, ranges(bounds[inner], sizes[inner]))]
            closed += sizes[inner].tolist()
        if closed:
            block(pieces, closed)
        held, n_held = [cut(payload, np.arange(bounds[-2], n))], sizes[-1]
        yield
    if n_held > 1:
        block(held, [n_held])
    yield


MASK31 = (1 << 31) - 1


def minhash_sigs(offsets, values, coeffs):
    """MinHash signatures of non-empty hashed shingle sets: row ``r``
    is ``values[offsets[r]:offsets[r + 1]]``, and its entry ``i`` is the
    min over those hashes ``h`` of ``((h & MASK31)·a_i + b_i) >> 29 &
    MASK31`` for ``(a_i, b_i) = coeffs[i]`` (``dedup._minhash_coeffs``).
    The operands stay below 2^62, so int64 never wraps and the values
    are the DuckDB oracle's bigint arithmetic.  Returns (rows ×
    len(coeffs)) int64."""
    import numpy as np

    h = np.asarray(values, dtype=np.int64) & MASK31
    starts = np.asarray(offsets[:-1], dtype=np.int64)
    out = np.empty((len(starts), len(coeffs)), dtype=np.int64)
    for i, (a, b) in enumerate(coeffs):
        out[:, i] = np.minimum.reduceat(((h * a + b) >> 29) & MASK31, starts)
    return out


def verify_jaccard(ids, offsets, values, sizes, threshold):
    """Jaccard verify of consecutive blocks of hashed shingle sets (row
    ``r`` is ``values[offsets[r]:offsets[r + 1]]``; ``sizes`` are the
    block sizes, rows sorted by id within a block): every pair ``i <
    j`` of one block with ``id_a < id_b`` and ``inter / union >=
    threshold``, where ``inter = |set(a) ∩ set(b)|`` and ``union =
    len(a) + len(b) − inter`` (``len`` counts array elements, as
    ``size`` does), one IEEE division — the value of the JVM
    ``size(array_intersect(a, b))`` form bit for bit.

    All pairs of all blocks are counted at once, in pieces of ~1M
    gathered elements: each pair's two distinct-hash lists are tagged
    with the pair, sorted, and every tag-and-hash repeat is one common
    hash.  Yields ``(id_a, id_b, jaccard)`` array chunks."""
    import numpy as np

    n = len(ids)
    lens = np.diff(offsets)
    u, inv = np.unique(values, return_inverse=True)
    cell = np.unique(np.repeat(np.arange(n, dtype=np.int64), lens) * len(u) + inv.ravel())
    row, hid = np.divmod(cell, len(u))  # each row's distinct hashes, in row order
    dlen = np.bincount(row, minlength=n)
    doff = np.concatenate([[0], np.cumsum(dlen)])
    end = np.repeat(np.cumsum(sizes), sizes)  # one past each row's block
    partners = end - np.arange(n) - 1
    cost = partners * dlen + doff[end] - doff[1:]  # elements gathered for row i's pairs
    cum = np.concatenate([[0], np.cumsum(cost)])
    r0 = 0
    while r0 < n:
        r1 = max(r0 + 1, int(np.searchsorted(cum, cum[r0] + 1_000_000, "right")) - 1)
        r1 = min(r1, n)
        c = partners[r0:r1]
        i = np.repeat(np.arange(r0, r1), c)
        j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(c) - c, c)
        pair = np.arange(len(i))
        tags = np.concatenate([np.repeat(pair, dlen[i]), np.repeat(pair, dlen[j])])
        hs = np.concatenate([hid[ranges(doff[i], dlen[i])], hid[ranges(doff[j], dlen[j])]])
        key = np.sort(tags * len(u) + hs)
        common = key[1:][key[1:] == key[:-1]] // len(u)
        inter = np.bincount(common, minlength=len(i)).astype(np.float64)
        jac = inter / (lens[i] + lens[j] - inter)
        keep = (jac >= threshold) & (ids[i] < ids[j])
        yield ids[i][keep], ids[j][keep], jac[keep]
        r0 = r1


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
