"""K-means (Lloyd's iterations) over an embedding column.

The reference has no clustering at all; this is part of the
training-data-pipeline surface (cluster-balanced sampling, IVF codebook
training, topic bucketing).

Training fetches the ``(id, vector)`` frame to the driver ONCE through
Arrow (one Spark job) and runs every Lloyd iteration there in numpy
(:func:`lloyd`), so the frame must fit on the driver
(``similarity.ivf_train`` / ``imi_train`` cap it at ``max_train_rows``,
200k × dim).  The codebook reaches the executors in one UDF closure
(:func:`assign_topn`), so assigning a corpus is map-only.

Determinism/oracle story: seeding is deterministic (vectors with
``id < k``), ties break toward the smaller centroid id, and every
centroid coordinate (a sequential sum in collect order over the count)
is rounded to ``round_dp`` decimals.  The rounding absorbs float
summation-order differences, so a DuckDB oracle replaying the same
iterations (a left-to-right distance fold, same rounding) reproduces
the assignment while the fixture's adjacent distances stay far above
the BLAS/fold discrepancy (``tools/margin_gauge.py``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sqdist_to_literal(vec: Column, centroid: list) -> Column:
    """Squared euclidean distance to a literal centroid, accumulated
    left-to-right (bit-reproducible; mirrors the oracle's list fold).
    Only for distances that are EMITTED (the PQ lookup-table entries);
    nearest-centroid selection goes through :func:`assign_topn`."""
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_topn(
    emb: DataFrame,
    cents: dict,
    nprobe: int = 1,
    vec_col: str = "embedding",
    out_col: str = "_cells",
) -> DataFrame:
    """Adds ``out_col``: array of the ``nprobe`` nearest centroid ids
    (squared euclidean, ties to the smaller cid), map-only.

    The engine's one nearest-centroid kernel, ``pyudf.nearest_cells``,
    runs here in the Arrow-batched BLAS UDF ``make_topn_cells_udf``,
    whose closure carries the (k × dim) centroid matrix, and on the
    driver in k-means training (:func:`lloyd`).  Its selection is a
    stable ``(distance, cid)`` sort, the order a SQL oracle's
    left-to-right distance fold produces; the BLAS expansion agrees
    with that fold while adjacent distances stay far above f64 drift
    (receipt: ``tools/margin_gauge.py``).  A NULL vector, one whose
    length is not the codebook's dim, or one with a non-finite element
    gets a NULL ``out_col``.
    """
    return emb.withColumn(out_col, topn_cells(F.col(vec_col), cents, nprobe))


def topn_cells(vec: Column, cents: dict, nprobe: int) -> Column:
    """:func:`assign_topn`'s cell array as a column.  Explode it in the
    ``select`` that makes it: from a projected column Catalyst infers a
    ``size(...) > 0`` filter below the projection, running the UDF twice."""
    from .pyudf import make_topn_cells_udf

    items = sorted(cents.items())
    mat = np.asarray([cv for _, cv in items], dtype=np.float64)
    cids = [int(cid) for cid, _ in items]
    return make_topn_cells_udf(mat, cids, nprobe)(vec)


def lloyd(ids, V, k: int, num_iter: int, round_dp: int = 6) -> dict:
    """:func:`kmeans_centroids`' loop in numpy over ``ids`` and f64 rows
    ``V`` in collect order: seeds are the rows with ``id < k`` (a repeated
    id keeps its last row); each iteration assigns with the cell kernel,
    then sets each coordinate to the cluster's column sum in row order
    over its count.  All rounded; an empty cluster keeps its centroid."""
    from .pyudf import nearest_cells

    cents = {
        int(ids[i]): [round(x, round_dp) for x in V[i].tolist()]
        for i in np.flatnonzero(ids < k)
    }
    for _ in range(num_iter):
        cids = sorted(cents)
        C = np.asarray([cents[c] for c in cids], dtype=np.float64)
        near = nearest_cells(V, C, (C * C).sum(axis=1), 1)[:, 0]
        sums = np.zeros_like(C)
        np.add.at(sums, near, V)  # unbuffered: one row at a time, in order
        counts = np.bincount(near, minlength=len(cids))
        means = {
            cids[j]: [round(x, round_dp) for x in (sums[j] / counts[j]).tolist()]
            for j in np.flatnonzero(counts)
        }
        cents = {cid: means.get(cid, cents[cid]) for cid in cents}
    return cents


def collect_vectors(frame: DataFrame, id_col: str, vec_col: str) -> tuple:
    """``(ids, vecs)`` in collect order from one Arrow job (NULL → None)."""
    pdf = frame.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    return pdf["id"].to_numpy(), pdf["v"]


def seeded_codebook(ids, vecs, k: int, num_iter: int, round_dp: int = 6) -> dict:
    """:func:`lloyd` over collected ``(ids, vecs)``; the smallest seed
    id with a vector sets the dim.  A seed whose vector is NULL, of
    another length or has a non-finite element (a NULL element arrives
    as NaN) raises ``ValueError`` naming its id, as does a frame with no
    seed; any other such row is left out, as :func:`assign_topn` leaves
    it unassigned."""
    lens = vecs.map(len, na_action="ignore").to_numpy(np.float64, na_value=np.nan)
    seeds = np.flatnonzero(ids < k)
    if not len(seeds):
        raise ValueError(f"k-means has no seed: no row with id < {k}")
    sized = seeds[~np.isnan(lens[seeds])]
    dim = lens[sized[np.argmin(ids[sized])]] if len(sized) else np.nan
    for i in seeds[lens[seeds] != dim]:
        got = "a NULL vector" if np.isnan(lens[i]) else f"{lens[i]:g} coordinates, not {dim:g}"
        raise ValueError(f"k-means seed id {int(ids[i])} has {got}")
    ok = lens == dim
    V = np.vstack(vecs[ok].to_numpy()).astype(np.float64)
    finite = np.isfinite(V).all(axis=1)
    for i in ids[ok][~finite & (ids[ok] < k)]:
        raise ValueError(f"k-means seed id {int(i)} has a non-finite element")
    return lloyd(ids[ok][finite], V[finite], k, num_iter, round_dp)


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    num_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> dict:
    """Trained codebook: {cid: centroid} after ``num_iter`` Lloyd
    iterations from the deterministic seed (vectors with ``id < k``,
    coordinates rounded to ``round_dp`` after every average), trained on
    the driver from one collect of the frame.  The dict is the INDEX
    METADATA a consumer (e.g. IVF search) hands to :func:`assign_topn`."""
    return seeded_codebook(*collect_vectors(embeddings, id_col, vec_col), k, num_iter, round_dp)


def kmeans_assignments(
    embeddings: DataFrame,
    k: int = 8,
    num_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """(id, cluster) after ``num_iter`` Lloyd iterations from the
    deterministic seed (vectors with ``id < k``, coordinates rounded to
    ``round_dp``)."""
    cents = kmeans_centroids(embeddings, k, num_iter, id_col, vec_col, round_dp)
    return assign_topn(embeddings, cents, vec_col=vec_col).select(
        F.col(id_col), F.col("_cells")[0].alias("cluster")
    )


def label_centroid_stats(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-label centroid summary over an embedding column: vector
    count, centroid L2 norm, and mean squared distance to the centroid
    (within-cluster dispersion, via ``E‖x‖² − ‖c‖²`` so no second pass
    over the vectors is needed).

    Scale design: one map-side pass computes per-vector squared norms
    (left-to-right ``aggregate`` fold, bit-reproducible); the centroid
    is a ``posexplode`` + per-(label, dim) average — a (labels·dim)-
    bounded shuffle with map-side combine.  Per-coordinate averages
    round to ``round_dp`` decimals (absorbing float summation-order
    differences) before the 64-term norm fold, so the DuckDB oracle
    reproduces every output bit.

    Output: (label, n_vecs, centroid_norm, avg_sq_dist).
    """
    lbl = F.col(label_col).cast("long").alias("label")
    sqn = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    base = embeddings.select(lbl, sqn.alias("_sqn")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("_sqn"), round_dp).alias("_e_sq"),
    )
    cent = (
        embeddings.select(lbl, F.posexplode(F.col(vec_col)).alias("_pos", "_val"))
        .groupBy("label", "_pos")
        .agg(F.round(F.avg(F.col("_val").cast("double")), round_dp).alias("_m"))
    )
    cnorm = cent.groupBy("label").agg(
        F.round(F.sum(F.col("_m") * F.col("_m")), round_dp).alias("_csq")
    )
    return base.join(cnorm, "label").select(
        "label",
        "n_vecs",
        F.round(F.sqrt(F.col("_csq")), round_dp).alias("centroid_norm"),
        F.round(F.col("_e_sq") - F.col("_csq"), round_dp).alias("avg_sq_dist"),
    )
