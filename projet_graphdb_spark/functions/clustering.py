"""Distributed k-means (Lloyd's iterations) over an embedding column.

The reference has no clustering at all; this is part of the
training-data-pipeline surface (cluster-balanced sampling, IVF codebook
training, topic bucketing).  The Spark shape per iteration is the one
that scales:

* **assignment** — the current centroids travel in the closure of one
  Arrow-batched BLAS UDF (:func:`assign_topn`), so assigning every
  vector is MAP-ONLY: no shuffle, no broadcast exchange, one matmul per
  batch.
* **update** — ``posexplode`` the assigned vectors and average per
  (cluster, position): ONE shuffle of (k·dim)-bounded aggregates
  (map-side combined), then a k·dim-row collect to the driver — tiny by
  construction (centroids must fit on the driver for the next
  assignment regardless).

Determinism/oracle story: seeding is deterministic (vectors with
``id < k``), ties break toward the smaller centroid id, and every
centroid coordinate is rounded to ``round_dp`` decimals after each
average.  The rounding absorbs float summation-order differences, so a
DuckDB oracle replaying the same iterations (a left-to-right fold for
distances, same rounding) reproduces the assignment exactly while the
fixture's adjacent distances stay far above the BLAS/fold discrepancy
(``tools/margin_gauge.py``) — the a3-pagerank playbook applied to
clustering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize


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

    The one nearest-centroid kernel of the engine: every codebook —
    k-means training, IVF cells, PQ subspace codes — assigns through
    the Arrow-batched BLAS UDF ``pyudf.make_topn_cells_udf``, whose
    closure carries the (k × dim) centroid matrix.  Its selection is a
    stable ``(distance, cid)`` sort, the order a SQL oracle's
    left-to-right distance fold produces; the BLAS expansion agrees
    with that fold while adjacent distances stay far above f64 drift
    (receipt: ``tools/margin_gauge.py``).  A NULL vector, or one whose
    length is not the codebook's dim, gets a NULL ``out_col``.
    """
    import numpy as np

    from .pyudf import make_topn_cells_udf

    items = sorted(cents.items())
    mat = np.asarray([cv for _, cv in items], dtype=np.float64)
    cids = [int(cid) for cid, _ in items]
    return emb.withColumn(out_col, make_topn_cells_udf(mat, cids, nprobe)(F.col(vec_col)))


def _assign(emb: DataFrame, cents: dict, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, cluster): nearest centroid, ties to the smaller cid —
    map-only (see assign_topn)."""
    return (
        assign_topn(emb, cents, nprobe=1, vec_col=vec_col, out_col="_c1")
        .withColumn("cluster", F.col("_c1")[0])
        .drop("_c1")
    )


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
    coordinates rounded to ``round_dp`` after every average).  The
    driver-side dict is the INDEX METADATA a consumer (e.g. IVF search)
    hands to :func:`assign_topn`."""
    emb = materialize(embeddings.select(F.col(id_col), F.col(vec_col)))
    seed = emb.filter(F.col(id_col) < k).select(id_col, vec_col).collect()
    cents = {
        int(r[id_col]): [round(float(x), round_dp) for x in r[vec_col]] for r in seed
    }
    for _ in range(num_iter):
        assigned = _assign(emb, cents, id_col, vec_col)
        means = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()  # k*dim rows — bounded by the codebook size
        )
        new_cents: dict = {}
        for r in means:
            new_cents.setdefault(int(r["cluster"]), {})[int(r["pos"])] = round(
                float(r["m"]), round_dp
            )
        cents = {
            cid: (
                [by_pos[p] for p in range(len(cents[cid]))]
                if (by_pos := new_cents.get(cid))
                else cents[cid]  # empty cluster keeps its centroid
            )
            for cid in cents
        }
    return cents


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
    return _assign(
        embeddings.select(F.col(id_col), F.col(vec_col)), cents, id_col, vec_col
    ).select(F.col(id_col), F.col("cluster"))


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
    bounded shuffle with map-side combine, the same shape as the
    k-means update step.  Per-coordinate averages round to ``round_dp``
    decimals (absorbing float summation-order differences) before the
    64-term norm fold, so the DuckDB oracle reproduces every output bit.

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
