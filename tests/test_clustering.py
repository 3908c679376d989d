"""Driver-side k-means (one Arrow collect, Lloyd in numpy) against a
plain numpy Lloyd's, against a copy of the Spark update it replaced
(bit for bit), and against a sequential fold in collect order; plus its
NULL / ragged / sparse-seed edge semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from projet_graphdb_spark.functions import clustering, similarity
from projet_graphdb_spark.functions.clustering import kmeans_assignments

from conftest import SF_SMALL, SF_TINY


def _numpy_kmeans(X, ids, k, num_iter, dp=6):
    cents = {i: np.round(X[ids == i][0].astype(np.float64), dp) for i in range(k)}

    def assign(cts):
        C = np.stack([cts[i] for i in range(k)])
        d = ((X[:, None, :].astype(np.float64) - C[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)  # argmin takes the first (smallest cid) on ties

    lab = None
    for _ in range(num_iter):
        lab = assign(cents)
        for c in range(k):
            members = X[lab == c]
            if len(members):
                cents[c] = np.round(members.astype(np.float64).mean(axis=0), dp)
    return assign(cents)


def test_kmeans_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)

    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(emb, k=8, num_iter=2).collect()
    }
    expect = _numpy_kmeans(X, ids, k=8, num_iter=2)
    mism = sum(1 for i, vid in enumerate(ids) if got[vid] != expect[i])
    # numpy's mean/argmin summation order differs; the 6-dp centroid
    # rounding absorbs it except for exactly-boundary points (none here)
    assert mism == 0, mism


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # two far groups, 3 centroids seeded inside them -> one centroid may
    # end up empty; assignments must still cover all ids with k clusters max
    data = [(i, [float(i % 2) * 100.0] * 4) for i in range(20)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    out = kmeans_assignments(df, k=3, num_iter=2)
    rows = out.collect()
    assert len(rows) == 20
    assert set(r["cluster"] for r in rows) <= {0, 1, 2}


def test_label_centroid_stats_numpy(spark):
    import numpy as np

    from projet_graphdb_spark.functions.clustering import label_centroid_stats

    rng = np.random.default_rng(3)
    rows = []
    for vid in range(40):
        rows.append((vid, [float(x) for x in rng.normal(size=8)], vid % 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in label_centroid_stats(df).collect()}
    X = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    lbl = np.array([r[2] for r in rows])
    for l in (0, 1, 2):
        sub = X[lbl == l]
        m = np.round(sub.mean(axis=0), 6)
        csq = round(float((m * m).sum()), 6)
        e_sq = round(float((sub * sub).sum(axis=1).mean()), 6)
        r = got[l]
        assert r["n_vecs"] == len(sub)
        assert abs(r["centroid_norm"] - round(float(np.sqrt(csq)), 6)) <= 1e-6
        assert abs(r["avg_sq_dist"] - round(e_sq - csq, 6)) <= 2e-6


def _spark_update_centroids(frame, k, num_iter, id_col="vec_id", vec_col="embedding", dp=6):
    """The Spark-side Lloyd update that driver-side training replaced:
    assign with ``assign_topn``, then ``posexplode`` → ``groupBy`` →
    ``avg`` → ``collect`` per iteration."""
    seed = frame.filter(F.col(id_col) < k).select(id_col, vec_col).collect()
    cents = {int(r[id_col]): [round(float(x), dp) for x in r[vec_col]] for r in seed}
    for _ in range(num_iter):
        assigned = clustering.assign_topn(
            frame, cents, nprobe=1, vec_col=vec_col, out_col="_c1"
        ).withColumn("cluster", F.col("_c1")[0])
        means = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault(int(r["cluster"]), {})[int(r["pos"])] = round(float(r["m"]), dp)
        cents = {
            cid: [new[cid][p] for p in range(len(cents[cid]))] if cid in new else cents[cid]
            for cid in cents
        }
    return cents


@pytest.mark.parametrize("sf", [SF_TINY, SF_SMALL])
@pytest.mark.parametrize("k", [8, 64])
def test_codebooks_equal_spark_update(spark, sf, k):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    expect = _spark_update_centroids(emb, k, 2)
    assert clustering.kmeans_centroids(emb, k=k, num_iter=2) == expect
    corp = emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    got = similarity.ivf_train(corp, emb.count(), n_centroids=k, num_iter=2)
    assert got == expect
    assert list(got) == list(expect)  # seed order, as the collected seeds


@pytest.mark.parametrize("sf", [SF_TINY, SF_SMALL])
def test_imi_halves_equal_spark_update(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corp = emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    got = similarity.imi_train(corp, emb.count(), k1=4, k2=4, num_iter=2, dim=64)
    halves = [F.slice("embedding", 1, 32), F.slice("embedding", 33, 32)]
    expect = tuple(
        _spark_update_centroids(emb.select("vec_id", h.alias("embedding")), 4, 2)
        for h in halves
    )
    assert got == expect


def _fold_lloyd(ids, X, k, num_iter, dp=6):
    """Lloyd with each mean a left-to-right fold in row order (the
    assignment is the engine's kernel: this pins the means)."""
    from projet_graphdb_spark.functions.pyudf import nearest_cells

    cents = {int(i): [round(x, dp) for x in X[r].tolist()] for r, i in enumerate(ids) if i < k}
    for _ in range(num_iter):
        cids = sorted(cents)
        C = np.asarray([cents[c] for c in cids])
        near = [cids[j] for j in nearest_cells(X, C, (C * C).sum(axis=1), 1)[:, 0]]
        sums, counts = {}, {}
        for x, c in zip(X, near):
            acc = sums.setdefault(c, [0.0] * len(x))
            for p, v in enumerate(x.tolist()):
                acc[p] = acc[p] + v
            counts[c] = counts.get(c, 0) + 1
        cents = {
            c: [round(s / counts[c], dp) for s in sums[c]] if c in sums else cents[c]
            for c in cents
        }
    return cents


def test_kmeans_sums_in_collect_order_over_partitions(spark):
    # rounded to 15 dp, the means keep the last bits of their sums, so
    # only a fold in collect order matches (the reversed fold does not)
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(v) for v in rng.standard_normal(4) * 10.0 ** rng.integers(-3, 4)])
        for i in range(400)
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "vec_id long, embedding array<double>"
    )
    assert df.rdd.getNumPartitions() == 4
    got_rows = df.collect()
    ids = np.array([r["vec_id"] for r in got_rows])
    X = np.array([r["embedding"] for r in got_rows], dtype=np.float64)
    expect = _fold_lloyd(ids, X, 3, 2, dp=15)
    assert clustering.kmeans_centroids(df, k=3, num_iter=2, round_dp=15) == expect
    assert _fold_lloyd(ids[::-1], X[::-1], 3, 2, dp=15) != expect


def _edge_frame(spark, extra):
    rows = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(30)] + extra
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_null_and_ragged_non_seeds_left_out(spark):
    """A NULL, ragged, NULL-element, NaN or infinite non-seed vector is
    left out of the means and gets no cell."""
    clean = _edge_frame(spark, [])
    bad = [None, [9.0, 9.0], [9.0, 9.0, 9.0, 9.0], [9.0, None, 9.0],
           [float("nan"), 1.0, 1.0], [float("inf"), 1.0, 1.0]]
    dirty = _edge_frame(spark, list(enumerate(bad, start=30)))
    assert clustering.kmeans_centroids(dirty, k=4, num_iter=2) == (
        clustering.kmeans_centroids(clean, k=4, num_iter=2)
    )
    got = {r["vec_id"]: r["cluster"] for r in kmeans_assignments(dirty, k=4).collect()}
    assert [got[i] for i in range(30, 36)] == [None] * 6


@pytest.mark.parametrize(
    "bad",
    [None, [1.0, 2.0], [2.0, None, 2.0], [2.0, float("nan"), 2.0]],
    ids=["null", "ragged", "null-element", "nan"],
)
def test_kmeans_bad_seed_vector_raises(spark, bad):
    rows = [(i, [float(i), 1.0, 2.0]) for i in range(10)]
    rows[2] = (2, bad)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="seed id 2 "):
        clustering.kmeans_centroids(df, k=4, num_iter=1)


def test_kmeans_fewer_seeds_than_k(spark):
    # sparse ids: only 0 and 3 fall under k=5, so the codebook has 2 cells
    rows = [(i * 3, [float(i % 2) * 10.0 + i * 0.01, 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = clustering.kmeans_centroids(df, k=5, num_iter=2)
    assert sorted(got) == [0, 3]
    assert got == _spark_update_centroids(df, 5, 2)
