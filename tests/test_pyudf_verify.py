"""r16 optimization pins: the Arrow exact verify (``pyudf.verify_cosine``)
must be BIT-IDENTICAL to the JVM ``aggregate(zip_with(...))`` fold, and the
sink-backed materialization mode must round-trip frames unchanged."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from projet_graphdb_spark.functions import pyudf, similarity
from projet_graphdb_spark.functions.pyudf import seq_rowdot


def _fold_dot(va, vb):
    acc = 0.0
    for x, y in zip(va, vb):
        acc = acc + float(x) * float(y)
    return acc


def test_seq_rowdot_matches_fold():
    """np.cumsum must be a strict SEQUENTIAL accumulate on this numpy —
    the property the whole verify-tail optimization rests on.  A future
    numpy that vectorizes accumulate with SIMD partial sums would break
    bit-identity; this test fails loudly there."""
    rng = np.random.default_rng(7)
    for dim in (1, 2, 3, 16, 48, 257):
        A = rng.standard_normal((200, dim))
        B = rng.standard_normal((200, dim))
        A[::3] *= 1e8  # adversarial magnitudes: rounding order matters
        B[::5] *= 1e-8
        got = seq_rowdot(A, B)
        want = np.array([_fold_dot(a, b) for a, b in zip(A, B)])
        assert np.array_equal(got, want)  # bitwise, not allclose


def test_seq_rowdot_empty_vectors():
    assert list(seq_rowdot(np.empty((3, 0)), np.empty((3, 0)))) == [0.0] * 3


def test_seq_rowdot_float32_inputs_cast_first():
    """array<float> columns arrive as float32; the cast to f64 must
    happen BEFORE the product, like the JVM's per-element casts."""
    rng = np.random.default_rng(11)
    A32 = rng.standard_normal((50, 9)).astype(np.float32)
    B32 = rng.standard_normal((50, 9)).astype(np.float32)
    got = seq_rowdot(A32, B32)
    want = np.array(
        [_fold_dot(a.astype(np.float64), b.astype(np.float64))
         for a, b in zip(A32, B32)]
    )
    assert np.array_equal(got, want)


def _kernel_sims(a, b):
    """{(id_a, id_b): dot / (na·nb)} of every pair ``verify_cosine``
    keeps at a floor that keeps them all."""
    out = {}
    for ia, ib, dot, na, nb in pyudf.verify_cosine(a, b, -np.inf):
        out.update(zip(zip(ia.tolist(), ib.tolist()), (dot / (na * nb)).tolist()))
    return out


def test_verify_cosine_bit_identical_to_jvm_fold(spark):
    """The shared verify's cosine equals the JVM HOF fold's BITWISE on a
    float32 embedding fixture (no tolerance), for its upper triangle and
    for a two-sided rectangle."""
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(24).astype(np.float32)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    a = df.select(
        F.col("id").alias("id_a"), F.col("v").alias("_va"),
        similarity.l2norm(F.col("v")).alias("_na"),
    )
    b = df.select(
        F.col("id").alias("id_b"), F.col("v").alias("_vb"),
        similarity.l2norm(F.col("v")).alias("_nb"),
    )
    jvm = a.crossJoin(b).where(F.col("id_a") != F.col("id_b")).withColumn(
        "sim",
        similarity.dot(F.col("_va"), F.col("_vb"))
        / (F.col("_na") * F.col("_nb")),
    ).select("id_a", "id_b", "sim")
    want = {(r.id_a, r.id_b): r.sim for r in jvm.collect()}
    ids = np.arange(60)
    vecs = np.empty(60, dtype=object)
    vecs[:] = [np.asarray(v, dtype=np.float32) for _, v in rows]
    tri = _kernel_sims((ids, vecs), None)
    assert tri == {k: v for k, v in want.items() if k[0] < k[1]}  # raw doubles == bitwise
    rect = _kernel_sims((ids[40:], vecs[40:]), (ids[:50], vecs[:50]))
    assert rect == {k: v for k, v in want.items() if k[0] >= 40 and k[1] < 50}


def _objects(*vecs):
    out = np.empty(len(vecs), dtype=object)
    out[:] = [np.asarray(v, dtype=np.float64) for v in vecs]
    return out


def test_verify_cosine_ragged_nan_null_pairs_are_dropped(spark):
    """Edge semantics: a ragged pair is never compared (the JVM
    ``zip_with`` null-pad folds to NULL), a NaN element re-folds to a NaN
    dot (the JVM fold gives NaN too) that reaches the JVM as NULL, and a
    NULL vector never reaches the kernel; the blocked verify drops all
    three pairs and keeps the clean one, one-sided and two-sided."""
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [1.0, 2.0, 3.5]),
        (2, [1.0, float("nan"), 3.0]),
        (3, [1.0, 2.0]),
        (4, None),
    ]
    base = spark.createDataFrame(rows, "_vid long, _v array<float>")
    pairs = spark.createDataFrame([(0, b) for b in range(1, 5)], "id_a long, id_b long")
    va = base.select(F.col("_vid").alias("id_a"), F.col("_v").alias("_va"))
    vb = base.select(F.col("_vid").alias("id_b"), F.col("_v").alias("_vb"))
    jvm = {
        r.id_b: r.jvm
        for r in pairs.join(va, "id_a").join(vb, "id_b").select(
            "id_b", similarity.dot(F.col("_va"), F.col("_vb")).alias("jvm")
        ).collect()
    }
    assert jvm[1] == 1.0 + 4.0 + 10.5 and np.isnan(jvm[2])
    assert jvm[3] is None and jvm[4] is None
    (ia, ib, dot, _, _), = pyudf.verify_cosine(
        (np.array([0]), _objects(rows[0][1])),
        (np.array([1, 2, 3]), _objects(*(v for _, v in rows[1:4]))),
        -np.inf,
    )
    assert ib.tolist() == [1, 2] and dot[0] == jvm[1] and np.isnan(dot[1])
    block = base.withColumn("_blk", F.lit(0))  # all five rows in one block
    kept = similarity._verify_within_blocks(block, ["_blk"], 0.5).collect()
    assert [(r.id_a, r.id_b) for r in kept] == [(0, 1)]
    sided = block.withColumn("_a", F.col("_vid") == 0)
    kept = similarity._verify_within_blocks(sided, ["_blk"], 0.5, side="_a").collect()
    assert [(r.id_a, r.id_b) for r in kept] == [(0, 1)]


def test_verify_cosine_mixed_lengths_across_rows():
    """Equal-length pairs of DIFFERENT lengths in one call each get the
    exact fold (one stack per length), on both shapes."""
    a = (np.array([0, 1]), _objects([1.0, 2.0], [1.0, 2.0, 3.0]))
    b = (np.array([2, 3, 4]), _objects([3.0, 4.0], [1.0, 1.0, 1.0], [1.0]))
    got = {(i, j): d for ia, ib, d, _, _ in pyudf.verify_cosine(a, b, -np.inf)
           for i, j, d in zip(ia.tolist(), ib.tolist(), d.tolist())}
    assert got == {(0, 2): 11.0, (1, 3): 6.0}
    both = (np.concatenate([a[0], b[0]]), np.concatenate([a[1], b[1]]))
    got = {(i, j): d for ia, ib, d, _, _ in pyudf.verify_cosine(both, None, -np.inf)
           for i, j, d in zip(ia.tolist(), ib.tolist(), d.tolist())}
    assert got == {(0, 2): 11.0, (1, 3): 6.0}


def test_topn_stable_equals_stable_sort():
    """The O(k) selection equals a stable (distance, column) sort for
    every p, including exact ties straddling the cutoff and NaN."""
    rng = np.random.default_rng(5)
    D = rng.integers(0, 6, size=(400, 12)).astype(np.float64)  # dense ties
    D[::7, 3] = np.nan
    full = np.argsort(D, axis=1, kind="stable")
    for p in range(0, 14):
        assert np.array_equal(pyudf.topn_stable(D, p), full[:, :p]), p


def test_topn_cells_null_and_ragged_vectors_emit_null():
    cells = pyudf.make_topn_cells_udf(
        np.eye(3), [10, 20, 30], 2
    ).func(pd.Series([None, np.array([0.0, 1.0]), np.array([0.0, 0.0, 1.0], np.float32)]))
    assert cells[0] is None and cells[1] is None
    assert list(cells[2]) == [30, 10]


@pytest.mark.parametrize("n_bands,bits", [(1, 8), (8, 6)])
def test_srp_signatures_null_and_ragged_vectors_emit_null(spark, n_bands, bits):
    """A NULL vector or one whose length is not the plane dim gets a
    NULL signature array — never bucket 0, never a task crash — so
    posexplode drops it and it is not indexed; valid rows in the same
    batch are signed as usual."""
    bands = similarity.srp_bands(n_bands, bits, 64, 43)
    rng = np.random.default_rng(3)
    good = [[float(x) for x in rng.standard_normal(64)] for _ in range(2)]
    df = spark.createDataFrame(
        [(0, good[0]), (1, None), (2, good[1][:63]), (3, good[1])],
        "id long, v array<double>",
    )
    sigs = df.select("id", similarity.srp_signature_array(F.col("v"), bands).alias("s"))
    got = {r["id"]: r["s"] for r in sigs.collect()}
    assert got[1] is None and got[2] is None
    for i, v in ((0, good[0]), (3, good[1])):
        want = [
            sum(1 << b for b, p in enumerate(band) if _fold_dot(v, p) >= 0) for band in bands
        ]
        assert list(got[i]) == want
    indexed = sigs.select("id", F.posexplode("s")).select("id").distinct().collect()
    assert sorted(r["id"] for r in indexed) == [0, 3]
    first = df.select("id", similarity.srp_signature_array(F.col("v"), bands)[0].alias("b"))
    assert {r["id"] for r in first.collect() if r["b"] is None} == {1, 2}


def test_materialize_sink_backed_roundtrip(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CKPT_DIR switches materialize() to a parquet
    round-trip: values unchanged, lineage cut (plan reads the sink),
    release() deletes the directory."""
    import os

    from projet_graphdb_spark.functions import materialize as M

    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path))
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = M.materialize(df)
    assert sorted(r.x for r in out.collect()) == sorted(
        r.x for r in df.collect()
    )
    h = M.handle(out)
    assert isinstance(h, str) and os.path.isdir(h)
    assert "parquet" in out._jdf.queryExecution().executedPlan().toString().lower()
    M.release(h)
    assert not os.path.exists(h)


def test_materialize_default_is_local_checkpoint(spark, monkeypatch):
    """Unset, materialize() is localCheckpoint: the handle is the
    checkpoint's RDD, and release() unpersists it."""
    from projet_graphdb_spark.functions import materialize as M

    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR", raising=False)
    out = M.materialize(spark.range(10))
    assert out.count() == 10
    h = M.handle(out)
    assert not isinstance(h, str) and h.getStorageLevel().useMemory()
    assert "ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()
    M.release(h)
    assert not h.getStorageLevel().useMemory()


def test_connected_components_sink_backed(spark, tmp_path, monkeypatch):
    """The iterative rotation works end-to-end in sink-backed mode and
    matches the default mode's labels."""
    from projet_graphdb_spark.functions.graph_algos import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12), (3, 4)], "src long, dst long"
    )
    want = sorted(map(tuple, connected_components(edges).collect()))
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path))
    got = sorted(map(tuple, connected_components(edges).collect()))
    assert got == want


def test_quality_filter_rejects_verdict_name_clash(spark):
    from projet_graphdb_spark.functions.text import quality_filter

    docs = spark.createDataFrame(
        [(1, "some text here", True)], "doc_id long, text string, keep boolean"
    )
    with pytest.raises(ValueError, match="keep"):
        quality_filter(docs, keep_input_cols=True)
    # without keep_input_cols the verdict projection drops input cols —
    # no ambiguity, no raise
    assert quality_filter(docs).columns[0] == "doc_id"


def test_shingle_frame_hash_fn_fold_matches_two_pass(spark):
    """shingle_frame(hash_fn=) must produce exactly the hashed arrays
    the old two-pass (shingle checkpoint, then transform) produced."""
    from projet_graphdb_spark.functions.dedup import (
        _hash_fn,
        shingle_frame,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z"), (3, ""), (4, "a b c d e f")],
        "doc_id long, text string",
    )
    for h in ("xxhash64", "md5"):
        fused = shingle_frame(docs, 3, "doc_id", "text", hash_fn=_hash_fn(h))
        two_pass = shingle_frame(docs, 3, "doc_id", "text").select(
            "doc_id",
            F.transform(F.col("_sh"), lambda s: _hash_fn(h)(s)).alias("_sh"),
        )
        got = {r.doc_id: sorted(r._sh) for r in fused.collect()}
        want = {r.doc_id: sorted(r._sh) for r in two_pass.collect()}
        assert got == want


def test_validate_lsh_index_config_hoisted(spark):
    """validate_lsh_index_config raises on mismatch; incremental call
    with validate_index=False skips the check (streaming hoists it)."""
    from projet_graphdb_spark.functions import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string"
    )
    idx = dedup.lsh_band_index(docs, hash="md5")
    dedup.validate_lsh_index_config(idx, 32, 8, 3, "md5")  # ok
    with pytest.raises(ValueError, match="built with"):
        dedup.validate_lsh_index_config(idx, 32, 8, 3, "xxhash64")


def test_srp_index_validate_flag(spark):
    """validate_index=False must skip the config job but produce the
    same pairs; validate_srp_index_config still rejects mismatches."""
    import numpy as np

    from projet_graphdb_spark.functions import pyudf, similarity

    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    rows = []
    for i in range(40):  # pairs of near-identical vectors → real dups
        v = base + rng.standard_normal(8) * (0.01 if i % 2 else 1.0)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = emb.where("vec_id < 30")
    shard = emb.where("vec_id >= 30")
    idx = similarity.srp_band_index(corpus, n_bands=4, bits=4, dim=8, seed=7)
    kw = dict(n_bands=4, bits=4, dim=8, seed=7, index=idx)
    want = sorted(map(tuple, similarity.incremental_srp_dups(
        corpus, shard, 0.8, **kw).collect()))
    got = sorted(map(tuple, similarity.incremental_srp_dups(
        corpus, shard, 0.8, validate_index=False, **kw).collect()))
    assert got == want
    with pytest.raises(ValueError, match="built with"):
        similarity.validate_srp_index_config(idx, 4, 4, 8, seed=99)


def test_hamming_validated_layout_passthrough(spark):
    """incremental_dhash_dups(validated_layout=(layout,)) must match
    the self-validating call exactly."""
    from projet_graphdb_spark.functions import multimodal
    from projet_graphdb_spark.functions.dedup import _validate_hamming_index

    corpus = spark.createDataFrame(
        [(2 * i, ("pix" * 40 + str(i)).encode()) for i in range(20)],
        "media_id long, payload binary",
    )
    shard = spark.createDataFrame(
        [(2 * i + 1, ("pix" * 40 + str(i)).encode()) for i in range(5)],
        "media_id long, payload binary",
    )
    idx = multimodal.dhash_band_index(corpus, bands=4)
    want = sorted(map(tuple, multimodal.incremental_dhash_dups(
        shard, idx, bands=4).collect()))
    layout = _validate_hamming_index(idx, 64, 4, "test")
    got = sorted(map(tuple, multimodal.incremental_dhash_dups(
        shard, idx, bands=4, validated_layout=(layout,)).collect()))
    assert got == want
