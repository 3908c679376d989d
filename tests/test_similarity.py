"""Similarity search: brute-force kNN vs numpy, LSH recall, cosine dups."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from projet_graphdb_spark.functions import similarity

from conftest import SF_SMALL, SF_TINY


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def np_knn(ids, mat, qid, k):
    qi = np.where(ids == qid)[0][0]
    sims = mat @ mat[qi] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[qi]))
    order = sorted(
        [(s, i) for s, i in zip(sims, ids) if i != qid], key=lambda t: (-t[0], t[1])
    )
    return [i for _, i in order[:k]]


def test_knn_bruteforce_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    out = similarity.knn_bruteforce(emb, query_ids=[0, 7, 42], k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbour_id"]))
    for qid in (0, 7, 42):
        expect = np_knn(ids, mat, qid, 5)
        assert [n for _, n in sorted(got[qid])] == expect


def test_knn_lsh_recall(spark, emb, emb_np):
    ids, mat = emb_np
    rng = np.random.default_rng(7)
    planes = rng.standard_normal((6, mat.shape[1])).tolist()
    out = similarity.knn_lsh(emb, query_ids=[0, 7, 42], planes=planes, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbour_id"])
    # bucketed search returns SOME rows and every result is a real vector id
    assert got and all(len(v) <= 5 for v in got.values())
    id_set = set(ids.tolist())
    assert all(n in id_set for v in got.values() for n in v)


def test_cosine_dups_threshold_and_order(spark, emb, emb_np):
    ids, mat = emb_np
    out = similarity.embedding_cosine_dups(emb, threshold=0.3).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    idx = {i: k for k, i in enumerate(ids)}
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert labels[r["id_a"]] == labels[r["id_b"]]
        exact = float(norm[idx[r["id_a"]]] @ norm[idx[r["id_b"]]])
        assert abs(exact - r["sim"]) < 1e-4
        assert r["sim"] >= 0.3


def test_ann_recall_arithmetic(spark):
    from projet_graphdb_spark.functions.similarity import ann_recall

    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 4), (1, 5)], "query_id long, neighbour_id long"
    )
    approx = spark.createDataFrame(
        [(0, 2), (0, 3), (0, 9), (1, 7)], "query_id long, neighbour_id long"
    )
    got = {r["query_id"]: r for r in ann_recall(exact, approx).collect()}
    assert got[0]["n_exact"] == 3 and got[0]["n_hit"] == 2
    assert abs(got[0]["recall"] - 2 / 3) < 1e-12
    assert got[1]["n_exact"] == 2 and got[1]["n_hit"] == 0 and got[1]["recall"] == 0.0


def test_knn_rerank_improves_on_quantized_order(spark):
    from projet_graphdb_spark.functions.similarity import (
        knn_bruteforce,
        knn_rerank,
    )

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    qids = [0, 1, 2]
    exact = knn_bruteforce(emb, query_ids=qids, k=5)
    rr = knn_rerank(emb, query_ids=qids, k=5, coarse_m=50)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbour_id"])
    got = {}
    for r in rr.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbour_id"])
    # with a 50-candidate pool on 500 vectors the exact re-rank should
    # recover essentially the exact top-5
    recalls = [len(ex[q] & got[q]) / 5 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_lsh_cosine_dups_recall_and_exactness(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    # 3 clusters of near-identical vectors + noise singletons
    base = rng.standard_normal((3, 8))
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(3):
            v = base[c] + rng.standard_normal(8) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(10):
        rows.append((vid, [float(x) for x in rng.standard_normal(8)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bands = [
        [[float(x) for x in row] for row in rng.standard_normal((4, 8))]
        for _ in range(6)
    ]
    got = similarity.lsh_cosine_dups(emb, bands=bands, threshold=0.99).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # every emitted pair is truly >= threshold (exact verify) and in-cluster
    for a, b in pairs:
        assert a // 3 == b // 3 and a < 9 and b < 9
    # near-identical vectors agree on every SRP bit with overwhelming
    # probability -> all 9 in-cluster pairs found with 6 bands
    assert len(pairs) == 9
    # determinism
    again = {(r["id_a"], r["id_b"]) for r in similarity.lsh_cosine_dups(
        emb, bands=bands, threshold=0.99).collect()}
    assert again == pairs


def test_embedding_dup_clusters_manifest(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((2, 8))
    rows = []
    vid = 0
    for c in range(2):
        for _ in range(3):
            v = base[c] + rng.standard_normal(8) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    rows.append((vid, [float(x) for x in rng.standard_normal(8)]))  # singleton
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bands = [
        [[float(x) for x in row] for row in rng.standard_normal((4, 8))]
        for _ in range(6)
    ]
    got = {r["vec_id"]: (r["cluster_id"], r["keep"])
           for r in similarity.embedding_dup_clusters(emb, bands=bands, threshold=0.99).collect()}
    assert got[0] == (0, True) and got[1] == (0, False) and got[2] == (0, False)
    assert got[3] == (3, True) and got[4] == (3, False) and got[5] == (3, False)
    assert got[6] == (6, True)  # singleton keeps itself


def test_knn_ivf_trained_probes_cells(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    # two well-separated blobs; queries in blob 0 must find blob-0 mates
    rows = []
    for i in range(10):
        v = rng.standard_normal(8) * 0.05 + (5.0 if i >= 5 else -5.0)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_ivf_trained(
        emb, query_ids=[0, 6], n_centroids=2, num_iter=2, nprobe=1, k=3
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["neighbour_id"])
    # nprobe=1 on separated blobs -> neighbours stay in the query's blob
    assert by_q[0] <= {1, 2, 3, 4} and len(by_q[0]) == 3
    assert by_q[6] <= {5, 7, 8, 9} and len(by_q[6]) == 3


def test_knn_pq_adc_prefers_same_cluster(spark):
    # two well-separated clusters in 8-d; PQ with 2 subspaces / 2 codes
    # per subspace must rank same-cluster vectors above the other cluster
    rows = []
    for i in range(6):
        base = [10.0] * 8 if i % 2 == 0 else [-10.0] * 8
        rows.append((i, [v + (i * 0.01) for v in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_pq_adc(
        emb, query_ids=[0, 1], k=2, m=2, ksub=2, dim=8
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbour_id"])
    assert all(n % 2 == 0 for n in by_q[0])  # even cluster
    assert all(n % 2 == 1 for n in by_q[1])  # odd cluster
    assert all(len(v) == 2 for v in by_q.values())


def test_knn_ivfpq_subset_of_pq_candidates(spark):
    # IVF-PQ = flat PQ restricted to probed cells: every (query,
    # neighbour, adc_dist) it returns must carry the same ADC distance
    # the flat PQ scan assigns to that pair
    rows = []
    for i in range(12):
        base = [10.0] * 8 if i % 2 == 0 else [-10.0] * 8
        rows.append((i, [v + (i * 0.01) for v in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    flat = {
        (r["query_id"], r["neighbour_id"]): r["adc_dist"]
        for r in similarity.knn_pq_adc(
            emb, query_ids=[0, 1], k=11, m=2, ksub=2, dim=8
        ).collect()
    }
    ivfpq = similarity.knn_ivfpq(
        emb, query_ids=[0, 1], n_cells=2, nprobe=1, k=3, m=2, ksub=2, dim=8
    ).collect()
    assert len(ivfpq) == 6
    for r in ivfpq:
        assert flat[(r["query_id"], r["neighbour_id"])] == r["adc_dist"]
        # nprobe=1 on two clean clusters → candidates stay in-cluster
        assert r["neighbour_id"] % 2 == r["query_id"] % 2


def test_matryoshka_recall_full_dim_is_one(spark):
    import random

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.matryoshka_recall(
        emb, query_ids=[0, 1], dims=(8, 2), k=3
    ).collect()
    by_dim = {}
    for r in out:
        by_dim.setdefault(r["dims"], []).append(r["recall"])
    # truncating to the FULL dimension must reproduce ground truth
    assert all(v == 1.0 for v in by_dim[8])
    # 2-dim recall is defined and bounded
    assert all(0.0 <= v <= 1.0 for v in by_dim[2])
    assert len(out) == 4


def test_mmr_prefers_diverse_second_pick(spark):
    # query 0 = [1,0]; candidates 1 and 2 are EXACT duplicates (cosine 1
    # → full redundancy penalty); 3 is less relevant but diverse.
    # Plain top-2 = {1, 2}; MMR with λ=0.5 picks 3 second.
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.05]),
        (2, [1.0, 0.05]),
        (3, [0.8, -0.6]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["pick"]: r for r in
           similarity.mmr_topk(emb, query_ids=[0], k_pick=3, n_cand=10,
                               lam=0.5).collect()}
    assert out[1]["vec_id"] == 1               # most relevant first
    assert out[2]["vec_id"] == 3               # diversity beats near-dup
    assert out[3]["vec_id"] == 2
    assert out[1]["mmr_score"] == out[1]["relevance"]
    assert out[2]["mmr_score"] < out[2]["relevance"]  # penalty applied


def test_mmr_matches_numpy_greedy(spark, emb, emb_np):
    ids, mat = emb_np
    lam, n_cand, k_pick = 0.7, 10, 3
    got = {}
    for r in similarity.mmr_topk(emb, query_ids=[0, 1], k_pick=k_pick,
                                 n_cand=n_cand, lam=lam).collect():
        got.setdefault(r["query_id"], []).append((r["pick"], r["vec_id"]))
    norms = np.linalg.norm(mat, axis=1)
    for qid in (0, 1):
        qi = np.where(ids == qid)[0][0]
        sims = mat @ mat[qi] / (norms * norms[qi])
        cand = sorted([(s, i) for s, i in zip(sims, ids) if i != qid],
                      key=lambda t: (-t[0], t[1]))[:n_cand]
        cidx = [np.where(ids == i)[0][0] for _, i in cand]
        picked = []
        for step in range(k_pick):
            if not picked:
                best = 0
            else:
                scores = []
                for j, ci in enumerate(cidx):
                    if j in picked:
                        scores.append((-np.inf, ids[ci]))
                        continue
                    pen = max((mat[ci] @ mat[cidx[p]]) / (norms[ci] * norms[cidx[p]])
                              for p in picked)
                    scores.append((lam * cand[j][0] - (1 - lam) * pen, ids[ci]))
                best = min(range(len(scores)),
                           key=lambda j: (-scores[j][0], scores[j][1]))
            picked.append(best)
        expect = [(s + 1, int(ids[cidx[b]])) for s, b in enumerate(picked)]
        assert sorted(got[qid]) == sorted(expect), qid


def test_knn_hamming_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    got = {}
    for r in similarity.knn_hamming(emb, query_ids=[0, 3], k=5).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbour_id"], r["hamming"])
        )
    bits = (mat >= 0).astype(int)
    for qid in (0, 3):
        qi = np.where(ids == qid)[0][0]
        hd = [(int((bits[i] != bits[qi]).sum()), int(ids[i]))
              for i in range(len(ids)) if ids[i] != qid]
        expect = sorted(hd)[:5]
        expect = [(r + 1, nid, h) for r, (h, nid) in enumerate(expect)]
        assert sorted(got[qid]) == expect, qid


def test_srp_auto_bits_scales_with_corpus():
    """The N-derived law: two corpus sizes an order apart must choose
    DIFFERENT bits (a fixed constant is exactly the s9 rehearsal bug),
    occupancy N/2^bits must stay near target, and clamps must hold."""
    lo = similarity.srp_auto_bits(5_000)
    hi = similarity.srp_auto_bits(50_000)
    assert lo < hi, (lo, hi)
    for n in (5_000, 50_000, 5_000_000):
        bits = similarity.srp_auto_bits(n)
        assert n / 2**bits <= 64, (n, bits)  # expected occupancy <= target
    assert similarity.srp_auto_bits(10) == 4          # floor clamp
    assert similarity.srp_auto_bits(10**12) == 24     # ceiling clamp


def test_srp_auto_n_bands_holds_recall():
    """Round-7 advice: n_bands must scale WITH bits so recall at the
    threshold does not collapse (fixed 8 bands = ~0.31 recall at 20
    bits / threshold 0.9).  The law must hold >= target recall at every
    uncapped point, cap at 64, and the achieved-recall helper must
    agree with a hand S-curve."""
    import math

    thr, target = 0.9, 0.95
    for bits in (4, 6, 8, 10, 12, 14):
        nb = similarity.srp_auto_n_bands(bits, thr, target)
        got = similarity.srp_recall(thr, bits, nb)
        if nb < 64:  # uncapped → the target is met, not overshot wildly
            assert got >= target, (bits, nb, got)
            assert similarity.srp_recall(thr, bits, nb - 1) < target or nb == 2
        # monotone: more bits never needs fewer bands
    nbs = [similarity.srp_auto_n_bands(b, thr) for b in range(4, 22)]
    assert nbs == sorted(nbs)
    # low threshold × high bits: cap binds instead of exploding
    assert similarity.srp_auto_n_bands(14, 0.4) == 64
    # recall helper matches the closed form
    p = 1 - math.acos(0.9) / math.pi
    assert abs(similarity.srp_recall(0.9, 6, 8) - (1 - (1 - p**6) ** 8)) < 1e-12


def test_lsh_cosine_dups_auto_bands_matches_explicit(spark, emb):
    """bands=None derives (N, dim) from the corpus and must equal the
    explicitly constructed srp_auto_bands run — same seeded planes."""
    n = emb.count()
    dim = emb.select(F.size("embedding")).first()[0]
    auto = similarity.lsh_cosine_dups(emb, threshold=0.3)
    explicit = similarity.lsh_cosine_dups(
        emb, bands=similarity.srp_auto_bands(n, dim, threshold=0.3),
        threshold=0.3,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def _fold_signatures(mat, bands):
    """SRP signatures from a left-to-right f64 fold of each dot (the
    oracles' summation order): bit i of band j is set iff the fold of
    ``vec · bands[j][i]`` is >= 0."""
    sigs = []
    for band in bands:
        P = np.asarray(band, dtype=np.float64)
        dots = np.cumsum(mat[:, None, :] * P[None, :, :], axis=2)[:, :, -1]
        sigs.append(((dots >= 0) * (1 << np.arange(len(band)))).sum(axis=1))
    return np.stack(sigs, axis=1)


def _seed42_planes():
    """s3/s7's single band: 8 planes from ``default_rng(42)``."""
    return [list(r) for r in np.random.default_rng(42).standard_normal((8, 64))]


@pytest.mark.parametrize(
    "bands",
    [
        pytest.param([_seed42_planes()], id="s3_seed42_8"),
        pytest.param(similarity.srp_auto_bands(500, 64, threshold=0.9), id="auto_500_4x4"),
        pytest.param(similarity.srp_bands(8, 6, 64, 43), id="pinned_8x6_seed43"),
        pytest.param(similarity.srp_bands(20, 5, 64, 7), id="20x5_seed7"),
    ],
)
def test_srp_signature_array_matches_numpy_fold(spark, emb, emb_np, bands):
    """The Arrow matmul UDF signs every construction exactly as a
    left-to-right fold of each dot would (the oracles' order): the
    fixture's projections sit far outside the summation-order drift."""
    ids, mat = emb_np
    got = dict(
        emb.select(
            "vec_id", similarity.srp_signature_array(F.col("embedding"), bands).alias("s")
        ).collect()
    )
    want = _fold_signatures(mat, bands)
    assert {i: list(got[i]) for i in ids} == {i: list(w) for i, w in zip(ids, want)}


def _ivf_frame(spark, codebook, corpus):
    """(vec_id, embedding) with ids 0.. for the codebook rows, then the
    corpus rows; every value is exact in float32."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(list(codebook) + list(corpus))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_ivf_scaled_duplicate_centroid_loses_to_smaller_cid(spark, monkeypatch):
    """A codebook vector that is an exact 2x copy of another normalizes
    to a bitwise-equal unit vector: every vector in that direction ties
    between the two cells and goes to the smaller cid, so the group is
    never split and a query's probes are [0, 1]."""
    from projet_graphdb_spark.functions import clustering

    seen = {}
    real = clustering.topn_cells

    def spy(vec, cents, *a, **kw):
        seen["cents"] = cents
        seen["cells"] = real(vec, cents, *a, **kw)
        return seen["cells"]

    monkeypatch.setattr(clustering, "topn_cells", spy)
    c0 = np.array([0.5, 0.25, 0.125, 0.75])
    codebook = [c0, 2 * c0, [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    corpus = [c0 + 0.0625 * np.eye(4)[i % 4] for i in range(8)] + [[0.0, 0.0, 1.0, 0.25]]
    df = _ivf_frame(spark, codebook, corpus)
    out = similarity.knn_ivf(df, query_ids=[4], n_centroids=4, nprobe=2, k=20)
    assert seen["cents"][1].tobytes() == seen["cents"][0].tobytes()
    cells = {
        r["vec_id"]: list(r["_cells"])
        for r in df.select("vec_id", seen["cells"].alias("_cells")).collect()
    }
    for i in [0, 1, *range(4, 12)]:
        assert cells[i] == [0, 1], (i, cells[i])
    assert {r["neighbour_id"] for r in out.collect()} == {0, 1, *range(5, 12)}


def test_knn_ivf_zero_norm_codebook_vector_raises(spark):
    """A zero-norm centroid has no direction: knn_ivf names its cid in a
    ValueError while building the frame, before any corpus job runs."""
    df = _ivf_frame(spark, [[1.0, 0.0], [0.0, 0.0], [0.0, 1.0]], [[1.0, 1.0]])
    with pytest.raises(ValueError, match="codebook vector 1 "):
        similarity.knn_ivf(df, query_ids=[3], n_centroids=3, nprobe=1, k=2)


def test_knn_ivf_zero_norm_corpus_vector_divides_like_bruteforce(spark):
    """A zero-norm corpus vector is not special-cased: like every cosine
    operator here, the candidate score divides by its norm, which ANSI
    mode rejects (it ties into cell 0, the query's cell)."""
    df = _ivf_frame(spark, [[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.25], [0.0, 0.0]])
    for out in (
        similarity.knn_ivf(df, query_ids=[2], n_centroids=2, nprobe=1, k=3),
        similarity.knn_bruteforce(df, query_ids=[2], k=3),
    ):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            out.collect()


def test_lsh_cosine_dups_large_band_count_runs(spark, emb):
    """A large auto-tuned construction runs end-to-end through the
    posexplode candidate path: every emitted pair is verified-exact at
    the threshold, ids ordered."""
    bands = similarity.srp_bands(n_bands=20, bits=5, dim=64, seed=7)
    got = similarity.lsh_cosine_dups(emb, bands=bands, threshold=0.3).collect()
    for r in got:
        assert r["id_a"] < r["id_b"]
        assert r["sim"] >= 0.3


def _truth_pairs(ids, mat, threshold):
    Vn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    S = Vn @ Vn.T
    iu = np.triu_indices(len(ids), 1)
    keep = S[iu] >= threshold
    return {
        (min(a, b), max(a, b))
        for a, b in zip(ids[iu[0][keep]], ids[iu[1][keep]])
    }


def test_ivf_cosine_dups_exact_precision_and_recall(spark, emb, emb_np):
    """Every emitted pair is verified-exact at the threshold (precision
    1 by construction); recall vs the brute-force ground truth beats
    the pinned 8x6 LSH construction on this corpus (measured: IVF 0.85
    vs LSH 0.41 at threshold 0.4 — data-adaptive cells vs random
    hyperplanes)."""
    ids, mat = emb_np
    truth = _truth_pairs(ids, mat, 0.4)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.ivf_cosine_dups(
            emb, threshold=0.4, n_centroids=8, nprobe=2
        ).collect()
    }
    assert got <= truth  # exact verification: zero false positives
    assert len(got & truth) / len(truth) >= 0.7


def _fold_dups(spark, ids, mat, cells, threshold, chunk=200_000):
    """Numpy reference for the IVF verify: every pair sharing a cell in
    ``cells`` (one id list per cell), ``sim = seq_rowdot / (na·nb)`` with
    the fold's norms, filtered at ``threshold`` and rounded by Spark's
    own ``round``.  Returns sorted (id_a, id_b, sim) tuples."""
    from projet_graphdb_spark.functions.pyudf import seq_rowdot

    ids = np.asarray(ids)
    pos = {int(v): i for i, v in enumerate(ids)}
    V = np.asarray(mat, dtype=np.float64)
    norms = np.sqrt(seq_rowdot(V, V))
    keys = []
    for members in cells:
        m = np.array([pos[int(v)] for v in members], dtype=np.int64)
        i, j = np.triu_indices(len(m), 1)
        a, b = m[i], m[j]
        lo = ids[a] < ids[b]
        keys.append(np.where(lo, a, b) * len(ids) + np.where(lo, b, a))
    cand = np.unique(np.concatenate(keys))  # a pair sharing 2 cells counts once
    out = []
    for s in range(0, len(cand), chunk):
        ia, ib = np.divmod(cand[s : s + chunk], len(ids))
        sim = seq_rowdot(V[ia], V[ib]) / (norms[ia] * norms[ib])
        keep = sim >= threshold
        out += [
            (int(ids[a]), int(ids[b]), float(x))
            for a, b, x in zip(ia[keep], ib[keep], sim[keep])
        ]
    ref = spark.createDataFrame(out, "id_a long, id_b long, sim double")
    return sorted(tuple(r) for r in ref.select("id_a", "id_b", F.round("sim", 6)).collect())


def _vec_frame(spark, vectors):
    return spark.createDataFrame(
        list(enumerate(vectors)), "vec_id long, embedding array<float>"
    )


def _ivf_rows(df, **kw):
    return sorted(tuple(r) for r in similarity.ivf_cosine_dups(df, **kw).collect())


@pytest.mark.parametrize("threshold", [0.1, 0.4])
def test_ivf_cosine_dups_matches_fold_reference(spark, emb, emb_np, threshold):
    """The cell-local verify emits exactly the pairs and doubles of the
    fold reference over the same cells, at every probe width."""
    from projet_graphdb_spark.functions import clustering

    ids, mat = emb_np
    corp = emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, len(ids), n_centroids=8, num_iter=2)
    for nprobe in (1, 2, 4):
        assigned = clustering.assign_topn(corp, cents, nprobe=nprobe, vec_col="_v")
        cells = {}
        for r in assigned.select("_vid", "_cells").collect():
            for c in r["_cells"]:
                cells.setdefault(c, []).append(r["_vid"])
        want = _fold_dups(spark, ids, mat, cells.values(), threshold)
        got = _ivf_rows(emb, threshold=threshold, nprobe=nprobe, centroids=cents)
        assert got == want and got, nprobe


def test_ivf_cosine_dups_identical_vectors_at_threshold_one(spark):
    """Identical vectors have fold cosine exactly 1.0: the bound is
    inclusive, and the BLAS prefilter's slack keeps the pair."""
    df = _vec_frame(spark, [[3.0, 4.0], [3.0, 4.0], [4.0, 3.0]])
    got = _ivf_rows(df, threshold=1.0, centroids={0: [1.0, 1.0]}, nprobe=1)
    assert got == [(0, 1, 1.0)]


def test_ivf_cosine_dups_pair_exactly_at_threshold(spark):
    """A threshold equal to a pair's fold cosine emits it; the next
    double up does not — the exact filter, not the BLAS prefilter,
    decides."""
    from projet_graphdb_spark.functions.pyudf import seq_rowdot

    rng = np.random.default_rng(5)
    a = rng.standard_normal(64).astype(np.float32)
    b = (a + 0.3 * rng.standard_normal(64)).astype(np.float32)
    V = np.vstack([a, b]).astype(np.float64)
    na, nb = np.sqrt(seq_rowdot(V, V))
    sim = float(seq_rowdot(V[:1], V[1:])[0] / (na * nb))
    df = _vec_frame(spark, [a.tolist(), b.tolist()])
    cents = {0: [0.0] * 64}
    assert [r[:2] for r in _ivf_rows(df, threshold=sim, centroids=cents, nprobe=1)] == [(0, 1)]
    assert _ivf_rows(df, threshold=float(np.nextafter(sim, 2.0)), centroids=cents, nprobe=1) == []


def test_ivf_cosine_dups_drops_null_and_nan_vectors(spark):
    """A NULL vector, a NaN element and a NULL element get no cell, so
    none of them is verified; the clean pair is emitted."""
    from projet_graphdb_spark.functions import clustering

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, None), (3, [1.0, float("nan")]), (4, [1.0, None])],
        "vec_id long, embedding array<float>",
    )
    cells = clustering.assign_topn(df, {0: [1.0, 0.0]}, vec_col="embedding").collect()
    assert {r["vec_id"] for r in cells if r["_cells"] is None} == {2, 3, 4}
    got = _ivf_rows(df, threshold=0.4, centroids={0: [1.0, 0.0]}, nprobe=1)
    assert [r[:2] for r in got] == [(0, 1)]


def test_ivf_cosine_dups_zero_norm_vector_raises(spark):
    """A zero vector sharing a probed cell divides by a zero norm
    product: ANSI mode raises, as the pair-join verify always did."""
    df = _vec_frame(spark, [[1.0, 0.0], [0.0, 0.0]])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.ivf_cosine_dups(df, centroids={0: [1.0, 0.0]}, nprobe=1).collect()


def test_ivf_cosine_dups_pair_sharing_two_cells_emitted_once(spark):
    """Caller-supplied soft assignment: a pair sharing two cells is
    verified in both and emitted once."""
    df = _vec_frame(spark, [[1.0, 0.0], [1.0, 0.1], [0.0, 1.0]])
    cells = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 1)], "_vid long, _cell long"
    )
    got = _ivf_rows(df, threshold=0.4, assigned_cells=cells)
    assert [r[:2] for r in got] == [(0, 1)]


def test_ivf_cosine_dups_one_cell_spans_row_blocks(spark):
    """One centroid puts 2,100 vectors in one cell, so the BLAS
    prefilter runs in more than one row block: pairs across the block
    boundary still equal the fold reference."""
    rng = np.random.default_rng(17)
    mat = rng.standard_normal((2100, 16)).astype(np.float32)
    mat[1::7] = mat[::7][: len(mat[1::7])] + np.float32(0.05)  # planted near-copies
    df = _vec_frame(spark, mat.tolist())
    got = _ivf_rows(df, threshold=0.6, centroids={0: [0.0] * 16}, nprobe=1)
    want = _fold_dups(spark, np.arange(2100), mat, [list(range(2100))], 0.6)
    assert got == want
    assert any(a < 1904 <= b for a, b, _ in got)  # crosses the first block


def test_ivf_cosine_dups_plan_is_cell_local(spark, emb, monkeypatch):
    """The own-route IVF plan verifies inside cells: one blocked
    ``mapInPandas`` pass and no grouped map, no join keyed on ``_cell``,
    and no lineage barrier (k-means trains from one driver-side collect)."""
    calls = _spy_materialize(monkeypatch)
    out = similarity.ivf_cosine_dups(emb, threshold=0.4, n_centroids=8, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "FlatMapGroupsInPandas" not in plan
    assert not [l for l in plan.splitlines() if "Join" in l and "_cell" in l]
    assert len(calls) == 0


def _spy_materialize(monkeypatch) -> list:
    """Counts every ``materialize`` call, in each engine module that
    imports it."""
    import sys

    from projet_graphdb_spark.functions.materialize import materialize as real

    calls = []

    def wrapped(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    for name, mod in list(sys.modules.items()):
        if name.startswith("projet_graphdb_spark") and getattr(mod, "materialize", None) is real:
            monkeypatch.setattr(mod, "materialize", wrapped)
    return calls


def _jobs_in(spark, fn):
    """(fn's result, the number of Spark jobs it submitted)."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("max_train_rows", [200_000, 100], ids=["whole", "sampled"])
def test_codebook_training_is_one_job(spark, emb, monkeypatch, max_train_rows):
    """``ivf_train`` and ``imi_train`` (``dim`` given) each collect
    their training sample in one Spark job and train on the driver,
    with no lineage barrier."""
    corp = emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    n = emb.count()
    calls = _spy_materialize(monkeypatch)
    cents, jobs = _jobs_in(spark, lambda: similarity.ivf_train(
        corp, n, n_centroids=8, num_iter=3, max_train_rows=max_train_rows))
    assert (len(cents), jobs) == (8, 1)
    (c1, c2), jobs = _jobs_in(spark, lambda: similarity.imi_train(
        corp, n, k1=4, k2=4, num_iter=2, dim=64, max_train_rows=max_train_rows))
    assert (len(c1), len(c2), jobs) == (4, 4, 1)
    assert calls == []


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _verified_pairs(pairs, threshold):
    """The deleted pair-join verify tail: ``pair_dot`` over (id_a, _va,
    _na, id_b, _vb, _nb) candidate rows, filtered at the unrounded
    threshold."""
    sim = similarity._pair_sim(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    return _sorted_rows(
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def _side(tag):
    return [F.col("_vid").alias(f"id_{tag}"), F.col("_v").alias(f"_v{tag}"), F.col("_n").alias(f"_n{tag}")]


def _base(emb, *extra):
    return emb.select(
        *extra,
        F.col("vec_id").alias("_vid"),
        F.col("embedding").alias("_v"),
        similarity.l2norm(F.col("embedding")).alias("_n"),
    )


def _band_join_dups(emb, bands, threshold):
    """Reference: LSH as it was verified before the blocked kernel — a
    band self-join, ``distinct`` candidate pairs, two id-keyed vector
    joins and ``pair_dot``."""
    base = _base(emb)
    cand = base.select(
        "_vid", F.posexplode(similarity.srp_signature_array(F.col("_v"), bands)).alias("_band", "_sig")
    )
    a = cand.select("_band", "_sig", F.col("_vid").alias("id_a"))
    b = cand.select("_band", "_sig", F.col("_vid").alias("id_b"))
    pairs = a.join(b, ["_band", "_sig"]).where("id_a < id_b").select("id_a", "id_b").distinct()
    pairs = pairs.join(base.select(*_side("a")), "id_a").join(base.select(*_side("b")), "id_b")
    return _verified_pairs(pairs, threshold)


def _salted_join_dups(emb, threshold, salts=4):
    """Reference: label-blocked exact as it was verified before the
    blocked kernel — a self-join on (block, salt) and ``pair_dot``."""
    base = _base(emb, F.col("label").alias("_blk"))
    a = base.select("_blk", F.pmod(F.xxhash64("_vid"), F.lit(salts)).alias("_salt"), *_side("a"))
    b = base.select(
        "_blk",
        F.explode(F.sequence(F.lit(0), F.lit(salts - 1)).cast("array<long>")).alias("_salt"),
        *_side("b"),
    )
    return _verified_pairs(a.join(b, ["_blk", "_salt"]).where("id_a < id_b"), threshold)


_S9_BANDS = similarity.srp_bands(8, 6, 64, 43)


@pytest.mark.parametrize("sf", [SF_TINY, SF_SMALL], ids=["sf0.001", "sf0.01"])
def test_blocked_verify_equals_pair_joins(spark, sf):
    """LSH buckets and label blocks verified in one sorted stream emit
    the rows of the pair joins they replaced, bit for bit."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    for t in (0.2, 0.4, 0.9):
        lsh = _sorted_rows(similarity.lsh_cosine_dups(emb, bands=_S9_BANDS, threshold=t))
        assert lsh == _band_join_dups(emb, _S9_BANDS, t), t
        exact = _sorted_rows(similarity.embedding_cosine_dups(emb, threshold=t))
        assert exact == _salted_join_dups(emb, t), t
        assert t == 0.9 or (lsh and exact)


def _dup_frame(emb, op, threshold=0.4):
    if op == "lsh":
        return similarity.lsh_cosine_dups(emb, bands=_S9_BANDS, threshold=threshold)
    if op == "exact":
        return similarity.embedding_cosine_dups(emb, threshold=threshold)
    return similarity.ivf_cosine_dups(emb, threshold=threshold, n_centroids=8, nprobe=2)


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"},
        {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"},
    ],
    ids=["3-row-batches", "aqe-off-3-partitions"],
)
def test_blocked_verify_carry_matches_default(spark, emb, conf):
    """Blocks that straddle Arrow batches are carried whole to the next
    batch, and no carry crosses a partition: both runs equal the
    default-configured one."""
    ops = ("lsh", "exact", "ivf")
    want = {op: _sorted_rows(_dup_frame(emb, op, 0.2)) for op in ops}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = {op: _sorted_rows(_dup_frame(emb, op, 0.2)) for op in ops}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == want and all(want.values())


_NAN = float("nan")


def test_blocked_exact_edge_rows_equal_salted_join(spark):
    """A NULL block key, a NULL vector, a ragged vector inside a block
    and a NaN element are dropped as the salted join dropped them; a
    repeated id keeps the salted join's multiplicity."""
    df = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0, 0.0]),
            (1, 1, [1.0, 0.1, 0.0]),
            (2, None, [1.0, 0.0, 0.0]),  # NULL block key
            (3, 1, None),
            (4, 1, [1.0, 0.0]),  # ragged: never compared inside block 1
            (5, 1, [1.0, _NAN, 0.0]),
            (6, 2, [1.0, 0.0]),
            (7, 2, [1.0, 0.05]),
            (8, 3, [0.0, 1.0]),
            (8, 3, [0.1, 1.0]),  # one id twice in a block
            (9, 3, [0.05, 1.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = _sorted_rows(similarity.embedding_cosine_dups(df, threshold=0.5))
    assert got == _salted_join_dups(df, 0.5)
    assert [r[:2] for r in got] == [(0, 1), (6, 7), (8, 9), (8, 9)]


def test_blocked_lsh_edge_rows_equal_band_join(spark):
    """One all-zero plane puts every finite vector in one bucket: a NULL
    or ragged vector is never indexed, and NaN vectors share a bucket
    whose pair is dropped, exactly as the band join verified them."""
    bands = [[[0.0, 0.0, 0.0]]]
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.1, 0.0]),
            (2, None),
            (3, [1.0, 0.0]),
            (4, [1.0, _NAN, 0.0]),
            (5, [_NAN, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = _sorted_rows(similarity.lsh_cosine_dups(df, bands=bands, threshold=0.5))
    assert got == _band_join_dups(df, bands, 0.5)
    assert [r[:2] for r in got] == [(0, 1)]


@pytest.mark.parametrize("op", ["lsh", "exact"])
def test_blocked_verify_zero_norm_divides_like_pair_join(spark, op):
    """A zero vector sharing a block divides by a zero norm product on
    the JVM: ANSI mode raises, as the pair joins always did."""
    df = spark.createDataFrame(
        [(0, 1, [0.0, 0.0]), (1, 1, [1.0, 0.0])], "vec_id long, label int, embedding array<float>"
    )
    bands = [[[0.0, 0.0]]]  # both vectors in one bucket
    runs = {
        "lsh": (lambda: similarity.lsh_cosine_dups(df, bands=bands).collect(),
                lambda: _band_join_dups(df, bands, 0.9)),
        "exact": (lambda: similarity.embedding_cosine_dups(df).collect(),
                  lambda: _salted_join_dups(df, 0.9)),
    }
    for run in runs[op]:
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            run()


@pytest.mark.parametrize("op", ["lsh", "exact", "ivf"])
def test_dup_operators_plan_is_one_blocked_pass(spark, emb, op):
    """Each batch dup operator verifies in one ``mapInPandas`` pass: no
    pair-keyed join, cartesian product or grouped map, and the Python
    signature or cell UDF runs once per row."""
    plan = _dup_frame(emb, op)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    for node in ("Join", "CartesianProduct", "FlatMapGroupsInPandas"):
        assert node not in plan, plan
    assert plan.count("ArrowEvalPython") == (0 if op == "exact" else 1), plan


def test_lsh_cosine_dups_explicit_bands_jobs(spark, emb, monkeypatch):
    """With explicit bands LSH takes no lineage barrier and submits at
    most 3 jobs: the bucket exchange, the ``distinct`` exchange and the
    result."""
    calls = _spy_materialize(monkeypatch)
    rows, jobs = _jobs_in(spark, lambda: _dup_frame(emb, "lsh").collect())
    assert rows and jobs <= 3, jobs
    assert calls == []


def test_embedding_cosine_dups_takes_no_barrier(spark, emb, monkeypatch):
    """The exact path takes no lineage barrier: its block-size guard
    scans the block column alone (an exchange and a top-1 collect), and
    the verify is the base frame's one consumer."""
    calls = _spy_materialize(monkeypatch)
    frame, build_jobs = _jobs_in(spark, lambda: _dup_frame(emb, "exact"))
    rows, jobs = _jobs_in(spark, frame.collect)
    assert calls == []
    assert rows and build_jobs <= 2 and jobs <= 2, (build_jobs, jobs)


def test_embedding_cosine_dups_guard_reports_largest_block(spark, emb):
    """The guard still raises before any verify job, naming the largest
    block's row count; ``exact_ok=True`` skips it."""
    labelled = emb.withColumn(
        "label", F.when(F.col("vec_id") < 100, F.lit(0)).otherwise(F.col("vec_id"))
    )
    with pytest.raises(ValueError, match=r"block has 100 rows > max_block_rows=64"):
        similarity.embedding_cosine_dups(labelled, max_block_rows=64)
    similarity.embedding_cosine_dups(labelled, max_block_rows=100)
    similarity.embedding_cosine_dups(labelled, max_block_rows=64, exact_ok=True)


def _python_audit():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "python_audit",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "python_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_python_audit_flags_a_udf_in_two_nodes():
    audit = _python_audit()
    plan = "\n".join([
        "Project [id#1L, _cell#9L]",
        "+- Generate explode(pythonUDF0#12), [id#1L], false, [_cell#9L]",
        "   +- ArrowEvalPython [_cells(v#2)#8, f(slice(v#2, 1, 2))#7], [pythonUDF0#12, pythonUDF1#13], 200",
        "      +- *(1) Filter (size(pythonUDF0#11, false) > 0)",
        "         +- ArrowEvalPython [_cells(v#2)#8], [pythonUDF0#11], 200",
        "            :  +- MapInPandas verify(_cell#9L)#20, [id_a#21L], false",
        "            +- ArrowEvalPython [_cells(v#3)#8], [pythonUDF0#14], 200",
    ])
    nodes = audit.python_nodes(plan)
    assert [n for n, _ in nodes] == [
        "ArrowEvalPython", "ArrowEvalPython", "MapInPandas", "ArrowEvalPython"
    ]
    assert nodes[0][1] == ["_cells(v#2)#8", "f(slice(v#2, 1, 2))#7"]
    # the self-join side over re-aliased input v#3 is a different call
    assert audit.double_evaluated(plan) == ["_cells(v#2)#8"]


# every query whose plan used to run a cell, signature or pair UDF twice:
# a filter over the projected UDF column was pushed below the projection
_ONCE_QUERIES = (
    "s3_knn_lsh", "s4_knn_ivf", "s10_knn_ivf_trained", "s11_knn_pq_adc",
    "s12_knn_ivfpq", "s24_imi_cosine_dups", "s26_incremental_ivf_dups",
    "s27_incremental_imi_dups", "s29_routed_incremental_ingest",
    "s30_ivf_index_rebuild", "s35_sized_srp_ingest",
)


def test_python_udfs_evaluate_once_per_plan(spark):
    """One ``ArrowEvalPython`` per UDF call on sf0.001: each vector
    kernel is exploded in the ``select`` that makes it, so Catalyst
    pushes no filter that would evaluate it a second time."""
    import __spark_entry__ as E

    audit = _python_audit()
    doubled = {}
    for name in _ONCE_QUERIES:
        plan = E.queries()[name](spark, SF_TINY)._jdf.queryExecution().executedPlan().toString()
        assert audit.python_nodes(plan), name
        if audit.double_evaluated(plan):
            doubled[name] = audit.double_evaluated(plan)
    assert doubled == {}


def test_incremental_ivf_equals_batch_cross_cut(spark, emb):
    """Under a SHARED frozen codebook, the incremental index-join path
    must produce exactly the shard×corpus subset of the batch
    pipeline's pairs — cell keys are per-vector functions of the
    codebook, so candidates (and verified pairs) coincide."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    inc = {
        (r["new_id"], r["corpus_id"], r["sim"])
        for r in similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2, centroids=cents
        ).collect()
    }
    batch = similarity.ivf_cosine_dups(
        emb, threshold=0.4, nprobe=2, centroids=cents
    ).collect()
    cross = {
        ((r["id_a"], r["id_b"]) if r["id_a"] >= cut else (r["id_b"], r["id_a"]))
        + (r["sim"],)
        for r in batch
        if (r["id_a"] >= cut) != (r["id_b"] >= cut)
    }
    assert inc == cross and inc  # nonempty on the dup-seeded fixture


def test_incremental_ivf_index_roundtrip(spark, emb, tmp_path):
    """A parquet-persisted corpus cell assignment read back must drive
    the same pairs as the inline-built one (the production contract:
    assign the corpus once, reuse per shard)."""
    from projet_graphdb_spark.functions import clustering

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    path = str(tmp_path / "corpus_cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.mode(
        "overwrite"
    ).partitionBy("_cell").parquet(path)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    persisted = similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=spark.read.parquet(path),
    ).collect()
    inline = similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=2, centroids=cents
    ).collect()
    assert sorted(map(key, persisted)) == sorted(map(key, inline))


def test_incremental_ivf_stale_cells_raise(spark, emb, tmp_path):
    """Cell ids from different codebooks look identical, so a sink
    carries its (_nprobe, codebook-digest) config: a re-trained
    codebook, a different probe width, a config-stripped frame, and an
    append under a drifted codebook must all raise, not silently skew
    candidates; a corrupted sink that KEPT its config is still caught
    by the sampled row guard."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    stale_cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=1)
    assert cents != stale_cents  # different training really moved them
    stale_cells = similarity.ivf_cells_frame(corpus, stale_cents, nprobe=2)
    with pytest.raises(ValueError, match="stale"):
        similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2,
            centroids=cents, corpus_cells=stale_cells,
        )
    # nprobe mismatch against a correctly-codebooked sink also raises
    narrow_cells = similarity.ivf_cells_frame(corpus, cents, nprobe=1)
    with pytest.raises(ValueError, match="stale"):
        similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2,
            centroids=cents, corpus_cells=narrow_cells,
        )
    good = similarity.ivf_cells_frame(corpus, cents, nprobe=2)
    # a config-stripped sink is rejected outright
    with pytest.raises(ValueError, match="config columns"):
        similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2,
            centroids=cents, corpus_cells=good.select("_vid", "_cell"),
        )
    # a drifted APPEND fails at append time — it cannot poison the sink
    path = str(tmp_path / "cells")
    good.write.parquet(path)
    with pytest.raises(ValueError, match="stale"):
        similarity.ivf_cells_append(spark, path, stale_cents, shard, nprobe=2)
    # a corrupted sink that kept its config: drop one sampled row —
    # the layered row guard catches what the digest cannot
    corrupted = good.where(
        ~((F.col("_vid") == 0))
    )
    with pytest.raises(ValueError, match="disagree"):
        similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2,
            centroids=cents, corpus_cells=corrupted,
        )


def test_ivf_cells_append_multi_day_lifecycle(spark, emb, tmp_path):
    """Two ingest days against one growing cell sink under a frozen
    codebook: day-1 vectors are appended with ivf_cells_append, and
    day-2's pairs against the grown sink must equal an inline
    assignment over corpus ∪ day-1 — and the staleness guard must
    accept the grown sink (same codebook, same nprobe)."""
    from projet_graphdb_spark.functions import clustering

    n = emb.count()
    c1, c2 = int(n * 0.8), int(n * 0.9)
    corpus = emb.where(F.col("vec_id") < c1)
    day1 = emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2))
    day2 = emb.where(F.col("vec_id") >= c2)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, c1, n_centroids=8, num_iter=2)
    path = str(tmp_path / "cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.parquet(path)
    similarity.ivf_cells_append(spark, path, cents, day1, nprobe=2)
    corpus2 = corpus.unionByName(day1)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, day2, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=spark.read.parquet(path),
    ).collect()))
    want = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, day2, threshold=0.4, nprobe=2, centroids=cents
    ).collect()))
    assert got == want and got


def test_incremental_imi_equals_batch_cross_cut(spark, emb):
    """Under SHARED frozen half-codebooks, the incremental IMI
    index-join path must produce exactly the shard×corpus subset of
    the batch pipeline's pairs — virtual-cell keys are per-vector
    functions of the frozen codebooks (the s27 oracle's contract)."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    inc = {
        (r["new_id"], r["corpus_id"], r["sim"])
        for r in similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=cents, dim=64
        ).collect()
    }
    batch = similarity.imi_cosine_dups(
        emb, threshold=0.4, p1=2, p2=2, centroids=cents, dim=64
    ).collect()
    cross = {
        ((r["id_a"], r["id_b"]) if r["id_a"] >= cut else (r["id_b"], r["id_a"]))
        + (r["sim"],)
        for r in batch
        if (r["id_a"] >= cut) != (r["id_b"] >= cut)
    }
    assert inc == cross and inc  # nonempty on the dup-seeded fixture


def test_incremental_imi_index_roundtrip_and_lifecycle(spark, emb, tmp_path):
    """The s27 production lifecycle end-to-end: frozen half-codebooks,
    a _cell-partitioned persisted virtual-cell sink, day-1 appends via
    imi_cells_append (layout-mirrored), day-2 ingest against the GROWN
    sink equals an inline assignment over corpus ∪ day-1, and forget
    (the generic ivf_cells_forget) removes vectors from the next
    ingest's view."""
    import os

    n = emb.count()
    c1, c2 = int(n * 0.8), int(n * 0.9)
    corpus = emb.where(F.col("vec_id") < c1)
    day1 = emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2))
    day2 = emb.where(F.col("vec_id") >= c2)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.imi_train(corp, c1, k1=4, k2=4, num_iter=1, dim=64)
    path = str(tmp_path / "imi_cells")
    similarity.imi_cells_frame(corpus, *cents, p1=2, p2=2, dim=64).write.partitionBy(
        "_cell"
    ).parquet(path)
    similarity.imi_cells_append(spark, path, *cents, new_vectors=day1, p1=2, p2=2, dim=64)
    stray = [
        e for e in os.listdir(path)
        if not e.startswith(("_cell=", "_", "."))
    ]
    assert stray == []  # appends mirrored the partitioned layout
    corpus2 = corpus.unionByName(day1)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_imi_dups(
        corpus2, day2, threshold=0.4, p1=2, p2=2, centroids=cents, dim=64,
        corpus_cells=spark.read.parquet(path),
    ).collect()))
    want = sorted(map(key, similarity.incremental_imi_dups(
        corpus2, day2, threshold=0.4, p1=2, p2=2, centroids=cents, dim=64
    ).collect()))
    assert got == want and got
    # forget: removed vectors disappear from the next ingest's view
    gone = corpus2.select("vec_id").where(F.col("vec_id") < 5)
    similarity.ivf_cells_forget(spark, path, gone)
    corpus3 = corpus2.join(gone, "vec_id", "left_anti")
    got3 = sorted(map(key, similarity.incremental_imi_dups(
        corpus3, day2, threshold=0.4, p1=2, p2=2, centroids=cents, dim=64,
        corpus_cells=spark.read.parquet(path),
    ).collect()))
    want3 = sorted(map(key, similarity.incremental_imi_dups(
        corpus3, day2, threshold=0.4, p1=2, p2=2, centroids=cents, dim=64
    ).collect()))
    assert got3 == want3


def test_incremental_imi_stale_cells_raise(spark, emb):
    """Virtual-cell ids look identical across codebook pairs, so the
    sink's (_p1, _p2, _cbhash) config is the only re-train detector:
    drifted codebooks, probe-width mismatch, and a config-stripped
    frame must all raise; a corrupted sink that KEPT its config is
    caught by the sampled row guard."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    stale = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=2, dim=64)
    assert cents != stale
    stale_cells = similarity.imi_cells_frame(corpus, *stale, p1=2, p2=2, dim=64)
    with pytest.raises(ValueError, match="stale"):
        similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=cents,
            dim=64, corpus_cells=stale_cells,
        )
    narrow = similarity.imi_cells_frame(corpus, *cents, p1=1, p2=1, dim=64)
    with pytest.raises(ValueError, match="stale"):
        similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=cents,
            dim=64, corpus_cells=narrow,
        )
    good = similarity.imi_cells_frame(corpus, *cents, p1=2, p2=2, dim=64)
    with pytest.raises(ValueError, match="config columns"):
        similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=cents,
            dim=64, corpus_cells=good.select("_vid", "_cell"),
        )
    # append under drifted codebooks is refused before any write
    import tempfile

    path = tempfile.mkdtemp(prefix="imi_cells_") + "/cells"
    good.write.parquet(path)
    with pytest.raises(ValueError, match="stale"):
        similarity.imi_cells_append(
            spark, path, *stale, new_vectors=shard, p1=2, p2=2, dim=64
        )
    # corrupted rows under a kept config: sampled row guard
    corrupted = good.withColumn(
        "_cell",
        F.when(F.col("_vid") < 8, F.col("_cell") + 1).otherwise(F.col("_cell")),
    )
    with pytest.raises(ValueError, match="sample"):
        similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=cents,
            dim=64, corpus_cells=corrupted,
        )


def test_incremental_srp_equals_batch_cross_cut(spark, emb, tmp_path):
    """Under the SAME seeded construction, the persisted-SRP-index
    ingest path must produce exactly the shard×corpus subset of the
    batch lsh_cosine_dups pairs — band signatures are per-vector
    functions of the (seed-deterministic) planes."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    path = str(tmp_path / "srp_index")
    similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64).write.partitionBy(
        "band"
    ).parquet(path)
    inc = {
        (r["new_id"], r["corpus_id"], r["sim"])
        for r in similarity.incremental_srp_dups(
            corpus, shard, threshold=0.2, n_bands=8, bits=6, dim=64,
            index=spark.read.parquet(path),
        ).collect()
    }
    batch = similarity.lsh_cosine_dups(
        emb, bands=similarity.srp_bands(8, 6, 64), threshold=0.2
    ).collect()
    cross = {
        ((r["id_a"], r["id_b"]) if r["id_a"] >= cut else (r["id_b"], r["id_a"]))
        + (r["sim"],)
        for r in batch
        if (r["id_a"] >= cut) != (r["id_b"] >= cut)
    }
    assert inc == cross and inc
    # config mismatch fails loudly
    with pytest.raises(ValueError, match="built with"):
        similarity.incremental_srp_dups(
            corpus, shard, threshold=0.2, n_bands=4, bits=6, dim=64,
            index=spark.read.parquet(path),
        )


def test_srp_index_append_lifecycle(spark, emb, tmp_path):
    """Two-day SRP-index lifecycle: day-1 vectors append with the
    config read from the index itself (layout mirrored), day-2 ingest
    against the grown index equals the inline build over corpus ∪
    day-1; appending to a config-stripped index refuses."""
    import os

    n = emb.count()
    c1, c2 = int(n * 0.8), int(n * 0.9)
    corpus = emb.where(F.col("vec_id") < c1)
    day1 = emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2))
    day2 = emb.where(F.col("vec_id") >= c2)
    path = str(tmp_path / "srp")
    similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64).write.partitionBy(
        "band"
    ).parquet(path)
    cfg = similarity.srp_index_append(spark, path, day1)
    assert cfg == {"bits": 6, "n_bands": 8, "dim": 64, "seed": 43}
    stray = [
        e for e in os.listdir(path) if not e.startswith(("band=", "_", "."))
    ]
    assert stray == []
    corpus2 = corpus.unionByName(day1)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_srp_dups(
        corpus2, day2, threshold=0.2, n_bands=8, bits=6, dim=64,
        index=spark.read.parquet(path),
    ).collect()))
    want = sorted(map(key, similarity.incremental_srp_dups(
        corpus2, day2, threshold=0.2, n_bands=8, bits=6, dim=64,
    ).collect()))
    assert got == want and got
    # stripped config refuses
    bare = str(tmp_path / "bare")
    spark.read.parquet(path).drop("_seed").write.parquet(bare)
    with pytest.raises(ValueError, match="lacks config"):
        similarity.srp_index_append(spark, bare, day2)


def test_incremental_report_matches_python_rows(spark, emb):
    """The oracle-checkable incremental strategy report must agree with
    incremental_plan_rows on every cost value and on the chosen row —
    one source of routing truth, two surfaces."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    cfgs = dict(
        lsh_cfg={"bits": 6, "n_bands": 8},
        ivf_cfg={"k": 8, "nprobe": 2},
        imi_cfg={"k1": 4, "k2": 4, "p1": 2, "p2": 2},
    )
    for t in (0.4, 0.9):
        got = {
            r["method"]: r
            for r in similarity.incremental_strategy_report(
                corpus, shard, threshold=t, **cfgs
            ).collect()
        }
        want = similarity.incremental_plan_rows(
            cut, emb.count() - cut, t, **cfgs
        )
        # report = the 4 routable rows (3 artifacts + exact) + the
        # advisory lsh_sized row; plan rows = the routable set only
        assert len(got) == 5 and len(want) == 4
        for w in want:
            g = got[w["method"]]
            assert g["chosen"] == w["chosen"], (t, w["method"])
            assert g["feasible"] == w["feasible"]
            assert g["routable"]
            assert abs(g["est_pairs"] - w["est_pairs"]) < 1e-6 * max(1, w["est_pairs"])
            assert abs(g["est_flops"] - w["est_flops"]) < 1e-6 * max(1, w["est_flops"])
        # the sized advisory row is never chosen, and is feasible by
        # construction (that is its whole point)
        sized = got["lsh_sized"]
        assert sized["feasible"] and not sized["routable"] and not sized["chosen"]
        assert sized["recall"] >= 0.95 - 1e-9
        # exactly one chosen row per threshold
        assert sum(g["chosen"] for g in got.values()) == 1
    # the threshold crossover: 0.9 routes to the guaranteed LSH leg;
    # 0.4's S-curve is infeasible at the pinned 8x6 and the sized
    # construction's collision floor beats nothing, so the EXACT
    # guaranteed leg wins under the margin at these tiny (N, S)
    r9 = similarity.incremental_plan_rows(cut, emb.count() - cut, 0.9, **cfgs)
    r4 = similarity.incremental_plan_rows(cut, emb.count() - cut, 0.4, **cfgs)
    assert r9[0]["method"] == "lsh" and r9[0]["chosen"]
    assert r4[0]["method"] == "exact" and r4[0]["chosen"]
    # with the exact leg excluded, the old blocking crossover holds
    r4x = similarity.incremental_plan_rows(
        cut, emb.count() - cut, 0.4, exact_allowed=False, **cfgs
    )
    assert r4x[0]["method"] in ("ivf", "imi") and r4x[0]["chosen"]


def test_incremental_join_cost_term_prices_small_shards(spark, emb):
    """Round-12 verdict item 3: the flop-only model routed the sized
    58-band SRP leg at S=500/t=0.8 where its band-join setup cost 8.65 s
    wall vs exact's 2.3 s (the r12 shard-sweep receipt).  With the
    fixed-cost term (est_cost = est_flops + n_joins*JOIN_SETUP_FLOPS_R12)
    the router prices the join machinery: exact wins the small shard,
    the banded leg wins back once its setup amortizes — pinned at the
    receipt's own (N, S, threshold) points."""
    cfg = {"bits": 13, "n_bands": 58}   # srp_sized_config(0.8, 0.95)
    b = similarity.JOIN_SETUP_FLOPS_R12
    # defaults unchanged: join_cost_flops=0 keeps est_cost == est_flops
    r0 = similarity.incremental_plan_rows(180_000, 500, 0.8, lsh_cfg=cfg)
    assert r0[0]["method"] == "lsh"
    assert all(r["est_cost"] == r["est_flops"] for r in r0)
    # the r12 sweep's small-S row now chooses exact (wall-honest)...
    r500 = similarity.incremental_plan_rows(
        180_000, 500, 0.8, lsh_cfg=cfg, join_cost_flops=b
    )
    assert r500[0]["method"] == "exact" and r500[0]["chosen"]
    # ...and the banded leg wins back where its setup amortizes
    # (S=2000 was the measured crossover; S=20000 a 3.2x lsh win)
    for s_sz in (2000, 20_000):
        rs = similarity.incremental_plan_rows(
            180_000, s_sz, 0.8, lsh_cfg=cfg, join_cost_flops=b
        )
        assert rs[0]["method"] == "lsh", s_sz
    # cost algebra: est_cost = est_flops + n_joins * b, n_joins per leg
    n_joins = {r["method"]: r["n_joins"] for r in r500}
    assert n_joins == {"exact": 0, "lsh": 58}
    for r in r500:
        assert r["est_cost"] == r["est_flops"] + r["n_joins"] * b
    # the t=0.4 rows keep choosing exact with the term (only reinforced)
    r4 = similarity.incremental_plan_rows(
        180_000, 500, 0.4, lsh_cfg={"bits": 6, "n_bands": 46},
        join_cost_flops=b,
    )
    assert r4[0]["method"] == "exact"
    # report surface carries the same columns and the same choice
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    got = {
        r["method"]: r
        for r in similarity.incremental_strategy_report(
            corpus, shard, threshold=0.9,
            lsh_cfg={"bits": 6, "n_bands": 8}, join_cost_flops=b,
        ).collect()
    }
    want = {
        r["method"]: r
        for r in similarity.incremental_plan_rows(
            cut, emb.count() - cut, 0.9,
            lsh_cfg={"bits": 6, "n_bands": 8}, join_cost_flops=b,
        )
    }
    for m, w in want.items():
        g = got[m]
        assert g["n_joins"] == w["n_joins"] and g["chosen"] == w["chosen"]
        assert abs(g["est_cost"] - w["est_cost"]) < 1e-6 * max(1, w["est_cost"])
    # at the driver cut's tiny S·N the join term makes the map-only
    # exact leg beat the 8-band artifact even at t=0.9
    assert want["exact"]["chosen"] and got["exact"]["chosen"]


def test_incremental_auto_routes_and_matches(spark, emb, tmp_path):
    """End-to-end routed ingest against all three persisted artifact
    families: at threshold 0.9 the router picks the recall-guaranteed
    SRP leg and its pairs equal incremental_srp_dups; at 0.4 it picks
    a blocking leg and (calibration off) its pairs equal that leg's
    hand-picked incremental function — the receipt names the route."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    # persist all three artifact families
    lsh_path = str(tmp_path / "srp")
    similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64).write.partitionBy(
        "band"
    ).parquet(lsh_path)
    ivf_cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    ivf_path = str(tmp_path / "ivf")
    similarity.ivf_cells_frame(corpus, ivf_cents, nprobe=2).write.partitionBy(
        "_cell"
    ).parquet(ivf_path)
    imi_cents = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    imi_path = str(tmp_path / "imi")
    similarity.imi_cells_frame(corpus, *imi_cents, p1=2, p2=2, dim=64).write.partitionBy(
        "_cell"
    ).parquet(imi_path)
    arts = dict(
        lsh_index=spark.read.parquet(lsh_path),
        ivf_centroids=ivf_cents,
        ivf_cells=spark.read.parquet(ivf_path),
        imi_centroids=imi_cents,
        imi_cells=spark.read.parquet(imi_path),
    )
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    # high threshold -> guaranteed SRP leg
    receipt = {}
    got = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.2, target_recall=0.2,
        plan_out=receipt, **arts,  # srp_recall(0.2, 6, 8) ≈ 0.23 ≥ 0.2:
        # the guaranteed leg is feasible AND cheapest under the margin
    ).collect()))
    assert receipt["strategy"] == "lsh"
    want = sorted(map(key, similarity.incremental_srp_dups(
        corpus, shard, threshold=0.2, n_bands=8, bits=6, dim=64,
        index=arts["lsh_index"],
    ).collect()))
    assert got == want and got
    # low threshold, default: the EXACT guaranteed leg wins the pricing
    # at these tiny pinned constructions (k=8 blocking only halves the
    # candidates; the margin-halved exact dot is cheaper)
    receipt = {}
    got_exact = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        calibrate=False, plan_out=receipt, **arts,
    ).collect()))
    assert receipt["strategy"] == "exact" and receipt["met_target"] is True
    assert got_exact == sorted(map(key, similarity.incremental_exact_dups(
        corpus, shard, threshold=0.4,
    ).collect())) and got_exact
    # low threshold, exact excluded -> blocking leg at the sink's width
    receipt = {}
    got = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        calibrate=False, plan_out=receipt, exact_allowed=False, **arts,
    ).collect()))
    assert receipt["strategy"] in ("ivf", "imi")
    if receipt["strategy"] == "ivf":
        want_df = similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2, centroids=ivf_cents,
            corpus_cells=arts["ivf_cells"],
        )
    else:
        want_df = similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=imi_cents,
            dim=64, corpus_cells=arts["imi_cells"],
        )
    assert got == sorted(map(key, want_df.collect())) and got
    # calibration on: either the shard sample holds truth pairs (ladder
    # monotone, escalated pairs ⊇ sink-width pairs) or recall is UNKNOWN
    # (the router warns and stays at the sink's width — never a silent
    # escalation for unknown benefit)
    import warnings as _warnings

    receipt = {}
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        cal = sorted(map(key, similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            calibrate=True, plan_out=receipt, exact_allowed=False,
            fallback=False, **arts,
        ).collect()))
    if receipt["sample_truth_pairs"] > 0:
        ladder = receipt["recall_by_probe"]
        assert all(a <= b + 1e-12 for a, b in zip(ladder, ladder[1:]))
        assert set(got) <= set(cal)
    else:
        assert any("UNKNOWN" in str(w.message) for w in caught)
        assert cal == got  # stayed at the sink's width: identical pairs


def test_index_rebuild_recovers_from_drift(spark, emb, tmp_path):
    """ivf_index_rebuild / imi_index_rebuild: a sink built under a
    drifted codebook trips the staleness guard; the rebuild retrains on
    the current corpus, re-assigns, swaps atomically (layout kept), and
    the next ingest against the rebuilt sink equals the inline path
    under the returned codebook."""
    import os

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])

    # flat IVF
    old = similarity.ivf_train(
        corp.where(F.col("_vid") < cut // 2), cut // 2, n_centroids=8, num_iter=1
    )
    path = str(tmp_path / "ivf_cells")
    similarity.ivf_cells_frame(corpus, old, nprobe=2).write.partitionBy(
        "_cell"
    ).parquet(path)
    live = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    with pytest.raises(ValueError, match="stale"):
        similarity.incremental_ivf_dups(
            corpus, shard, threshold=0.4, nprobe=2, centroids=live,
            corpus_cells=spark.read.parquet(path),
        )
    rebuilt = similarity.ivf_index_rebuild(
        spark, path, corpus, nprobe=2, n_centroids=8, num_iter=2, n_rows=cut
    )
    assert rebuilt == live  # same pinned construction, same corpus
    assert any(e.startswith("_cell=") for e in os.listdir(path))  # layout kept
    got = sorted(map(key, similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=2, centroids=rebuilt,
        corpus_cells=spark.read.parquet(path),
    ).collect()))
    want = sorted(map(key, similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=2, centroids=rebuilt
    ).collect()))
    assert got == want and got

    # IMI twin
    old2 = similarity.imi_train(
        corp.where(F.col("_vid") < cut // 2), cut // 2, k1=4, k2=4,
        num_iter=2, dim=64,
    )
    path2 = str(tmp_path / "imi_cells")
    similarity.imi_cells_frame(corpus, *old2, p1=2, p2=2, dim=64).write.partitionBy(
        "_cell"
    ).parquet(path2)
    live2 = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    with pytest.raises(ValueError, match="stale"):
        similarity.incremental_imi_dups(
            corpus, shard, threshold=0.4, p1=2, p2=2, centroids=live2,
            dim=64, corpus_cells=spark.read.parquet(path2),
        )
    rebuilt2 = similarity.imi_index_rebuild(
        spark, path2, corpus, k1=4, k2=4, p1=2, p2=2, num_iter=1,
        dim=64, n_rows=cut,
    )
    assert rebuilt2 == live2
    got2 = sorted(map(key, similarity.incremental_imi_dups(
        corpus, shard, threshold=0.4, p1=2, p2=2, centroids=rebuilt2,
        dim=64, corpus_cells=spark.read.parquet(path2),
    ).collect()))
    want2 = sorted(map(key, similarity.incremental_imi_dups(
        corpus, shard, threshold=0.4, p1=2, p2=2, centroids=rebuilt2, dim=64
    ).collect()))
    assert got2 == want2


def test_incremental_auto_escalation_recovers_pairs(spark, emb):
    """The calibrated escalation path actually ESCALATES: against a
    deliberately narrow sink (nprobe=1), a reachable target makes the
    router widen the shard-side probe past the sink's width, and the
    escalated run recovers pairs the sink-width run misses.  The test
    derives a reachable target from the measured ladder itself (the
    fixture's geometry decides the numbers; the CONTRACT under test is
    probe > sink-width ⇒ pairs ⊇ sink-width pairs, receipt consistent)."""
    from projet_graphdb_spark.functions import clustering

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    # shard WITH internal truth pairs: reuse corpus vectors under
    # shifted ids so the calibration sample is guaranteed non-empty
    shard = emb.where(F.col("vec_id") < cut // 2).withColumn(
        "vec_id", F.col("vec_id") + cut * 10
    )
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    narrow = similarity.ivf_cells_frame(corpus, cents, nprobe=1)
    # measure the ladder the router will see (sink width 1, cap 8)
    assigned = clustering.assign_topn(
        shard.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")),
        cents, nprobe=8, vec_col="_v",
    )
    recalls, n_pairs = similarity.ingest_calibrate_recall(
        assigned, 0.4, [list(range(j)) for j in range(1, 9)], [0]
    )
    assert n_pairs > 0, "fixture must hold shard truth pairs at 0.4"
    if recalls[-1] <= recalls[0] + 1e-9:
        pytest.skip("fixture ladder is flat; escalation unobservable")
    # a target strictly between recall(1) and the best level forces a
    # real escalation (reachable, so no warn path)
    target = (recalls[0] + recalls[-1]) / 2
    receipt = {}
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    esc = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=target,
        ivf_centroids=cents, ivf_cells=narrow, dim=64,
        calibrate=True, plan_out=receipt, exact_allowed=False,
    ).collect()))
    assert receipt["probe"] > 1  # really escalated past the sink width
    assert receipt["calibrated_recall"] >= target
    base = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=target,
        ivf_centroids=cents, ivf_cells=narrow, dim=64, calibrate=False,
        exact_allowed=False,
    ).collect()))
    assert set(base) <= set(esc) and len(esc) > len(base)


def test_embedding_drift_report_detects_rotation(spark):
    """Identical distributions report mean_cosine = 1 / is_drifted
    false; a sign-flipped new generation reports mean_cosine = -1 /
    is_drifted true; max_dim_shift is the exact integer-micros max."""
    import math

    base = [(i, [1.0, 0.5] + [0.0] * 62) for i in range(50)]
    old = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    same = spark.createDataFrame(
        [(i + 100, v) for i, v in base], "vec_id long, embedding array<double>"
    )
    r = similarity.embedding_drift_report(old, same).first()
    assert r["n_old"] == 50 and r["n_new"] == 50
    assert r["mean_cosine"] == 1.0 and not r["is_drifted"]
    assert r["norm_ratio"] == 1.0 and r["max_dim_shift"] == 0.0
    flipped = spark.createDataFrame(
        [(i + 100, [-x for x in v]) for i, v in base],
        "vec_id long, embedding array<double>",
    )
    rf = similarity.embedding_drift_report(old, flipped).first()
    assert rf["mean_cosine"] == -1.0 and rf["is_drifted"]
    assert math.isclose(rf["max_dim_shift"], 2.0)  # dim 0: 1.0 -> -1.0


def test_cell_occupancy_report_flags_hot_cell(spark):
    """The hot-cell gauge: a balanced sink reports is_hot=false; a
    drift-fattened sink (one cell holding >20% of rows) flips is_hot
    and the Σ c(c−1)/2 candidate estimate quantifies the blowup."""
    balanced = spark.createDataFrame(
        [(i, i % 10) for i in range(100)], "_vid long, _cell int"
    )
    r = similarity.cell_occupancy_report(balanced).first()
    assert r["n_cells"] == 10 and r["n_rows"] == 100
    assert r["max_cell_rows"] == 10 and not r["is_hot"]
    assert r["est_candidate_pairs"] == 10 * (10 * 9 // 2)
    hot = spark.createDataFrame(
        [(i, 0 if i < 50 else i % 10) for i in range(100)],
        "_vid long, _cell int",
    )
    rh = similarity.cell_occupancy_report(hot).first()
    assert rh["is_hot"] and rh["top_cell_share"] > 0.2
    assert rh["est_candidate_pairs"] > r["est_candidate_pairs"]


def test_incremental_auto_guards_and_clamps(spark, emb, tmp_path):
    """Router-level defense parity with the hand-picked paths (review
    findings): a corrupted sink that KEPT its config columns must trip
    the sampled-row guard through the router too; a max_probe below
    the sink's stored width must clamp WITH a warning, never index
    past the assignment; an infeasible-only artifact set warns instead
    of silently under-delivering."""
    import warnings as _warnings

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    ivf_cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    good = similarity.ivf_cells_frame(corpus, ivf_cents, nprobe=2)
    corrupted = good.withColumn(
        "_cell",
        F.when(F.col("_vid") < 8, F.col("_cell") + 1).otherwise(F.col("_cell")),
    )
    with pytest.raises(ValueError, match="sample"):
        similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            ivf_centroids=ivf_cents, ivf_cells=corrupted, dim=64,
            exact_allowed=False,
        ).count()
    # IMI corrupted sink through the router
    imi_cents = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    imi_good = similarity.imi_cells_frame(corpus, *imi_cents, p1=2, p2=2, dim=64)
    imi_bad = imi_good.withColumn(
        "_cell",
        F.when(F.col("_vid") < 8, F.col("_cell") + 1).otherwise(F.col("_cell")),
    )
    with pytest.raises(ValueError, match="sample"):
        similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            imi_centroids=imi_cents, imi_cells=imi_bad, dim=64,
            exact_allowed=False,
        ).count()
    # clamping: max_probe=1 < the sink's nprobe=2 — warn, and the pair
    # set is a subset of the unclamped run's (fewer probed cells)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        clamped = sorted(map(key, similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            ivf_centroids=ivf_cents, ivf_cells=good, dim=64,
            max_probe=1, calibrate=False, exact_allowed=False,
        ).collect()))
    assert any("clamped" in str(w.message) for w in caught)
    full = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        ivf_centroids=ivf_cents, ivf_cells=good, dim=64, calibrate=False,
        exact_allowed=False,
    ).collect()))
    assert set(clamped) <= set(full)
    # IMI clamping never indexes past the assignment grid
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        imi_clamped = sorted(map(key, similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            imi_centroids=imi_cents, imi_cells=imi_good, dim=64,
            max_probe=1, calibrate=False, exact_allowed=False,
        ).collect()))
    assert any("clamped" in str(w.message) for w in caught)
    imi_full = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        imi_centroids=imi_cents, imi_cells=imi_good, dim=64, calibrate=False,
        exact_allowed=False,
    ).collect()))
    assert set(imi_clamped) <= set(imi_full)
    # uncalibrated routed IMI at the sink's own widths == hand-picked
    assert imi_full == sorted(map(key, similarity.incremental_imi_dups(
        corpus, shard, threshold=0.4, p1=2, p2=2, centroids=imi_cents,
        dim=64, corpus_cells=imi_good,
    ).collect()))
    # infeasible-only artifact set (SRP at a low threshold) warns
    lsh_path = str(tmp_path / "srp")
    similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64).write.partitionBy(
        "band"
    ).parquet(lsh_path)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            lsh_index=spark.read.parquet(lsh_path), dim=64,
            exact_allowed=False,
        ).count()
    assert any("NO provided artifact reaches" in str(w.message) for w in caught)


def test_ivf_cells_append_mirrors_partitioned_layout(spark, emb, tmp_path):
    """Appending to a _cell-partitioned sink (the s26 recipe) must write
    partitioned rows: a flat append into a Hive-partitioned directory is
    a mixed layout the next read fails on (round-8 advice; the LSH twin
    already mirrors partitionBy('band')).  Pins: the sink stays
    readable, keeps its layout on disk, and drives the same pairs as an
    inline assignment over the grown corpus."""
    import os

    n = emb.count()
    c1, c2 = int(n * 0.8), int(n * 0.9)
    corpus = emb.where(F.col("vec_id") < c1)
    day1 = emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2))
    day2 = emb.where(F.col("vec_id") >= c2)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, c1, n_centroids=8, num_iter=2)
    path = str(tmp_path / "cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.partitionBy(
        "_cell"
    ).parquet(path)
    similarity.ivf_cells_append(spark, path, cents, day1, nprobe=2)
    # layout preserved: every data file lives under a _cell=<id> dir
    stray = [
        e for e in os.listdir(path)
        if not e.startswith("_cell=") and not e.startswith("_") and not e.startswith(".")
    ]
    assert stray == []
    grown = spark.read.parquet(path)  # a mixed layout would fail here
    corpus2 = corpus.unionByName(day1)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, day2, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=grown,
    ).collect()))
    want = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, day2, threshold=0.4, nprobe=2, centroids=cents
    ).collect()))
    assert got == want and got


def test_ivf_cells_forget_preserves_partitioned_layout(spark, emb, tmp_path):
    """Forgetting from a _cell-partitioned sink must rewrite it with the
    SAME layout (partition-pruning survives maintenance), and the
    rewritten sink must drive the correct pairs."""
    import os

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    path = str(tmp_path / "cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.partitionBy(
        "_cell"
    ).parquet(path)
    gone = corpus.select("vec_id").where(F.col("vec_id") < 5)  # deterministic
    similarity.ivf_cells_forget(spark, path, gone)
    assert any(e.startswith("_cell=") for e in os.listdir(path))
    corpus2 = corpus.join(gone, "vec_id", "left_anti")
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, shard, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=spark.read.parquet(path),
    ).collect()))
    want = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, shard, threshold=0.4, nprobe=2, centroids=cents
    ).collect()))
    assert got == want


def test_ivf_cells_forget_removes_vectors(spark, emb, tmp_path):
    """Forgetting corpus vectors must make them invisible to the next
    ingest: pairs against the rewritten sink equal an inline assignment
    over corpus-minus (same frozen codebook)."""
    from projet_graphdb_spark.functions import clustering

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    path = str(tmp_path / "cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.parquet(path)
    pairs = similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=spark.read.parquet(path),
    ).collect()
    assert pairs
    gone = spark.createDataFrame(
        [(r["corpus_id"],) for r in pairs], "vec_id long"
    )
    similarity.ivf_cells_forget(spark, path, gone)
    corpus2 = corpus.join(gone, "vec_id", "left_anti")
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, shard, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=spark.read.parquet(path),
    ).collect()))
    want = sorted(map(key, similarity.incremental_ivf_dups(
        corpus2, shard, threshold=0.4, nprobe=2, centroids=cents
    ).collect()))
    assert got == want


def _fold_topn(V, C, nprobe):
    """Exact-fold reference: left-to-right cumsum of (x − c)² over f64
    casts (the oracles' distance), then a stable (d, cid) sort."""
    D = np.stack([np.cumsum((V - c) ** 2, axis=1)[:, -1] for c in C], axis=1)
    return np.argsort(D, axis=1, kind="stable")[:, :nprobe]


def test_assign_topn_matches_exact_fold(spark, emb, emb_np):
    """assign_topn (the Arrow BLAS kernel) emits the exact-fold top-n
    for every nprobe 1..k: on a trained 8-cell codebook, a seeded
    64-cell codebook, and a codebook with a duplicate centroid, where
    equal distances straddle the nprobe boundary and the smaller cid
    must win."""
    from projet_graphdb_spark.functions import clustering

    ids, V = emb_np
    V = V[np.argsort(ids)]
    dup = np.round(V[:8], 6)
    dup[5] = dup[2]
    books = {
        "kmeans8": clustering.kmeans_centroids(emb, k=8, num_iter=1),
        "seeded64": {i: list(np.round(V[i], 6)) for i in range(64)},
        "dup8": {i: list(c) for i, c in enumerate(dup)},
    }
    base = emb.select("vec_id", "embedding")
    for name, cents in books.items():
        cids = sorted(cents)
        C = np.asarray([cents[c] for c in cids], dtype=np.float64)
        frame = base
        for p in range(1, len(cids) + 1):
            frame = clustering.assign_topn(frame, cents, nprobe=p, out_col=f"_p{p}")
        rows = sorted(frame.drop("embedding").collect(), key=lambda r: r["vec_id"])
        for p in range(1, len(cids) + 1):
            want = np.asarray(cids)[_fold_topn(V, C, p)]
            got = np.asarray([list(r[f"_p{p}"]) for r in rows])
            assert np.array_equal(got, want), (name, p)


def test_choose_dup_strategy_threshold_crossover(spark):
    """High thresholds -> LSH (a <=64-band construction holds 0.95
    recall and is cheap); low thresholds -> IVF (the cheapest
    recall-holding construction is <=6 bits x 46+ bands, a
    near-quadratic candidate floor ~45x IVF's cost).  The router
    formalizes the measured 30x result."""
    strat_lo, plan_lo = similarity.choose_dup_strategy(60_000, 0.4)
    strat_hi, plan_hi = similarity.choose_dup_strategy(60_000, 0.9)
    assert strat_lo == "ivf"
    assert strat_hi == "lsh"
    assert similarity.srp_recall(0.9, plan_hi["bits"], plan_hi["n_bands"]) >= 0.95
    # at 0.4 the best feasible LSH construction exists but is dominated
    lsh_lo = similarity.lsh_plan(60_000, 0.4)
    assert lsh_lo is not None and lsh_lo["est_flops"] > 10 * plan_lo["est_flops"]


def test_cosine_dups_auto_routes_and_verifies(spark, emb, emb_np):
    """The auto entrypoint returns the same (id_a, id_b, sim) contract
    on both routes: ordered ids, exact sims at the threshold."""
    ids, mat = emb_np
    for threshold in (0.4, 0.9):
        rows = similarity.cosine_dups_auto(emb, threshold=threshold).collect()
        truth = _truth_pairs(ids, mat, threshold)
        for r in rows:
            assert r["id_a"] < r["id_b"]
            assert r["sim"] >= threshold
            assert (r["id_a"], r["id_b"]) in truth


def test_embedding_dup_clusters_method_ivf(spark, emb):
    """method='ivf' produces a valid manifest: every vec_id present
    exactly once, cluster_id = min id of the component, keep iff
    canonical."""
    out = similarity.embedding_dup_clusters(emb, threshold=0.4, method="ivf").collect()
    assert len(out) == emb.count()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["vec_id"] for m in members)
        assert sum(m["keep"] for m in members) == 1


def test_ivf_calibrate_recall_monotone_and_unbiased(spark, emb, emb_np):
    """recall_by_nprobe is monotone nondecreasing, and — because the
    tiny fixture fits entirely inside the calibration sample cap — the
    nprobe=j estimate EQUALS the true share of ground-truth pairs whose
    top-j cell lists intersect."""
    from projet_graphdb_spark.functions import clustering

    ids, mat = emb_np
    base = emb.select(
        F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
    )
    cents = similarity.ivf_train(base, n_rows=len(ids))
    assigned = clustering.assign_topn(base, cents, nprobe=4, vec_col="_v")
    recalls, n_pairs = similarity.ivf_calibrate_recall(
        assigned, threshold=0.4, max_nprobe=4, n_rows=len(ids)
    )
    assert n_pairs > 0
    assert recalls == sorted(recalls)
    # independent recomputation from the collected assignment
    cell_of = {
        r["_vid"]: list(r["_cells"]) for r in assigned.collect()
    }
    truth = _truth_pairs(ids, mat, 0.4)
    for j in (1, 4):
        want = sum(
            1 for a, b in truth if set(cell_of[a][:j]) & set(cell_of[b][:j])
        ) / len(truth)
        assert abs(recalls[j - 1] - want) < 1e-12


def test_cosine_dups_auto_calibrated_receipt_and_reuse(spark, emb, emb_np):
    """The routed IVF run must (a) emit a routing receipt with the
    calibrated recall it actually achieves, (b) produce EXACTLY the
    pairs of a direct ivf_cosine_dups call at the picked (k, nprobe) —
    proving the sliced top-max_nprobe assignment is a reuse, not a
    different construction."""
    ids, mat = emb_np
    receipt = {}
    # t=0.1: blocking beats even the margin-handicapped LSH plan on
    # this corpus size, pinning the calibrated-IVF branch
    got = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in similarity.cosine_dups_auto(
            emb, threshold=0.1, plan_out=receipt
        ).collect()
    )
    assert receipt["strategy"] == "ivf"
    assert receipt["sample_truth_pairs"] > 0
    j = receipt["nprobe"]
    assert receipt["calibrated_recall"] == receipt["recall_by_nprobe"][j - 1]
    direct = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in similarity.ivf_cosine_dups(
            emb,
            threshold=0.1,
            n_centroids=receipt["plan"]["n_centroids"],
            nprobe=j,
        ).collect()
    )
    assert got == direct


def test_cosine_dups_auto_empty_calibration_escalates(spark):
    """When even the GROWN calibration sample holds no truth pair,
    recall is unknown — the router must WARN and escalate to max_nprobe
    (the assignment's most-recall slice), never run the plan's
    uncalibrated default (round-8 advice: the silent fallback reopened
    the 0.116 hole at exactly the large-N regimes the router targets).
    Corpus: 2000 random dim-128 vectors — pair cosine ~ N(0, 1/128)
    (max observed 0.44), so at t=0.5 there are no truth pairs, and
    t=0.5 still pins the IVF route."""
    import warnings as _w

    rng = np.random.default_rng(42)
    rows = [
        (i, [float(x) for x in rng.standard_normal(128)]) for i in range(2000)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    receipt = {}
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = similarity.cosine_dups_auto(
            corpus, threshold=0.5, max_nprobe=3, plan_out=receipt
        ).collect()
    assert receipt["strategy"] == "ivf"
    assert receipt["sample_truth_pairs"] == 0
    assert receipt["calibrated_recall"] is None
    assert receipt["nprobe"] == 3  # escalated, not the plan default 2
    assert any("UNKNOWN" in str(c.message) for c in caught)
    assert out == []  # exact verification keeps zero false positives


def test_ivf_family_rejects_non_integer_ids(spark, emb):
    """The dense-integer id contract is guarded at every IVF-family
    entrypoint: a string id must raise a clear TypeError instead of
    crashing in the sampling modulo."""
    bad = emb.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    for fn in (
        similarity.ivf_cosine_dups,
        similarity.imi_cosine_dups,
        similarity.cosine_dups_auto,
    ):
        with pytest.raises(TypeError, match="DENSE non-negative integer"):
            fn(bad, threshold=0.4)


def test_cosine_dups_auto_warns_when_target_unreachable(spark, emb):
    """target_recall=1.0 with max_nprobe=1 cannot hold on this corpus
    (the fixture's nprobe=2 recall is already ~0.85): the router must
    WARN with the achieved figure and proceed best-effort — never
    silently under-deliver (the round-7 0.116-vs-0.95 lesson)."""
    import warnings as _w

    receipt = {}
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = similarity.cosine_dups_auto(
            emb, threshold=0.1, target_recall=1.0, max_nprobe=1,
            plan_out=receipt,
        ).collect()
    assert receipt["calibrated_recall"] < 1.0
    assert any("best-effort" in str(c.message) for c in caught)
    assert out  # still produces (fewer) verified pairs


def test_dup_strategy_report_matches_python_router(spark, emb):
    """The oracle-checked cost-model table must agree with the router
    it documents: per threshold exactly ONE chosen row, and its
    (method, bits, n_bands / n_centroids, est_flops) equal
    choose_dup_strategy's pick on the same corpus size."""
    n = emb.count()
    rows = similarity.dup_strategy_report(emb).collect()
    by_thr = {}
    for r in rows:
        by_thr.setdefault(r["threshold"], []).append(r)
    for thr, rs in by_thr.items():
        chosen = [r for r in rs if r["chosen"]]
        assert len(chosen) == 1, (thr, chosen)
        c = chosen[0]
        strat, plan = similarity.choose_dup_strategy(n, thr)
        assert c["method"] == strat
        assert c["est_flops"] == plan["est_flops"]
        if strat == "lsh":
            assert (c["bits"], c["n_bands"]) == (plan["bits"], plan["n_bands"])
            assert c["feasible"] and c["recall"] >= 0.95 - 1e-6
        # every infeasible row is never chosen; feasibility mirrors the
        # S-curve at the 64-band cap
        for r in rs:
            if r["method"] == "lsh":
                want = similarity.srp_recall(thr, r["bits"], r["n_bands"]) >= 0.95 - 1e-9
                assert r["feasible"] == want


def test_imi_cosine_dups_exact_precision_and_recall(spark, emb, emb_np):
    """IMI (two half-space codebooks, virtual cell = pair of
    half-assignments): every emitted pair exact-verified (zero false
    positives), recall on the fixture comparable to flat IVF's — and
    the assignment stores only k1+k2 centroids for k1·k2 cells."""
    ids, mat = emb_np
    truth = _truth_pairs(ids, mat, 0.4)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.imi_cosine_dups(
            emb, threshold=0.4, k1=4, k2=4, p1=2, p2=2, num_iter=1
        ).collect()
    }
    assert got <= truth
    assert len(got & truth) / len(truth) >= 0.6


def test_imi_virtual_cells_match_half_assignments(spark, emb):
    """The p1·p2 virtual-cell grid must be exactly the cross of the two
    half-space top-p assignments (cell = c1·k2 + c2) — recomputed
    independently per half from the same trained codebooks."""
    from projet_graphdb_spark.functions import clustering

    dim, half, k2, p = 64, 32, 4, 2
    base = emb.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    chk = base.localCheckpoint(eager=True)
    lo = F.slice(F.col("_v"), 1, half)
    hi = F.slice(F.col("_v"), half + 1, dim - half)
    c1 = clustering.kmeans_centroids(
        chk.select("_vid", lo.alias("_v")), k=4, num_iter=1, id_col="_vid", vec_col="_v")
    c2 = clustering.kmeans_centroids(
        chk.select("_vid", hi.alias("_v")), k=k2, num_iter=1, id_col="_vid", vec_col="_v")
    t1 = {r["_vid"]: list(r["_cells"]) for r in clustering.assign_topn(
        chk.select("_vid", lo.alias("_v")), c1, nprobe=p, vec_col="_v").collect()}
    t2 = {r["_vid"]: list(r["_cells"]) for r in clustering.assign_topn(
        chk.select("_vid", hi.alias("_v")), c2, nprobe=p, vec_col="_v").collect()}
    want = {
        (v, a * k2 + b) for v in t1 for a in t1[v] for b in t2[v]
    }
    # drive the library path's assignment by reusing its building blocks
    both = chk.select("_vid", lo.alias("_v1"), hi.alias("_v2"))
    both = clustering.assign_topn(both, c1, nprobe=p, vec_col="_v1", out_col="_c1s")
    both = clustering.assign_topn(both, c2, nprobe=p, vec_col="_v2", out_col="_c2s")
    got = {
        (r["_vid"], c1v * k2 + c2v)
        for r in both.collect()
        for c1v in r["_c1s"] for c2v in r["_c2s"]
    }
    assert got == want


def test_choose_dup_strategy_size_crossover():
    """Below flat IVF's 16384-cell cap the router picks flat IVF at low
    thresholds (joint cells, similar cost); PAST the cap flat occupancy
    grows as N/16384 and its candidate term goes quadratic while IMI's
    virtual-cell count keeps tracking N — the router must flip to IMI,
    and the IMI plan must be meaningfully cheaper there."""
    strat_small, _ = similarity.choose_dup_strategy(60_000, 0.4)
    assert strat_small == "ivf"
    strat_big, plan_big = similarity.choose_dup_strategy(10_000_000, 0.4)
    assert strat_big == "imi"
    ivf_big = similarity.ivf_plan(10_000_000)
    assert plan_big["est_flops"] < 0.5 * ivf_big["est_flops"]
    # the IMI plan sizes the half codebooks to the corpus: k1*k2 tracks
    # N/64 (within the ceil slack), so occupancy stays bounded
    assert plan_big["k1"] == plan_big["k2"]
    assert plan_big["k1"] ** 2 >= 10_000_000 / 64


def test_cosine_dups_auto_imi_branch_runs(spark, emb, emb_np):
    """Force the router's IMI branch (n_rows override past flat IVF's
    cell cap) and check the full path — plan sizing, virtual-cell
    assignment, calibration receipt, candidate tail — runs end-to-end
    and keeps the exact-verify contract on the real 500-row corpus."""
    ids, mat = emb_np
    truth = _truth_pairs(ids, mat, 0.4)
    receipt = {}
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")  # under-target warn is expected here
        rows = similarity.cosine_dups_auto(
            emb, threshold=0.4, n_rows=10_000_000, plan_out=receipt
        ).collect()
    assert receipt["strategy"] == "imi"
    assert receipt["plan"]["k1"] == receipt["plan"]["k2"]
    # the routed IMI execution must run the Lloyd iterations the cost
    # model priced (round-8 advice: the plan priced num_iter=2 while the
    # branch ran the function default 1)
    assert receipt["plan"]["num_iter"] == 2
    # round-8 escalation ladder: the receipt's per-p recalls are REAL
    # probe settings (p×p sub-grids of one top-p_cap assignment),
    # monotone in p; the chosen p is the smallest meeting the target
    # (or p_cap best-effort), and calibrated_recall is its entry
    assert 1 <= receipt["p"] <= receipt["p_cap"] == 4
    recalls = receipt["recall_by_p"]
    assert len(recalls) == 4
    if receipt["sample_truth_pairs"] > 0:
        assert recalls == sorted(recalls)
        assert receipt["calibrated_recall"] == recalls[receipt["p"] - 1]
        assert receipt["recall_full_grid"] == recalls[-1]
    else:
        # the faked 10M n_rows makes the 1-in-2442 calibration sample
        # degenerate on the 500-row fixture: recall is UNKNOWN and the
        # router stays at the plan's p (IMI grid escalation multiplies
        # candidate volume ~p^4 for unknown benefit — unlike IVF, where
        # k ∝ N keeps nprobe escalation linear)
        assert receipt["calibrated_recall"] is None
        assert receipt["p"] == receipt["plan"]["p1"]
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) in truth


def test_imi_grid_calibration_unbiased(spark, emb, emb_np):
    """imi_calibrate_recall_grid's p-level estimates equal the TRUE
    share of ground-truth pairs whose p×p sub-grids intersect (the
    fixture fits inside the sample cap, so the estimate is exact)."""
    ids, mat = emb_np
    p_cap = 3
    assigned = similarity.imi_cosine_dups(
        emb, threshold=0.4, k1=4, k2=4, p1=p_cap, p2=p_cap,
        num_iter=1, dim=64, cells_only=True,
    )
    recalls, n_pairs = similarity.imi_calibrate_recall_grid(
        assigned, threshold=0.4, p_cap=p_cap, n_rows=len(ids)
    )
    assert n_pairs > 0 and recalls == sorted(recalls)
    cell_of = {r["_vid"]: list(r["_cells"]) for r in assigned.collect()}
    truth = _truth_pairs(ids, mat, 0.4)
    for p in (1, 2, 3):
        idx = [i * p_cap + j for i in range(p) for j in range(p)]
        want = sum(
            1 for a, b in truth
            if {cell_of[a][k] for k in idx} & {cell_of[b][k] for k in idx}
        ) / len(truth)
        assert abs(recalls[p - 1] - want) < 1e-12, (p, recalls[p - 1], want)


def test_srp_sized_config_feasible_by_construction():
    """srp_sized_config (round-9 verdict gap 1): every returned
    construction meets the target by the closed-form S-curve; the
    documented operating points are pinned (0.4 -> 6x46, the measured
    frontier expressed as a sizing rule); tighter caps that exclude
    every feasible construction return None instead of lying."""
    for t in (0.2, 0.4, 0.6, 0.9):
        cfg = similarity.srp_sized_config(t, 0.95)
        assert cfg is not None
        assert similarity.srp_recall(t, cfg["bits"], cfg["n_bands"]) >= 0.95 - 1e-9
        assert cfg["recall"] >= 0.95 - 1e-9
        assert cfg["n_bands"] <= 64
    assert (lambda c: (c["bits"], c["n_bands"]))(
        similarity.srp_sized_config(0.4, 0.95)
    ) == (6, 46)
    # a 1-band cap cannot hold 0.95 at threshold 0.4 with <= 24 bits
    assert similarity.srp_sized_config(0.4, 0.95, max_bands=1) is None


def test_srp_band_index_sized_construction_roundtrips(spark, emb, tmp_path):
    """srp_band_index(threshold=...) derives (bits, n_bands) from the
    S-curve, embeds the derived config, and the sized index drives
    incremental_srp_dups whose read-back validation accepts exactly the
    sized construction; infeasible caps raise with the sizing
    receipt."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    path = str(tmp_path / "sized_srp")
    similarity.srp_band_index(
        corpus, dim=64, threshold=0.4, target_recall=0.95
    ).write.partitionBy("band").parquet(path)
    idx = spark.read.parquet(path)
    cfg = idx.select("_bits", "_n_bands").distinct().collect()
    assert [(r["_bits"], r["_n_bands"]) for r in cfg] == [(6, 46)]
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    got = sorted(map(key, similarity.incremental_srp_dups(
        corpus, shard, threshold=0.4, n_bands=46, bits=6, dim=64, index=idx,
    ).collect()))
    want = sorted(map(key, similarity.incremental_srp_dups(
        corpus, shard, threshold=0.4, n_bands=46, bits=6, dim=64,
    ).collect()))
    assert got == want and got
    with pytest.raises(ValueError, match="no SRP construction"):
        similarity.srp_band_index(corpus, threshold=0.4, max_bands=1)


def test_incremental_exact_dups_is_bruteforce_and_shuffle_free(spark, emb):
    """The exact guaranteed leg: pairs equal the brute-force definition
    (knn-style full verify) on BOTH execution paths, bitwise; the
    default (vectorized) plan is map-only — one corpus scan through a
    MapInPandas BLAS stage, no join, no hash exchange — and the
    ``vectorized=False`` path keeps the plan-transparent broadcast
    nested-loop shape with no hash exchange either."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    fold = similarity.incremental_exact_dups(
        corpus, shard, threshold=0.4, vectorized=False
    )
    fold_plan = fold._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in fold_plan
    assert "Exchange hashpartitioning" not in fold_plan
    df = similarity.incremental_exact_dups(corpus, shard, threshold=0.4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Join" not in plan  # map-only: the matmul replaced the BNLJ
    assert "Exchange hashpartitioning" not in plan
    key = lambda r: (r["new_id"], r["corpus_id"], repr(r["sim"]))
    assert sorted(map(key, fold.collect())) == sorted(map(key, df.collect()))
    got = sorted((r["new_id"], r["corpus_id"], r["sim"]) for r in df.collect())
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    import math

    want = []
    for n, vn in rows.items():
        if n < cut:
            continue
        for o, vo in rows.items():
            if o >= cut or o == n:
                continue
            sim = sum(a * b for a, b in zip(vn, vo)) / (
                math.sqrt(sum(a * a for a in vn)) * math.sqrt(sum(b * b for b in vo))
            )
            if sim >= 0.4:
                want.append((n, o, round(sim, 6)))
    assert got == sorted(want) and got


def test_incremental_exact_dups_preserves_id_type(spark, emb):
    """Round-11 advice (medium): the vectorized path hardcoded a
    ``long`` id schema and int64-coerced ids, so string/UUID ids
    crashed and the two execution paths forked schemas.  Both paths
    must now carry the caller's id dtype end to end and agree pairwise
    on non-integer ids."""
    cut = int(emb.count() * 0.9)
    sids = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
        F.col("vec_id").alias("_n"),
    )
    corpus = sids.where(F.col("_n") < cut).drop("_n")
    shard = sids.where(F.col("_n") >= cut).drop("_n")
    vec = similarity.incremental_exact_dups(corpus, shard, threshold=0.4)
    fold = similarity.incremental_exact_dups(
        corpus, shard, threshold=0.4, vectorized=False
    )
    assert dict(vec.dtypes) == {
        "new_id": "string", "corpus_id": "string", "sim": "double",
    }
    assert dict(vec.dtypes) == dict(fold.dtypes)
    key = lambda r: (r["new_id"], r["corpus_id"], repr(r["sim"]))
    got = sorted(map(key, vec.collect()))
    assert got == sorted(map(key, fold.collect())) and got
    assert all(k[0].startswith("doc-") for k in got)
    # the empty-shard early return carries the same derived schema
    empty = similarity.incremental_exact_dups(
        corpus, shard.where(F.lit(False)), threshold=0.4
    )
    assert dict(empty.dtypes) == dict(vec.dtypes) and empty.count() == 0


def _two_cluster_drift_fixture(spark):
    """Deterministic dim-4 geometry for the fallback/recovery tests:
    OLD corpus generation = clusters at e1/e2 (the codebook's world),
    NEW generation = clusters near e3/e4 with tiny e1/e2 leanings, and
    a shard of truth pairs (x_i ~ e3+lean-e1, y_i ~ e3+lean-e2,
    sim(x,y) ~ 0.998) that the OLD codebook's cells SEPARATE (x->cell
    e1, y->cell e2) but the rebuilt codebook co-locates."""
    old_rows = []
    for i in range(20):
        old_rows.append((2 * i, [1.0, 0.01 + 0.001 * i, 0.0, 0.0]))
        old_rows.append((2 * i + 1, [0.01 + 0.001 * i, 1.0, 0.0, 0.0]))
    new_rows = []
    for i in range(30):
        new_rows.append((40 + 2 * i, [0.05, 0.0, 1.0 + 0.001 * i, 0.0]))
        new_rows.append((40 + 2 * i + 1, [0.0, 0.05, 0.0, 1.0 + 0.001 * i]))
    shard_rows = []
    for i in range(6):
        shard_rows.append((1000 + 2 * i, [0.04, 0.0, 0.9, 0.44 + 0.001 * i]))
        shard_rows.append((1000 + 2 * i + 1, [0.0, 0.04, 0.9, 0.44 + 0.001 * i]))
    schema = "vec_id long, embedding array<double>"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    shard = spark.createDataFrame(shard_rows, schema)
    return old, new, shard


def test_router_falls_back_to_exact_on_measured_miss(spark):
    """The round-10 fallback contract: when calibration MEASURES a miss
    at every probe level (truth pairs in hand) and a guaranteed leg is
    available, the router re-routes to it instead of under-delivering;
    fallback=False restores the warn-and-stay posture; an UNKNOWN
    recall (no truth pairs) never triggers the fallback."""
    import warnings as _warnings

    old, new, shard = _two_cluster_drift_fixture(spark)
    corpus = old.unionByName(new)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    # codebook trained on the OLD generation's world, where the shard's
    # x/y truth pairs land in different cells; k=16 so the blocking
    # route honestly WINS the pricing against the margin-halved exact
    # leg (k + 8N/k < N at N=160) and the miss is discovered by
    # calibration, not by arithmetic
    cents = similarity.ivf_train(
        corp.where(F.col("_vid") < 40), 40, n_centroids=16, num_iter=2
    )
    cells = similarity.ivf_cells_frame(corpus, cents, nprobe=1)
    key = lambda r: (r["new_id"], r["corpus_id"], r["sim"])
    receipt = {}
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = sorted(map(key, similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            ivf_centroids=cents, ivf_cells=cells, dim=4, max_probe=1,
            calibrate=True, plan_out=receipt,
        ).collect()))
    assert receipt["strategy"] == "ivf"  # pricing still picks blocking
    assert receipt["sample_truth_pairs"] > 0
    assert receipt["recall_by_probe"][0] < 0.95  # the measured miss
    assert receipt["fallback"] == "exact" and receipt["met_target"] is True
    assert any("falling back" in str(w.message) for w in caught)
    want = sorted(map(key, similarity.incremental_exact_dups(
        corpus, shard, threshold=0.4,
    ).collect()))
    assert got == want and got
    # fallback=False: the old warn-and-stay-at-sink-width posture
    receipt2 = {}
    stay = sorted(map(key, similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        ivf_centroids=cents, ivf_cells=cells, dim=4, max_probe=1,
        calibrate=True, fallback=False, plan_out=receipt2,
    ).collect()))
    assert "fallback" not in receipt2 and receipt2["met_target"] is False
    assert stay == sorted(map(key, similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=1, centroids=cents,
        corpus_cells=cells,
    ).collect()))
    assert set(stay) < set(want)  # the miss was real: pairs were lost


def test_rebuild_policy_e2e_drift_fires_rebuild_recall_recovers(spark, tmp_path):
    """The round-10 e2e chain (verdict item 2 'done' criterion): a
    drifted corpus trips the s32 gauge, index_rebuild_policy decides
    rebuild, ivf_index_rebuild recovers, and the router's CALIBRATED
    ingest recall goes from a measured miss to meeting the target on
    the same shard."""
    old, new, shard = _two_cluster_drift_fixture(spark)
    corpus = old.unionByName(new)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    # codebook trained on the OLD generation only — the drifted world
    cents = similarity.ivf_train(
        corp.where(F.col("_vid") < 40), 40, n_centroids=2, num_iter=2
    )
    path = str(tmp_path / "cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=1).write.partitionBy(
        "_cell"
    ).parquet(path)
    # 1. the policy consumes the three gauges and decides rebuild
    pol = similarity.index_rebuild_policy(
        spark.read.parquet(path), cents, old, new
    ).first()
    assert pol["is_drifted"] and pol["decision"] == "rebuild"
    assert not pol["config_stale"]  # the sink matches its own codebook
    assert "distribution_drift" in pol["reason"]
    # 2. before the rebuild: calibrated recall is a measured miss
    receipt = {}
    similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        ivf_centroids=cents, ivf_cells=spark.read.parquet(path), dim=4,
        max_probe=1, calibrate=True, fallback=False, exact_allowed=False,
        plan_out=receipt,
    ).count()
    assert receipt["sample_truth_pairs"] > 0
    assert receipt["met_target"] is False
    before = receipt["recall_by_probe"][0]
    assert before < 0.95
    # 3. the recovery op the policy points at
    rebuilt = similarity.ivf_index_rebuild(
        spark, path, corpus, nprobe=1, n_centroids=2, num_iter=2, n_rows=160,
    )
    # 4. after: same shard, same widths — the target is met
    receipt2 = {}
    similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.4, target_recall=0.95,
        ivf_centroids=rebuilt, ivf_cells=spark.read.parquet(path), dim=4,
        max_probe=1, calibrate=True, fallback=False, exact_allowed=False,
        plan_out=receipt2,
    ).count()
    assert receipt2["met_target"] is True
    assert receipt2["recall_by_probe"][0] >= 0.95 > before
    # and a non-drifted split no longer trips the policy (halves that
    # interleave both clusters have equal means; hot_share=0.6 because a
    # k=2 sink's top-cell floor is ~0.5 by construction)
    pol2 = similarity.index_rebuild_policy(
        spark.read.parquet(path), rebuilt,
        corpus.where((F.col("vec_id") / 2).cast("long") % 2 == 0),
        corpus.where((F.col("vec_id") / 2).cast("long") % 2 == 1),
        hot_share=0.6,
    ).first()
    assert pol2["decision"] == "keep" and pol2["reason"] == "healthy"


def test_srp_index_measured_pairs_matches_occupancy(spark, emb):
    """The measured-occupancy candidate estimate must equal the plain
    Σbucket²/N arithmetic on the index it prices, and scale linearly
    in the shard size (the S-invariance the streaming router relies
    on)."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    idx = similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64)
    got = similarity.srp_index_measured_pairs(idx, 100)
    counts = (
        idx.groupBy("band", "bhash").count().select("count").toPandas()["count"]
    )
    want = 100 * float((counts * counts).sum()) / float(cut)
    assert abs(got - want) < 1e-6 * want
    assert abs(similarity.srp_index_measured_pairs(idx, 200) - 2 * got) < 1e-6
    # empty index: fail loudly, never price zero
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        similarity.srp_index_measured_pairs(idx.limit(0), 10)


def test_router_prices_srp_from_measured_occupancy(spark, emb):
    """Round-11: when the router holds the actual SRP index it prices
    the LSH leg from MEASURED bucket occupancy, which by Cauchy-Schwarz
    is always ≥ the uniform-rate closed-form floor — so a hot-bucketed
    corpus can never make the router UNDER-price the LSH leg.  The
    receipt carries the measured volume and the floor side by side,
    the route still meets the target (a guaranteed leg), and the pair
    set matches the chosen leg's hand-run function."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    idx = similarity.srp_band_index(
        corpus, dim=64, threshold=0.4, target_recall=0.95
    ).localCheckpoint(eager=True)
    receipt: dict = {}
    got = sorted(
        (r["new_id"], r["corpus_id"], r["sim"])
        for r in similarity.incremental_cosine_dups_auto(
            corpus, shard, threshold=0.4, target_recall=0.95,
            lsh_index=idx, dim=64, plan_out=receipt,
        ).collect()
    )
    assert receipt["met_target"] is True  # a guaranteed leg either way
    lsh_row = next(r for r in receipt["rows"] if r["method"] == "lsh")
    assert lsh_row["pricing"] == "measured_occupancy"
    assert receipt["lsh_measured_pairs"] == lsh_row["est_pairs"]
    # Cauchy-Schwarz: measured occupancy can only price AT or ABOVE
    # the uniform floor — the skew guard the round-11 change exists for
    assert lsh_row["est_pairs"] >= lsh_row["est_pairs_bound"] - 1e-6
    # the route the receipt names is the route whose hand-run pairs match
    if receipt["strategy"] == "exact":
        want_df = similarity.incremental_exact_dups(corpus, shard, threshold=0.4)
    else:
        assert receipt["strategy"] == "lsh"
        want_df = similarity.incremental_srp_dups(
            corpus, shard, threshold=0.4,
            n_bands=lsh_row["n_bands"], bits=lsh_row["bits"], dim=64, index=idx,
        )
    want = sorted(
        (r["new_id"], r["corpus_id"], r["sim"]) for r in want_df.collect()
    )
    assert got == want and got
    # config-only pricing (no index frame) keeps the closed-form floor
    rows = similarity.incremental_plan_rows(
        cut, emb.count() - cut, 0.4,
        lsh_cfg={"bits": 6, "n_bands": 46},
    )
    row = next(r for r in rows if r["method"] == "lsh")
    assert row["pricing"] == "closed_form"
    assert row["est_pairs"] == row["est_pairs_bound"]


def test_exact_leg_shard_size_guard(spark, emb):
    """The exact leg materializes the shard driver-side by design; a
    corpus passed as the 'shard' must fail loudly with a routing
    pointer BEFORE the collect, on both execution paths — and the cap
    is overridable for drivers that really have the memory."""
    import pytest as _pytest

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    for vec in (True, False):
        with _pytest.raises(ValueError, match="broadcast ceiling"):
            similarity.incremental_exact_dups(
                corpus, shard, threshold=0.4, vectorized=vec,
                max_shard_bytes=64,  # force the over-cap branch
            )
    # at the real default the daily slice sails through
    assert similarity.incremental_exact_dups(
        corpus, shard, threshold=0.4
    ).count() > 0


def test_join_cost_flops_embedded_precedence(spark, emb, tmp_path):
    """Round-13 verdict item 4: the per-join setup constant travels
    WITH the artifact.  Precedence: caller > embedded > 0.0 default;
    the plan receipt names the source; annotate + append carry the
    stamp; mixed stamps fail loudly."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    path = str(tmp_path / "srp_jc")
    similarity.srp_band_index(
        corpus, n_bands=8, bits=6, dim=64, join_cost_flops=7.5e8
    ).write.partitionBy("band").parquet(path)
    idx = spark.read.parquet(path)
    # embedded: read back from the artifact, source says so
    rcpt: dict = {}
    similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.9, lsh_index=idx, dim=64,
        calibrate=False, plan_out=rcpt,
    ).count()
    assert rcpt["join_cost_flops"] == 7.5e8
    assert rcpt["join_cost_source"] == "embedded"
    lsh_row = next(r for r in rcpt["rows"] if r["method"] == "lsh")
    assert lsh_row["est_cost"] == lsh_row["est_flops"] + 8 * 7.5e8
    # caller overrides embedded
    rcpt = {}
    similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.9, lsh_index=idx, dim=64,
        calibrate=False, plan_out=rcpt, join_cost_flops=1.0e6,
    ).count()
    assert rcpt["join_cost_flops"] == 1.0e6
    assert rcpt["join_cost_source"] == "caller"
    # no stamp anywhere: the 0.0 default (est_cost == est_flops)
    bare = similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64)
    rcpt = {}
    similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.9, lsh_index=bare, dim=64,
        calibrate=False, plan_out=rcpt,
    ).count()
    assert rcpt["join_cost_flops"] == 0.0
    assert rcpt["join_cost_source"] == "default"
    # annotate-after-build restamps; append carries the stamp forward
    similarity.srp_index_annotate_join_cost(spark, path, 9.0e8)
    assert (
        spark.read.parquet(path).select("_join_cost_flops").distinct()
        .collect()[0][0] == 9.0e8
    )
    similarity.srp_index_append(spark, path, shard)
    stamped = spark.read.parquet(path)
    vals = stamped.select("_join_cost_flops").distinct().collect()
    assert len(vals) == 1 and vals[0][0] == 9.0e8
    # a mixed-stamp sink is rejected at routing time
    import pytest as _pytest

    mixed = stamped.withColumn(
        "_join_cost_flops",
        F.when(F.col("vec_id") % 2 == 0, F.lit(1.0)).otherwise(
            F.col("_join_cost_flops")
        ),
    )
    with _pytest.raises(ValueError, match="_join_cost_flops"):
        similarity.ingest_artifact_cfgs(lsh_index=mixed)


def test_resolve_join_cost_flops_rule():
    """The precedence rule in isolation, incl. the conservative MAX
    across disagreeing artifacts."""
    assert similarity.resolve_join_cost_flops(None) == (0.0, "default")
    assert similarity.resolve_join_cost_flops(2.0) == (2.0, "caller")
    assert similarity.resolve_join_cost_flops(
        None, {"join_cost_flops": 3.0}, {"join_cost_flops": 5.0}, None
    ) == (5.0, "embedded")
    # caller 0.0 is an explicit value, not "unset"
    assert similarity.resolve_join_cost_flops(
        0.0, {"join_cost_flops": 3.0}
    ) == (0.0, "caller")


def test_stream_route_ignores_embedded_join_cost(spark, emb):
    """Round-14 contract: the streaming twin's once-before-start()
    route is derived at S=1 where every cost term is S-linear — an
    artifact-embedded _join_cost_flops constant (which is CONSTANT in
    S) must NOT move it, or the route would depend on a batch size the
    stream never knows.  A stamp absurdly large enough to flip any
    join-priced decision leaves the stream route unchanged, while the
    one-shot router (which holds the real S) DOES flip on the same
    artifact."""
    from projet_graphdb_spark.streaming.ingest_dedup import derive_stream_route

    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    bare = similarity.srp_band_index(corpus, n_bands=8, bits=6, dim=64)
    stamped = similarity.srp_band_index(
        corpus, n_bands=8, bits=6, dim=64, join_cost_flops=1e15
    )
    # threshold 0.2/target 0.2: the SRP leg is feasible and (margin-
    # halved) cheapest, so the baseline stream route is 'lsh'
    m_bare, *_ = derive_stream_route(cut, 64, 0.2, 0.2, lsh_index=bare)
    m_stamp, *_ = derive_stream_route(cut, 64, 0.2, 0.2, lsh_index=stamped)
    assert m_bare == "lsh" and m_stamp == m_bare
    # the one-shot router, holding the real S, prices the stamp and
    # flips the same decision to the map-only exact leg
    rcpt: dict = {}
    similarity.incremental_cosine_dups_auto(
        corpus, shard, threshold=0.2, target_recall=0.2,
        lsh_index=stamped, dim=64, calibrate=False, plan_out=rcpt,
    ).count()
    assert rcpt["join_cost_source"] == "embedded"
    assert rcpt["strategy"] == "exact"


def test_cell_appends_carry_join_cost_stamp(spark, emb, tmp_path):
    """Round-14 advice (medium): ivf_cells_append / imi_cells_append
    must carry a measured _join_cost_flops stamp forward onto the
    appended rows — the srp_index_append contract — or the append
    forks the parquet schema and the embedded measurement silently
    vanishes (or trips the distinct-values guard) on read-back."""
    n = emb.count()
    cut = int(n * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    day1 = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(
        F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
    )
    cents = similarity.ivf_train(corp, cut, n_centroids=4, num_iter=1)
    path = str(tmp_path / "ivf_jc")
    similarity.ivf_cells_frame(
        corpus, cents, nprobe=2, join_cost_flops=6.5e8
    ).write.parquet(path)
    similarity.ivf_cells_append(spark, path, cents, day1, nprobe=2)
    vals = (
        spark.read.parquet(path).select("_join_cost_flops").distinct()
        .collect()
    )
    assert len(vals) == 1 and vals[0][0] == 6.5e8
    # an UNstamped sink stays unstamped (no column materializes)
    bare = str(tmp_path / "ivf_bare")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.parquet(bare)
    similarity.ivf_cells_append(spark, bare, cents, day1, nprobe=2)
    assert "_join_cost_flops" not in spark.read.parquet(bare).columns
    # IMI twin
    cents1 = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    ipath = str(tmp_path / "imi_jc")
    similarity.imi_cells_frame(
        corpus, *cents1, p1=2, p2=2, dim=64, join_cost_flops=4.25e8
    ).write.parquet(ipath)
    similarity.imi_cells_append(
        spark, ipath, *cents1, new_vectors=day1, p1=2, p2=2, dim=64
    )
    ivals = (
        spark.read.parquet(ipath).select("_join_cost_flops").distinct()
        .collect()
    )
    assert len(ivals) == 1 and ivals[0][0] == 4.25e8


def test_cosine_dups_auto_sink_backed(spark, emb, both_modes):
    """Both routed branches of cosine_dups_auto reach their barriers
    with SPARK_GRAFT_CKPT_DIR set and return the default mode's rows:
    IVF at t=0.1 (the top-max_nprobe assignment and its sliced cells)
    and IMI through the n_rows override (the p_cap assignment and its
    sub-grid cells)."""
    import warnings as _w

    def run():
        got = {}
        for strategy, kw in (
            ("ivf", dict(threshold=0.1)),
            ("imi", dict(threshold=0.4, n_rows=10_000_000)),
        ):
            receipt = {}
            with _w.catch_warnings():
                _w.simplefilter("ignore")  # IMI's under-target warning
                rows = similarity.cosine_dups_auto(
                    emb, plan_out=receipt, **kw
                ).collect()
            assert receipt["strategy"] == strategy
            got[strategy] = sorted(map(tuple, rows))
        return got

    default, sink = both_modes(run)
    assert sink == default and default["ivf"] and default["imi"]


def test_incremental_cosine_dups_auto_sink_backed(spark, emb, both_modes):
    """The router's IVF and IMI sink legs (uncalibrated, exact leg
    excluded) materialize the shard assignment; in sink-backed mode
    they return the default mode's rows."""
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut)
    corp = corpus.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    ivf_cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    imi_cents = similarity.imi_train(corp, cut, k1=4, k2=4, num_iter=1, dim=64)
    legs = {
        "ivf": dict(
            ivf_centroids=ivf_cents,
            ivf_cells=similarity.ivf_cells_frame(corpus, ivf_cents, nprobe=2),
        ),
        "imi": dict(
            imi_centroids=imi_cents,
            imi_cells=similarity.imi_cells_frame(
                corpus, *imi_cents, p1=2, p2=2, dim=64
            ),
        ),
    }

    def run():
        got = {}
        for strategy, arts in legs.items():
            receipt = {}
            rows = similarity.incremental_cosine_dups_auto(
                corpus, shard, threshold=0.4, target_recall=0.95, dim=64,
                calibrate=False, exact_allowed=False, plan_out=receipt,
                **arts,
            ).collect()
            assert receipt["strategy"] == strategy
            got[strategy] = sorted(
                (r["new_id"], r["corpus_id"], r["sim"]) for r in rows
            )
        return got

    default, sink = both_modes(run)
    assert sink == default and default["ivf"] and default["imi"]
