"""The barrier-free MinHash-LSH path (``dedup.minhash_lsh_pairs``): rows
equal to the join pipeline it replaced, the Arrow signature and Jaccard
kernels against plain Python, the carry loop across batch and partition
cuts, NULL / degenerate text, and the plan and job shape."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from projet_graphdb_spark.functions import dedup, pyudf, text

from conftest import SF_SMALL, SF_TINY
from test_similarity import _jobs_in, _python_audit, _spy_materialize

# ---------------------------------------------------------------- reference
# A test-local copy of the pipeline minhash_lsh_pairs replaced: shingles by
# a transform over window starts, relational signatures (explode + one
# min aggregate per hash), a band self-join, dropDuplicates, two shingle
# fetch joins and an array_intersect verify.


def _old_shingles(text_col, n=3):
    toks = F.split(F.trim(text_col), r"\s+")
    return F.array_distinct(
        F.when(F.length(F.trim(text_col)) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def _old_sig(docs, hash, num_hashes=32):
    h = dedup._hash_fn(hash)
    base = docs.select(
        F.col("doc_id").alias("_did"),
        F.transform(_old_shingles(F.col("text")), lambda s: h(s)).alias("_sh"),
    ).localCheckpoint()
    mask = (1 << 31) - 1
    post = base.select("_did", F.explode("_sh").alias("_h")).withColumn(
        "_h31", F.col("_h").bitwiseAND(F.lit(mask))
    )
    mins = []
    for i in range(num_hashes):
        a, b = dedup._minhash_coeffs(i)
        perm = F.shiftright(F.col("_h31") * F.lit(a) + F.lit(b), 29).bitwiseAND(F.lit(mask))
        mins.append(F.min(perm).alias(f"m{i}"))
    return base, post.groupBy("_did").agg(*mins)


def _old_pairs(base, sig, hash, threshold, bands=8, num_hashes=32):
    banded = dedup._band_frame(sig, num_hashes, bands, dedup._hash_fn(hash))
    a = banded.select("band", "bhash", F.col("_did").alias("id_a"))
    b = banded.select("band", "bhash", F.col("_did").alias("id_b"))
    cand = (
        a.join(b, ["band", "bhash"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").dropDuplicates()
    )
    pairs = cand.join(
        base.select(F.col("_did").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(base.select(F.col("_did").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def _rows(df):
    """Sorted rows with floats as their ``repr``: equal iff bit-identical."""
    return sorted(tuple(repr(v) if isinstance(v, float) else v for v in r) for r in df.collect())


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


# ----------------------------------------------------------------- parity


@pytest.mark.parametrize("sf", [SF_TINY, SF_SMALL], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("hash", ["md5", "xxhash64"])
def test_pairs_equal_join_pipeline(spark, sf, hash):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    base, sig = _old_sig(docs, hash)
    for t in (0.05, 0.2, 0.5):
        want = _rows(_old_pairs(base, sig, hash, t))
        got = _rows(dedup.minhash_lsh_pairs(docs, threshold=t, hash=hash))
        assert got == want and want, (hash, t)


@pytest.mark.parametrize("hash", ["md5", "xxhash64"])
def test_band_index_rows_equal_relational_signatures(spark, tiny, hash):
    """``lsh_band_index`` keys from the Arrow signatures equal the keys
    banded from the relational min aggregate, so persisted indexes stay
    valid."""
    _, sig = _old_sig(tiny, hash)
    want = _rows(dedup._band_frame(sig, 32, 8, dedup._hash_fn(hash)))
    got = _rows(dedup.lsh_band_index(tiny, hash=hash).select("doc_id", "band", "bhash"))
    assert got == want and len(got) == 8 * tiny.count()


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"},
        {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"},
    ],
    ids=["batch3", "noaqe3"],
)
def test_bucket_verify_carries_blocks_across_cuts(spark, tiny, conf):
    """Blocks that span Arrow batches, or share a partition with many
    others, verify exactly as in the join pipeline."""
    base, sig = _old_sig(tiny, "md5")
    want = _rows(_old_pairs(base, sig, "md5", 0.05))
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = _rows(dedup.minhash_lsh_pairs(tiny, threshold=0.05, hash="md5"))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == want and want


# ------------------------------------------------------------ edge rows

_EDGE = [
    (1, ""), (2, "   "), (3, "\t"), (4, "\t"), (5, "solo"), (6, "solo"),
    (7, "two words"), (8, "two words"), (9, None), (10, None), (11, ""),
    (12, "w x y z"), (12, "w x y z"), (13, "w x y z"),
]


def test_edge_rows(spark):
    """Empty and all-space text has no shingle and pairs with nothing;
    tab-only text is one shingle (``split`` of a tab is two empty
    tokens); one- and two-token texts are one shingle of all tokens.
    NULL text pairs with nothing.  An id repeated in a bucket is
    verified once per row, and ``distinct`` leaves one (12, 13) row."""
    docs = spark.createDataFrame(_EDGE, "doc_id long, text string")
    got = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(docs, threshold=0.1).collect())
    assert got == [(3, 4, 1.0), (5, 6, 1.0), (7, 8, 1.0), (12, 13, 1.0)]


def test_null_text_is_no_near_duplicate(spark):
    """Two NULL-text documents used to share one empty-string shingle
    and pair at jaccard 1.0; like the oracle's ``_SHINGLES``, NULL text
    now has no shingle."""
    docs = spark.createDataFrame([(1, None), (2, None), (3, "a b c")], "doc_id long, text string")
    for h in ("md5", "xxhash64"):
        assert dedup.minhash_lsh_pairs(docs, threshold=0.0, hash=h).collect() == []
        assert dedup.lsh_band_index(docs, hash=h).select("doc_id").distinct().collect() == [(3,)]


def test_null_text_in_every_shingle_frame_caller(spark):
    """What NULL text gives each ``shingle_frame`` caller: an empty
    shingle array, so no n-gram pair, no SimHash row, no "" n-gram, and
    a contamination row of 0 shingles (NULL text hashes into the test
    split)."""
    docs = spark.createDataFrame(
        [(1, None, "en"), (2, None, "en"), (3, "a b c d", "en")],
        "doc_id long, text string, lang string",
    )
    sh = {r.doc_id: r._sh for r in dedup.shingle_frame(docs, 3, "doc_id", "text").collect()}
    assert sh == {1: [], 2: [], 3: ["a b c", "b c d"]}
    assert dedup.ngram_jaccard_pairs(docs, "lang", threshold=0.0).collect() == []
    assert [r.doc_id for r in dedup.simhash_table(docs).collect()] == [3]
    assert {r.ngram for r in text.top_ngrams(docs).collect()} == {"a b c", "b c d"}
    contam = {r.doc_id: tuple(r)[1:] for r in text.contamination(docs).collect()}
    assert contam[1] == contam[2] == (0, 0, 0.0)


_PROBE = [
    "", " ", "   ", "\t", "\t\t", "a", "a b", "a b c", "a b c d e", " a  b\tc ",
    "\ta b c", "a b c\t", "a b c d", "a　b c d", "x x x x", "a b a b a b",
    "\n", "one\ntwo three", "a  ", "  z y",
]


def test_zipped_shingles_equal_window_transform(spark, tiny):
    """The zipped-slice shingles equal the old per-window transform on a
    20-row probe and on the fixture documents (every non-NULL text)."""
    probe = spark.createDataFrame(list(enumerate(_PROBE)), "doc_id long, text string")
    for df in (probe, tiny):
        rows = df.select(
            dedup.word_shingles(F.col("text"), 3).alias("new"),
            _old_shingles(F.col("text")).alias("old"),
        ).collect()
        assert all(r.new == r.old for r in rows)
    assert probe.select(dedup.word_shingles(F.lit(None).cast("string"))).first()[0] == []


# ----------------------------------------------------------- plan and jobs


def _lambda_bodies(plan):
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out, i = [], plan.find("lambdafunction(")
    while i >= 0:
        depth, j = 0, i + len("lambdafunction")
        for j in range(j, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        out.append(plan[i : j + 1])
        i = plan.find("lambdafunction(", i + 1)
    return out


def test_plan_is_one_linear_pass(spark, tiny):
    """No join, no split captured by a lambda, and exactly two Python
    nodes: the signature pass and the bucket verify."""
    out = dedup.minhash_lsh_pairs(tiny, threshold=0.2, hash="md5")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    bodies = _lambda_bodies(plan)
    assert bodies and not [b for b in bodies if "split(" in b]
    assert [n for n, _ in _python_audit().python_nodes(plan)] == ["MapInArrow", "MapInArrow"]


def test_jobs_and_barriers(spark, tiny, monkeypatch):
    calls = _spy_materialize(monkeypatch)
    rows, jobs = _jobs_in(
        spark, lambda: dedup.minhash_lsh_pairs(tiny, threshold=0.2, hash="md5").collect()
    )
    assert rows and jobs <= 3, jobs
    assert calls == []


def test_shingle_frame_takes_one_barrier(spark, tiny, monkeypatch):
    calls = _spy_materialize(monkeypatch)
    _, jobs = _jobs_in(spark, lambda: dedup.shingle_frame(tiny, 3, "doc_id", "text"))
    assert (len(calls), jobs) == (1, 1)


# ------------------------------------------------------------------ kernels


def test_minhash_sigs_match_python_formula():
    rng = random.Random(7)
    sets = [[rng.randrange(-(2**63), 2**63) for _ in range(rng.randrange(1, 9))] for _ in range(50)]
    coeffs = [dedup._minhash_coeffs(i) for i in range(32)]
    off = np.cumsum([0] + [len(s) for s in sets])
    got = pyudf.minhash_sigs(off, np.concatenate(sets).astype(np.int64), coeffs)
    mask = (1 << 31) - 1
    want = [[min((((h & mask) * a + b) >> 29) & mask for h in s) for a, b in coeffs] for s in sets]
    assert got.tolist() == want


@pytest.mark.parametrize("sizes", [[2], [2, 1, 7, 3], [800]], ids=["pair", "mixed", "pieces"])
def test_verify_jaccard_matches_python_sets(sizes):
    """Pairs within each block only, with duplicate hashes inside a row
    (size counts them, the intersection does not), a repeated id (never
    paired with itself) and, for 800 rows, more gathered elements than
    one piece holds."""
    rng = random.Random(len(sizes) * 1000 + sum(sizes))
    ids = np.concatenate([sorted(rng.randrange(s) for _ in range(s)) for s in sizes]).astype(np.int64)
    n = len(ids)
    sets = [[rng.randrange(12) for _ in range(rng.randrange(1, 7))] for _ in range(n)]
    off = np.cumsum([0] + [len(s) for s in sets])
    vals = np.concatenate(sets).astype(np.int64)
    starts = np.cumsum([0] + sizes)
    for t in (0.0, 0.3):
        chunks = list(pyudf.verify_jaccard(ids, off, vals, sizes, t))
        got = sorted(
            (int(a), int(b), float(j)) for c in chunks for a, b, j in zip(*c)
        )
        want = []
        for lo, hi in zip(starts, starts[1:]):
            for i in range(lo, hi):
                for k in range(i + 1, hi):
                    inter = len(set(sets[i]) & set(sets[k]))
                    jac = inter / (len(sets[i]) + len(sets[k]) - inter)
                    if ids[i] < ids[k] and jac >= t:
                        want.append((int(ids[i]), int(ids[k]), jac))
        assert got == sorted(want)


def test_stream_blocks_carries_across_batches():
    """Blocks are the runs of equal keys across batch cuts; one-row
    blocks never reach ``block``; NaN keys group together."""
    keys = np.array([1, 1, 2, 3, 3, 3, 4, np.nan, np.nan, 5])
    vals = np.arange(len(keys))
    for cuts in ([10], [1, 2, 3, 4], [3, 7], [1] * 10):
        frames, s = [], 0
        for c in cuts:
            frames.append(([keys[s : s + c]], vals[s : s + c]))
            s += c
        seen = []

        def block(pieces, sizes):
            rows = np.concatenate(pieces).tolist()
            for e, size in zip(np.cumsum(sizes), sizes):
                seen.append(rows[e - size : e])

        ticks = list(pyudf.stream_blocks(iter(frames), lambda p, rows: p[rows], block))
        assert seen == [[0, 1], [3, 4, 5], [7, 8]], cuts
        assert len(ticks) == len(cuts) + 1
