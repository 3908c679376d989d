"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each variant):

* ``exact_dedup`` — one hash-aggregate over a fingerprint: a single
  shuffle on md5(text), the cheapest possible full-corpus dedup.
* ``ngram_jaccard_pairs`` — *blocked* exact near-dup: all-pairs Jaccard
  inside small blocks (e.g. a language or source partition).  Quadratic
  only within a block; the self-join shuffles on the block key, so block
  sizing is the scale knob.
* ``minhash_lsh_pairs`` — the sub-quadratic scale path: shingle →
  MinHash signature (relational min-aggregate, map-side combined) →
  banded LSH bucket join (id-only shuffle on band hash) → exact
  verification of candidates.  100 TB-safe: cost is O(corpus) +
  O(candidate pairs), never all-pairs.
* ``simhash64`` — 64-bit near-dup fingerprint; hamming-close fingerprints
  ≈ similar docs.  Map-only signature; pairing via band join on nibbles.

All signatures use built-in hash functions (xxhash64/crc32) inside
whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize
from .text import fingerprint

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One keeper (min id) per distinct canonical text.

    Output: (fp, keep_id, n_dups).  Single shuffle on the fingerprint.
    """
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text (array<string>).

    NOTE: higher-order functions are CodegenFallback (interpreted) in
    Spark, and interpreted lambdas re-evaluate captured subtrees per
    element — referencing this whole expression inside another lambda
    re-runs the split per shingle.  Prefer ``shingle_frame`` which
    materializes tokens/shingles behind checkpoints.
    """
    return shingles_of_tokens(F.split(F.trim(text), r"\s+"), text, n)


def shingles_of_tokens(toks: Column, text: Column, n: int) -> Column:
    # slide an n-window over token positions; empty text → empty array
    return F.array_distinct(
        F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def shingle_frame(
    docs: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    extra_cols: list = (),
    hash_fn=None,
) -> DataFrame:
    """(id, *extra, _sh) with shingles MATERIALIZED (eager checkpoint).

    Two stages, each behind a barrier, so that every downstream lambda
    captures a plain attribute: (1) tokens from one split per row,
    (2) shingles sliding over the token attribute.  Without the barriers
    Catalyst collapses the projections and interpreted HOFs re-split the
    text once per element (quadratic per row, catastrophic when nested).

    ``hash_fn``: fold per-shingle hashing (e.g. ``_hash_fn("md5")``)
    into the SECOND projection, so callers that only ever consume
    hashed shingles skip their own third materialization pass — one
    fewer eager job per call (r16: the streaming ingest path paid that
    extra pass per MICRO-BATCH).  Safe against the quadratic trap: the
    outer ``transform``'s input array is evaluated once per row and the
    hash lambda captures only its own element variable.  ``_sh`` is
    then ``array<long>`` instead of ``array<string>``."""
    toks = materialize(docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(text_col).alias("_txt"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    ))
    sh = shingles_of_tokens(F.col("_toks"), F.col("_txt"), n)
    if hash_fn is not None:
        sh = F.transform(sh, lambda s: hash_fn(s))
    return materialize(toks.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        sh.alias("_sh"),
    ))


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 256,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard similarity within blocks
    (threshold > 0), via an inverted shingle index with a document-
    frequency cap on the postings.

    ``max_df`` is the scale governor: a shingle occurring in k documents
    of a block contributes k² rows to the self-join, so ONE ubiquitous
    stop-shingle would degenerate the join (10^10 rows at k=10^5).
    Shingles with per-block document frequency > ``max_df`` are dropped
    from the index BEFORE the join, bounding worst-case fan-out at
    max_df² per shingle; Jaccard is then computed over the capped
    shingle sets (set sizes recomputed after the cap, so the value is a
    well-defined Jaccard of the filtered sets, mirrored exactly by the
    oracle).  ``max_df=None`` disables the cap.

    Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    # INVERTED-INDEX formulation: explode (doc, shingle-hash) postings,
    # equi-join postings on (block, shingle), count shared shingles per
    # pair = |intersection|, union from precomputed set sizes.  Compared
    # to the all-pairs array_intersect join this (a) never materializes
    # per-pair array copies, (b) builds no per-pair hash set (Spark's
    # array_intersect allocates an OpenHashSet per invocation), and
    # (c) shuffles on the high-cardinality (block, shingle) key — full
    # parallelism and AQE skew-splitting at any scale, no broadcast
    # needed.  Pairs sharing zero shingles never appear, which is exactly
    # the jaccard < threshold case (threshold > 0).
    # Shingles are hashed to longs first: xxhash64 collisions are
    # negligible (P ≈ |vocab|²/2⁶⁵), so values equal the exact
    # string-set Jaccard the DuckDB oracle computes.
    postings = (
        shingle_frame(docs, n, id_col, text_col, [block_col])
        .select(
            F.col(id_col).alias("_did"),
            F.col(block_col).alias("_blk"),
            F.transform(F.col("_sh"), lambda s: F.xxhash64(s)).alias("_shh"),
        )
        .select("_did", "_blk", F.explode("_shh").alias("_s"))
    )
    if max_df is not None:
        # stop-shingle cap: count per-(block, shingle) document frequency
        # (map-side-combined, same shuffle key as the self-join below)
        # and keep only rare postings
        keep = (
            postings.groupBy("_blk", "_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_blk", "_s")
        )
        postings = postings.join(keep, on=["_blk", "_s"])
    # set sizes AFTER the cap, so jaccard is exact over the kept sets
    sizes = postings.groupBy("_did").agg(F.count(F.lit(1)).alias("_sz"))
    postings = postings.join(sizes, on="_did")
    a = postings.select(
        "_blk", "_s", F.col("_did").alias("id_a"), F.col("_sz").alias("sz_a")
    )
    b = postings.select(
        "_blk", "_s", F.col("_did").alias("id_b"), F.col("_sz").alias("sz_b")
    )
    inter = (
        a.join(b, on=["_blk", "_s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("_i")
    jac = F.col("_i").cast("double") / union.cast("double")
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


_MASK31 = (1 << 31) - 1


def md5_hash60(c: Column) -> Column:
    """60-bit hash from the md5 hex prefix (15 nibbles) — slower than
    xxhash64 but bit-reproducible in any engine with md5(), which is what
    lets the DuckDB oracle replay the exact MinHash/SimHash pipelines."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _minhash_coeffs(i: int) -> tuple:
    """Deterministic "random" multiply-shift coefficients for hash i."""
    a = ((2 * i + 1) * 0x9E3779B97F4A7C15) & _MASK31 or 1
    b = (i * 0xC2B2AE3D27D4EB4F + 0x165667B19E3779F9) & _MASK31
    return a, b


def _perm(h: Column, i: int) -> Column:
    """Multiply-shift universal hash: bits 29..59 of (a_i*h + b_i), h 31-bit.

    Division-free on purpose: ANSI ``%``/``/`` are an order of magnitude
    slower than shift/mask (interpreted DivModLike.eval, and overflow
    checks); operands stay below 2^62, so ANSI never fires.
    """
    a, b = _minhash_coeffs(i)
    return F.shiftright(h * F.lit(a) + F.lit(b), 29).bitwiseAND(F.lit(_MASK31))


def minhash_signatures(
    hashed_shingles: DataFrame,
    num_hashes: int = 32,
    id_col: str = "_did",
    sh_col: str = "_sh",
) -> DataFrame:
    """MinHash signatures computed RELATIONALLY: explode (doc, shingle-hash)
    postings, then one hash-aggregate with ``num_hashes`` ``min`` columns.

    Every expression is whole-stage codegen (no interpreted higher-order
    lambdas — those were ~3× slower here), and partial aggregation
    (map-side combine) reduces each doc to ``num_hashes`` longs *before*
    the shuffle — shuffle volume is O(docs · num_hashes · 8 bytes)
    regardless of document length, the property that matters at 100 TB.

    Output: (id_col, m0..m{num_hashes-1}).
    """
    post = hashed_shingles.select(
        F.col(id_col), F.explode(sh_col).alias("_h")
    ).withColumn("_h31", F.col("_h").bitwiseAND(F.lit(_MASK31)))
    return post.groupBy(id_col).agg(*_minhash_agg_cols(num_hashes))


def minhash_signature_of_shingles(sh: Column, num_hashes: int = 32) -> Column:
    """Column-expression MinHash signature (array<long>) over a
    MATERIALIZED shingle array — same hash family as
    ``minhash_signatures``.  Kept for per-row use; the relational form
    is the fast path (HOF lambdas are interpreted, and each part
    re-evaluates its captured subtree, so ``sh`` must be an attribute).
    """
    hashes = F.transform(sh, lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK31)))

    def perm_fn(i: int):
        # factory closure: PySpark inspects lambda arity, so the hash
        # index must NOT appear as a (defaulted) lambda parameter
        return lambda h: _perm(h, i)

    return F.array(
        *[F.array_min(F.transform(hashes, perm_fn(i))) for i in range(num_hashes)]
    )


def _hash_fn(hash: str):
    if hash == "xxhash64":
        return F.xxhash64
    if hash == "md5":
        return md5_hash60
    raise ValueError(f"unknown hash {hash!r}")


# Memoized unresolved Column trees (r16): building the 32-hash MinHash
# aggregate / band-explode expressions costs ~100s of py4j round trips
# (~0.3-0.9 s of pure driver time) and is a pure function of the
# config, so each tree is built once per process and reused — Column
# objects are unresolved expression templates, reusable across any
# DataFrame/plan in the same JVM gateway.  This is EXPRESSION reuse,
# not data caching: no row, file, or result is held.  The streaming
# ingest drain previously paid the full construction once per
# MICRO-BATCH; the d-family pays it once per query.
_EXPR_CACHE: dict = {}


def _minhash_agg_cols(num_hashes: int) -> list:
    key = ("mh_agg", num_hashes)
    cols = _EXPR_CACHE.get(key)
    if cols is None:
        cols = [
            F.min(_perm(F.col("_h31"), i)).alias(f"m{i}")
            for i in range(num_hashes)
        ]
        _EXPR_CACHE[key] = cols
    return cols


def _band_explode_col(num_hashes: int, bands: int, band_hash):
    key = ("band_explode", num_hashes, bands, band_hash)
    col = _EXPR_CACHE.get(key)
    if col is None:
        rows_per_band = num_hashes // bands
        col = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        band_hash(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(
                                        f"m{j * rows_per_band + k}"
                                    ).cast("string")
                                    for k in range(rows_per_band)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for j in range(bands)
                ]
            )
        )
        _EXPR_CACHE[key] = col
    return col


def minhash_tuned_bands(num_hashes: int = 32, threshold: float = 0.5) -> int:
    """Band count for banded MinHash-LSH whose S-curve midpoint best
    matches the target Jaccard ``threshold``: with r = num_hashes/b rows
    per band, a pair at similarity s collides in ≥1 band with
    probability 1-(1-s^r)^b, and the curve's midpoint sits at
    ≈ (1/b)^(1/r).  Picking b (among divisors of num_hashes) closest to
    the threshold maximizes recall above it while keeping candidates
    below it rare — the principled default when nobody hand-tuned.

    (Unlike SRP's ``srp_auto_bits``, no corpus-size term belongs here:
    MinHash band keys live in a 64-bit hash domain, so bucket occupancy
    is driven by actual near-duplicate content, not by a fixed bucket
    count that N outgrows.)
    """
    divisors = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    return min(
        divisors,
        key=lambda b: abs((1.0 / b) ** (b / num_hashes) - threshold),
    )


def minhash_shared(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
    checkpoint_sig: bool = True,
) -> tuple:
    """``(hashed-shingle base, signature frame)`` pair for
    ``minhash_lsh_pairs`` — compute once, reuse across several band
    configurations (d23's sensitivity sweep runs bands ∈ {4,8,16} over
    the SAME signatures; without sharing, the shingle + 32-min-hash
    aggregate — the dominant cost — is paid per setting).

    ``checkpoint_sig``: materialize the signature frame (docs ×
    num_hashes longs — tiny) so re-banding replays nothing.  A
    single-config caller should pass False: the extra checkpoint job
    buys nothing when the signatures feed exactly one band explode.

    Returns ``(base, sig, config)`` where ``config`` records the
    (num_hashes, n, hash) the frames were built with —
    ``minhash_lsh_pairs`` asserts it against its own parameters, so a
    mismatched reuse (sig built with 32 hashes, caller banding for 16)
    fails loudly instead of slicing band keys from the wrong signature
    layout."""
    sh_hash = _hash_fn(hash)
    # hashed shingle set, kept for the exact-verification step (long
    # arrays intersect much faster than string arrays).  Hashing is
    # folded into shingle_frame's second materialization (hash_fn=), so
    # the old third checkpoint pass is gone (r16: one fewer eager job —
    # per MICRO-BATCH on the streaming ingest path); both consumers
    # (signature aggregate, verify) still read one materialized frame
    # through the trivial rename projection.
    base = shingle_frame(docs, n, id_col, text_col, hash_fn=sh_hash).select(
        F.col(id_col).alias("_did"), "_sh"
    )
    sig = minhash_signatures(base, num_hashes)
    if checkpoint_sig:
        sig = materialize(sig)
    # config records the COLUMN layout too (round-7 advice): a shared
    # tuple built from a different id/text column silently hashes the
    # wrong corpus; the assert in minhash_lsh_pairs must catch that.
    return base, sig, {
        "num_hashes": num_hashes, "n": n, "hash": hash,
        "text_col": text_col, "id_col": id_col,
    }


def _band_frame(sig: DataFrame, num_hashes: int, bands: int, band_hash) -> DataFrame:
    """(_did, band, bhash) from a signature frame — the slim banded key
    shared by the self-join path (:func:`minhash_lsh_pairs`) and the
    persisted-index incremental path (:func:`lsh_band_index` /
    :func:`incremental_lsh_dups`).  The band key is a pure per-document
    function of the signature, so two frames banded with the same
    (num_hashes, bands, hash) collide identically regardless of which
    corpus they came from — the property that makes the index reusable
    across ingest batches."""
    return sig.select(
        F.col("_did"),
        _band_explode_col(num_hashes, bands, band_hash).alias("_b"),
    ).select("_did", F.col("_b.band").alias("band"), F.col("_b.bhash").alias("bhash"))


def lsh_band_index(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
) -> DataFrame:
    """The PERSISTABLE corpus near-dup index: one (id, band, bhash) row
    per document per band — ``bands × N`` rows of three longs, built in
    one linear pass (shingle → minhash → band hash, no join, no
    shuffle beyond the scan).

    MinHash's permutation family is corpus-INDEPENDENT (fixed
    multiply-shift coefficients over a fixed shingle hash — unlike,
    say, a trained IVF codebook), so an index written once stays valid
    as new shards arrive.  That is what makes near-dup dedup
    incremental at 100 TB: index the corpus once, sink it to parquet
    partitioned by ``band`` (bucket-by ``bhash`` for a co-located
    join), and every future ingest batch joins against the index
    instead of re-reading the corpus — see
    :func:`incremental_lsh_dups`.

    The LSH config is embedded as constant columns (``_num_hashes``,
    ``_n``, ``_hash`` — RLE'd to nothing in parquet, column-pruned out
    of the ingest join) so a read-back index carries its own
    provenance: :func:`incremental_lsh_dups` refuses an index whose
    config doesn't match the call — the same fail-loudly contract as
    ``minhash_shared``'s shared tuple (a shard banded with 32 hashes
    against a 64-hash index would silently match nothing)."""
    _, sig, _ = minhash_shared(
        docs, num_hashes, n, text_col, id_col, hash, checkpoint_sig=False
    )
    return _band_frame(sig, num_hashes, bands, _hash_fn(hash)).select(
        F.col("_did").alias(id_col),
        "band",
        "bhash",
        F.lit(num_hashes).alias("_num_hashes"),
        F.lit(bands).alias("_bands"),
        F.lit(n).alias("_n"),
        F.lit(hash).alias("_hash"),
    )


def lsh_index_append(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Grow a persisted LSH band index IN PLACE with newly-accepted
    documents — the maintenance step that closes the ingest lifecycle
    (:func:`ingest_dedup_decisions` decides, the ``unique`` keepers
    enter the corpus, and their band keys must enter the index or the
    NEXT shard can't see them).

    The construction is read from the index's own embedded config
    columns (see :func:`lsh_band_index`), so the appended rows are
    built with EXACTLY the parameters the index carries — a caller
    cannot accidentally append 16-band keys to an 8-band index.
    Append-only parquet partitioned by ``band``: on a real filesystem
    or object store this is one atomic-enough file commit per
    partition; swap for a transactional table format when concurrent
    ingests need isolation — the band frame is unchanged.

    Returns the config dict used (num_hashes/bands/n/hash)."""
    row = (
        spark.read.parquet(index_path)
        .select("_num_hashes", "_bands", "_n", "_hash")
        .first()
    )
    if row is None:
        raise ValueError(
            f"lsh_index_append: index at {index_path} is empty or lacks "
            f"config columns — build it with lsh_band_index first"
        )
    cfg = {
        "num_hashes": row["_num_hashes"], "bands": row["_bands"],
        "n": row["_n"], "hash": row["_hash"],
    }
    lsh_band_index(
        new_docs, cfg["num_hashes"], cfg["bands"], cfg["n"],
        text_col, id_col, cfg["hash"],
    ).write.mode("append").partitionBy("band").parquet(index_path)
    return cfg


def lsh_index_forget(
    spark,
    index_path: str,
    forget_ids: DataFrame,
    id_col: str = "doc_id",
) -> None:
    """Remove documents from a persisted LSH band index — the
    right-to-be-forgotten path (the fact-table side is x56): rewrite
    the index minus the forgotten ids via write-to-staging + atomic
    directory swap (the same discipline as the streaming upsert sink;
    on object stores use a transactional table format's DELETE and keep
    the anti-join unchanged).

    One anti-join over the slim (id, band, bhash) frame — never touches
    document text.  Config columns survive the rewrite, so subsequent
    :func:`lsh_index_append` / :func:`incremental_lsh_dups` calls keep
    their fail-loudly validation.  Forgetting EVERY document is legal:
    the empty rewrite switches to an unpartitioned write (an empty
    partitioned parquet dir has no files and loses the schema), which
    readers handle identically."""
    from .fsutil import atomic_swap

    existing = spark.read.parquet(index_path)
    keep = existing.join(
        forget_ids.select(F.col(id_col)).dropDuplicates(), id_col, "left_anti"
    )
    if keep.isEmpty():
        atomic_swap(
            index_path, lambda p: keep.write.mode("overwrite").parquet(p)
        )
    else:
        atomic_swap(
            index_path,
            lambda p: keep.write.mode("overwrite").partitionBy("band").parquet(p),
        )


def validate_lsh_index_config(
    index: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    hash: str,
) -> None:
    """Fail-loudly contract for a persisted LSH band index (the
    minhash_shared cfg assert, extended to artifacts): a shard banded
    with the caller's params against an index built with different
    ones would silently match nothing.

    Distinct, not first(): an index grown by a raw write that bypassed
    lsh_index_append can hold MIXED-config rows, which a single-row
    probe passes silently (round-8 advice; the IVF twin
    _validate_cells_config already rejects mixed sinks).  The config
    columns are constants per file (RLE'd), so the distinct is a
    map-side partial-agg over dictionary pages of the slim index — one
    cheap pass.  Callers that read one immutable index for many calls
    (the streaming drain) run this ONCE and pass
    ``validate_index=False`` per call."""
    want = {"_num_hashes": num_hashes, "_bands": bands, "_n": n, "_hash": hash}
    missing = [c for c in want if c not in index.columns]
    if missing:
        raise ValueError(
            f"incremental_lsh_dups: index lacks config columns "
            f"{missing} — rebuild it with lsh_band_index (indexes "
            f"carry their LSH config as constant columns so a "
            f"mismatched read-back fails loudly)"
        )
    metas = index.select(*want).distinct().collect()
    if len(metas) > 1:
        raise ValueError(
            f"incremental_lsh_dups: index holds rows from "
            f"{len(metas)} different LSH configs — it was grown by a "
            f"write that bypassed lsh_index_append; rebuild it with "
            f"lsh_band_index"
        )
    # an empty index (empty corpus) has no config row — and no
    # pairs to mis-match either
    stored = {c: metas[0][c] for c in want} if metas else want
    if stored != want:
        raise ValueError(
            f"incremental_lsh_dups: index was built with {stored}, "
            f"but this call requests {want} — rebuild the index or "
            f"match the call's parameters"
        )


def incremental_lsh_dups(
    corpus: DataFrame,
    new_batch: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
    index: DataFrame | None = None,
    shared: tuple | None = None,
    validate_index: bool = True,
) -> DataFrame:
    """Near-dup pairs between a NEW SHARD and an already-indexed corpus
    — the ingest-side counterpart of :func:`minhash_lsh_pairs`, and the
    near-dup analogue of :func:`bloom_new_docs`'s exact path.

    The batch pipeline re-minhashes everything per run; at 100 TB of
    corpus meeting a daily shard that is the wrong cost shape.  Here
    the corpus appears ONLY through (a) ``index`` — a
    :func:`lsh_band_index` frame, in production read back from its
    parquet sink (built inline when omitted) — for candidate
    generation, and (b) a candidate-bounded semi-join back to the
    corpus text for exact Jaccard verification.  Ingest cost is
    O(shard × bands) signature work + a (band, bhash) join whose
    shuffle carries the SHARD's band keys against the index, +
    O(candidates) verification; nothing scales with corpus size except
    the index scan, which partition-prunes on ``band`` when the sink
    was partitioned that way (plus the config-validation ``distinct()``
    over the index's constant config columns — a map-side partial-agg
    over RLE/dictionary pages of the same slim index).

    Candidate equivalence: band keys are per-document functions of the
    signature (see :func:`_band_frame`), so shard×corpus candidates
    from this index join are EXACTLY the shard×corpus subset of the
    candidates the full-corpus self-join would produce — the DuckDB
    oracle replays it that way (d26).

    ``corpus`` and ``new_batch`` must have disjoint ``id_col`` domains
    (same contract as :func:`bloom_new_docs`).

    Output: (new_id, corpus_id, jaccard) with jaccard >= threshold.
    """
    band_hash = _hash_fn(hash)
    sh_hash = _hash_fn(hash)
    if index is None:
        index = lsh_band_index(corpus, num_hashes, bands, n, text_col, id_col, hash)
    elif not validate_index:
        # caller validated once up front (streaming_ingest_dedup does,
        # before start()) — skip the per-call distinct job: a static
        # availableNow drain reads one immutable index, so re-checking
        # per MICRO-BATCH bought one full index scan per batch for a
        # config that cannot change mid-drain (r16, guide §1.4/§2.6)
        pass
    else:
        validate_lsh_index_config(index, num_hashes, bands, n, hash)
    if shared is not None:
        # the minhash_shared reuse contract (see minhash_lsh_pairs):
        # the tuple IS the shard — validate its config, ignore new_batch
        # for signature purposes
        nb_base, nb_sig, cfg = shared
        want = {
            "num_hashes": num_hashes, "n": n, "hash": hash,
            "text_col": text_col, "id_col": id_col,
        }
        if cfg != want:
            raise ValueError(
                f"incremental_lsh_dups: shared frames were built with "
                f"{cfg}, but this call requests {want} — rebuild with "
                f"minhash_shared(**matching params)"
            )
    else:
        nb_base, nb_sig, _ = minhash_shared(
            new_batch, num_hashes, n, text_col, id_col, hash, checkpoint_sig=False
        )
    cand = (
        _band_frame(nb_sig, num_hashes, bands, band_hash)
        .select(F.col("_did").alias("new_id"), "band", "bhash")
        .join(
            index.select(F.col(id_col).alias("corpus_id"), "band", "bhash"),
            ["band", "bhash"],
        )
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates()  # same pair can collide in several bands
    )
    # exact verification: shard shingles are already in hand (nb_base);
    # corpus shingles are recomputed for CANDIDATE documents only — the
    # semi-join prunes the corpus scan to O(distinct candidate ids).
    cand_ids = cand.select(F.col("corpus_id").alias(id_col)).dropDuplicates()
    corp_base = shingle_frame(
        corpus.join(cand_ids, id_col, "left_semi"), n, id_col, text_col,
        hash_fn=sh_hash,  # folded into the shingle pass: one fewer job
    ).select(
        F.col(id_col).alias("corpus_id"),
        F.col("_sh").alias("sh_b"),
    )
    pairs = cand.join(
        nb_base.select(F.col("_did").alias("new_id"), F.col("_sh").alias("sh_a")),
        "new_id",
    ).join(corp_base, "corpus_id")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return pairs.select("new_id", "corpus_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ingest_dedup_decisions(
    corpus: DataFrame,
    new_batch: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
    index: DataFrame | None = None,
) -> DataFrame:
    """The complete per-document ingest verdict — the piece
    :func:`incremental_lsh_dups` alone doesn't give you: a shard can
    contain documents that duplicate EACH OTHER (a crawl re-fetching
    the same page twice in one day), which the shard×corpus join is
    blind to by construction.

    Composition, still never touching the corpus beyond the index +
    pruned verify: (a) shard×corpus pairs via the persisted-index path,
    (b) within-shard pairs via the batch pipeline over the SHARD ONLY
    (the shard is the small side — O(shard²) worst case bounded by
    banding, independent of corpus size).  Decision per new document,
    first match wins:

    - ``dup_of_corpus`` — has a corpus near-dup; keeper = smallest
      matching corpus id (the corpus copy is canonical: it is already
      indexed, deduped, and possibly referenced downstream).
    - ``dup_in_batch`` — no corpus match but a within-shard partner
      with a SMALLER id exists; keeper = smallest such partner
      (first-arrival-wins by id; deliberately non-transitive — the
      keeper itself may be a corpus dup, in which case ITS row says
      so, and a chain collapses over successive ingests exactly like
      :func:`bloom_new_docs`'s exact tier).
    - ``unique`` — keeper = itself; the document enters the corpus
      (and, in production, its band keys append to the index).

    Output: (new_id, status, keeper_id).
    """
    # one shard minhash pass feeds BOTH legs (the minhash_shared reuse
    # pattern): without sharing, the shingle + signature aggregate — the
    # shard-side dominant cost — would be paid twice per decision
    shared = minhash_shared(new_batch, num_hashes, n, text_col, id_col, hash)
    cross = incremental_lsh_dups(
        corpus, new_batch, num_hashes, bands, threshold, n,
        text_col, id_col, hash, index, shared=shared,
    )
    within = minhash_lsh_pairs(
        new_batch, num_hashes, bands, threshold, n, text_col, id_col, hash,
        shared=shared,
    )
    corp_keep = cross.groupBy("new_id").agg(F.min("corpus_id").alias("_ck"))
    batch_keep = (
        within.select(F.col("id_b").alias("new_id"), F.col("id_a").alias("_p"))
        .groupBy("new_id")
        .agg(F.min("_p").alias("_bk"))
    )
    return (
        new_batch.select(F.col(id_col).alias("new_id"))
        .join(corp_keep, "new_id", "left")
        .join(batch_keep, "new_id", "left")
        .select(
            "new_id",
            F.when(F.col("_ck").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("_bk").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce(F.col("_ck"), F.col("_bk"), F.col("new_id")).alias(
                "keeper_id"
            ),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
    shared: tuple | None = None,
) -> DataFrame:
    """Sub-quadratic near-dup pairs: MinHash signatures → banded LSH
    bucket join → exact Jaccard verification of candidates only.

    ``hash``: ``xxhash64`` (the 100 TB default — fastest JVM hash) or
    ``md5`` (60-bit md5-prefix shingle/band hashes — slower but
    engine-portable, so a DuckDB oracle reproduces signatures → bands →
    candidates → Jaccard exactly; the permutation family on top of the
    hashed shingles is identical plain-integer arithmetic either way).

    ``shared``: a ``minhash_shared(...)`` result to reuse across calls —
    its embedded config is checked against this call's
    num_hashes/n/hash/text_col/id_col, and a mismatch raises (a sig
    built with 32 hashes banded as if 16 — or built over a different
    column layout — would silently emit wrong pairs).  When ``shared``
    is given, ``docs`` is ignored: the tuple already embodies the
    corpus.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    band_hash = _hash_fn(hash)
    if shared is not None:
        # NOTE: `docs` is unused on this path — the shared tuple IS the
        # corpus (hashed shingles + signatures); only the banding and
        # verification parameters of THIS call apply.
        base, sig, cfg = shared
        want = {
            "num_hashes": num_hashes, "n": n, "hash": hash,
            "text_col": text_col, "id_col": id_col,
        }
        if cfg != want:
            raise ValueError(
                f"minhash_lsh_pairs: shared frames were built with {cfg}, "
                f"but this call requests {want} — rebuild with "
                f"minhash_shared(**matching params)"
            )
    else:
        # single-config path: leave sig lazy so it fuses into the band
        # explode below (pre-refactor behavior — no extra job)
        base, sig, _ = minhash_shared(
            docs, num_hashes, n, text_col, id_col, hash, checkpoint_sig=False
        )
    # band key: (band index, hash of that band's signature slice).  The
    # banded frame is SLIM — (doc, band, bhash) only: carrying the
    # shingle arrays through an 8-way explode + self-join shuffle would
    # multiply shuffle volume by ~2·bands; instead candidates re-attach
    # shingles from `base` after the (cheap) id-only bucket join.
    banded = _band_frame(sig, num_hashes, bands, band_hash)

    a = banded.select("band", "bhash", F.col("_did").alias("id_a"))
    b = banded.select("band", "bhash", F.col("_did").alias("id_b"))
    cand = (
        a.join(b, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()  # same pair can collide in several bands
    )
    pairs = cand.join(
        base.select(F.col("_did").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(base.select(F.col("_did").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, hash: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint per document (long column ``simhash``).

    Per-bit majority vote of shingle hashes: bit b of the result is 1
    iff sum over shingles of (+1 if hash bit b set else -1) > 0.
    Computed relationally like ``minhash_signatures``: explode postings,
    one hash-aggregate with per-bit codegen'd sum columns (map-side
    combined — shuffle is one long per bit per doc), then recombine the
    votes.  A nested-HOF formulation was interpreted and ~3× slower.

    ``hash``: ``xxhash64`` (64-bit, the 100 TB default — fastest JVM
    hash) or ``md5`` (60 bits from the md5 hex prefix — slower but
    bit-reproducible in any engine with md5, which is what lets the
    DuckDB oracle check the full pipeline).
    """
    sh = shingle_frame(docs, n, id_col, text_col)
    post = sh.select(F.col(id_col), F.explode(F.col("_sh")).alias("_s"))
    if hash == "xxhash64":
        post = post.withColumn("_h", F.xxhash64("_s"))
        nbits = 64
    elif hash == "md5":
        post = post.withColumn(
            "_h", F.conv(F.substring(F.md5("_s"), 1, 15), 16, 10).cast("long")
        )
        nbits = 60
    else:
        raise ValueError(f"unknown hash {hash!r}")
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(nbits)
    ]
    votes = post.groupBy(id_col).agg(*bit_votes)
    # signed-long assembly: bit 63 (xxhash64 only) contributes the sign,
    # so sum the low powers and subtract 2^63 via bit 63's vote
    acc = F.lit(0).cast("long")
    for b in range(nbits):
        pw = F.lit(-(2**63)).cast("long") if b == 63 else F.lit(1 << b).cast("long")
        acc = acc + F.when(F.col(f"v{b}") > 0, pw).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), acc.alias("simhash"))


def dup_clusters(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
) -> DataFrame:
    """Corpus-level dedup: near-dup *clusters*, not just pairs.

    MinHash-LSH pairs (sub-quadratic) become an undirected graph whose
    connected components are the duplicate clusters; each doc gets
    ``cluster_id`` = min doc id of its component (singletons are their
    own cluster) and ``keep`` = "this is the canonical copy".  Filtering
    ``keep`` yields the deduplicated corpus — the operator an LLM
    training pipeline actually runs (the reference has no corpus ops;
    this extends its dedup-on-insert idea, graphstruct.ml:30-32, to
    documents).

    Scale: pair generation is the LSH path (O(corpus + candidates));
    label propagation iterates O(cluster diameter) rounds — near-dup
    clusters are dense, so diameter is tiny (2-3) — over a frame of
    only the docs that appear in ≥1 pair, which after dedup is a small
    fraction of the corpus; the final left join re-attaches singletons
    in one shuffle (AQE may broadcast the component side when small).

    Output: (doc_id, cluster_id, keep).
    """
    from .graph_algos import connected_components

    # materialize the pair list once: connected_components' undirected
    # union references its input twice, and re-running the whole
    # MinHash-LSH candidate+verify pipeline per branch doubles the
    # expensive part
    pairs = materialize(minhash_lsh_pairs(
        docs, num_hashes=num_hashes, bands=bands, threshold=threshold,
        n=n, text_col=text_col, id_col=id_col, hash=hash,
    ))
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def passage_dups(
    docs: DataFrame,
    size: int = 16,
    stride: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Passage-level exact dedup: fingerprint every sliding-window chunk
    (``text.chunk_passages``) and report fingerprints occurring more
    than once — the sub-document analogue of ``exact_dedup``, the
    signal a training pipeline uses to strip boilerplate passages that
    whole-document dedup can't see.

    Scale design: the chunking is a map-side explode; the only shuffle
    is one hash aggregate on the 128-bit fingerprint — high-cardinality,
    uniformly distributed, no skew.  Output is bounded by the number of
    *duplicated* fingerprints, not corpus size.

    Output: (chunk_fp, n_copies, n_docs, keep_doc) — keep_doc is the
    smallest doc id carrying the passage (the canonical copy).
    """
    from .text import chunk_passages

    ch = chunk_passages(docs, size=size, stride=stride, text_col=text_col, id_col=id_col)
    return (
        ch.groupBy("chunk_fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.min(F.col(id_col)).alias("keep_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


def simhash_pairs(
    docs: DataFrame,
    bands: int = 4,
    max_hd: int | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash banding: documents whose fingerprints
    differ in at most ``max_hd`` bits, found WITHOUT an all-pairs scan.

    The fingerprint splits into ``bands`` equal bit-bands; candidates
    are pairs sharing any band value (one equi-join on (band, value)).
    By pigeonhole this is EXHAUSTIVE for ``max_hd <= bands - 1``
    (``max_hd`` defaults to exactly that): hd differing bits cannot
    touch all ``bands`` bands, so some band matches — the verified
    output EQUALS the brute-force hd-threshold pairs, sub-quadratically
    (the d2/d3 banding idea applied to the Hamming space).

    Scale design: band values are high-cardinality bucket keys (one
    shuffle); verification is a map-side ``bit_count(xor)`` on the
    joined pair — no shingle sets are ever compared pairwise.

    Output: (id_a, id_b, hd).
    """
    nbits = 60 if hash == "md5" else 64
    st = simhash_table(docs, text_col=text_col, id_col=id_col, n=n, hash=hash)
    return hamming_band_pairs(
        st, nbits=nbits, bands=bands, max_hd=max_hd,
        id_col=id_col, hash_col="simhash",
    )


def _band_values(
    hash_col: str,
    nbits: int,
    bands: int,
    interleave: bool = False,
    perm_seed: int | None = None,
):
    """The Hamming tier's shared banding arithmetic: split an
    ``nbits``-bit long fingerprint into ``bands`` equal bit-bands and
    return the ``F.array`` of band values (unsigned shift + mask, cast
    long).  Guarded (round-12 advice, now that the arithmetic is shared
    across fingerprint families): bands > nbits gives width=0/mask=0 —
    every row lands in band value 0 and the "never all-pairs" equi-join
    silently degenerates into an all-pairs self-join; a non-dividing
    band count silently drops the top ``nbits % bands`` bits from every
    band, breaking the equal-band claim the docstrings make.

    ``interleave=True`` is the RE-BAND recovery layout (round-13
    verdict item 1): band ``b`` gathers the strided bit set
    ``{b, b+bands, b+2·bands, …}`` instead of a contiguous run, so a
    low-entropy CONTIGUOUS bit region (real image corpora: flat
    borders / letterboxing → a constant leading band) is spread across
    ALL bands instead of saturating one.  ``perm_seed`` is the GENERAL
    remedy (round-14): a deterministic seeded bit permutation
    (``random.Random(seed).shuffle`` — platform-stable), for corpora
    whose low-entropy bits are stride-ALIGNED and so saturate an
    interleaved band exactly the way contiguous runs saturate an
    identity band.  Every layout PARTITIONS the same ``nbits`` bits
    into ``bands`` equal cells, so the pigeonhole exhaustiveness
    guarantee (``max_hd <= bands - 1`` ⇒ the banded join finds every
    pair) is layout-invariant — re-banding changes the candidate
    VOLUME, never the verified pair SET.  ``interleave`` and
    ``perm_seed`` are mutually exclusive."""
    if interleave and perm_seed is not None:
        raise ValueError(
            "hamming banding: interleave and perm_seed are mutually "
            "exclusive layouts — pass one"
        )
    if not 1 <= bands <= nbits:
        raise ValueError(
            f"hamming_band_pairs: bands must be in [1, nbits={nbits}], got {bands}"
        )
    if nbits % bands != 0:
        raise ValueError(
            f"hamming_band_pairs: bands={bands} does not divide nbits={nbits} "
            f"— the top {nbits % bands} bits would be left out of every band"
        )
    width = nbits // bands
    if width == 64:
        # bands == 1: the single band holds every bit, so EVERY layout
        # (identity / interleave / any permutation) partitions the bit
        # set identically and the band value can just be the raw
        # fingerprint.  Also dodges the 64-bit literal overflow both
        # arithmetic paths would hit (identity's (1<<64)-1 mask and the
        # layouts' 1<<63 place value exceed Long.MAX — round-14 advice).
        return F.array(F.col(hash_col).cast("long"))
    if interleave or perm_seed is not None:
        # band b, value bit k = fingerprint bit bit_of(b, k):
        # Σ_k ((fp >>> bit_of(b,k)) & 1) << k — pure long arithmetic,
        # width terms per band, all inside whole-stage codegen.
        if interleave:
            def bit_of(b: int, k: int) -> int:
                return b + k * bands
        else:
            import random

            perm = list(range(nbits))
            random.Random(perm_seed).shuffle(perm)

            def bit_of(b: int, k: int) -> int:
                return perm[b * width + k]

        def one(b: int):
            # shiftleft of the extracted bit, OR-accumulated — never a
            # multiply by a 1<<k literal, whose k=63 place value would
            # overflow LongType (round-14 advice; unreachable now that
            # width==64 short-circuits above, but shiftleft is the
            # overflow-proof idiom at any width)
            terms = [
                F.shiftleft(
                    F.shiftrightunsigned(F.col(hash_col), bit_of(b, k))
                    .bitwiseAND(F.lit(1)),
                    k,
                )
                for k in range(width)
            ]
            acc = terms[0]
            for t in terms[1:]:
                acc = acc.bitwiseOR(t)
            return acc.cast("long")

        return F.array(*[one(b) for b in range(bands)])
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned(F.col(hash_col), i * width)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for i in range(bands)
        ]
    )


def hamming_band_occupancy(
    st: DataFrame,
    nbits: int,
    bands: int,
    hash_col: str = "simhash",
    hot_share: float = 0.2,
    interleave: bool = False,
    perm_seed: int | None = None,
) -> DataFrame:
    """Per-band bucket-occupancy gauge for the Hamming pair tier — the
    s31 hot-cell report aimed at :func:`hamming_band_pairs`' banded
    join (round-12 verdict item 6).  That join's candidate volume is
    ``Σ_bands Σ_buckets c·(c−1)/2`` over (band, value) occupancies; a
    low-entropy fingerprint band (real image corpora: flat borders,
    letterboxing → constant band bytes) concentrates mass in a few
    buckets and quietly turns the "never all-pairs" claim quadratic
    while correctness stays green.  Run it per maintenance window next
    to d8/m14 the way s31 runs next to the vector tier.

    One groupBy over the banded fingerprints (same ``_band_values``
    arithmetic as the join — the gauge measures EXACTLY the keys the
    join shuffles), then a per-band rollup.  Output, one row per band:
    (band, n_buckets, n_rows, max_bucket_rows, mean_bucket_rows,
    top_bucket_share, est_candidate_pairs, is_hot) — ``is_hot`` =
    top_bucket_share > ``hot_share``, the rebuild/re-band trigger.

    ``interleave`` / ``perm_seed`` gauge the re-band layouts instead —
    the before/after measurements :func:`hamming_reband_recovery` uses
    to prove a re-band actually de-concentrated the hot band.
    """
    bvals = _band_values(
        hash_col, nbits, bands, interleave=interleave, perm_seed=perm_seed
    )
    occ = (
        st.select(F.posexplode(bvals).alias("band", "_bval"))
        .groupBy("band", "_bval")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        occ.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("_c").cast("long").alias("n_rows"),
            F.max("_c").cast("long").alias("max_bucket_rows"),
            F.round(F.avg("_c"), 6).alias("mean_bucket_rows"),
            F.round(F.max("_c") / F.sum("_c"), 6).alias("top_bucket_share"),
            (F.sum(F.col("_c") * (F.col("_c") - 1)) / 2)
            .cast("long")
            .alias("est_candidate_pairs"),
            (F.max("_c") / F.sum("_c") > hot_share).alias("is_hot"),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            "n_buckets",
            "n_rows",
            "max_bucket_rows",
            "mean_bucket_rows",
            "top_bucket_share",
            "est_candidate_pairs",
            "is_hot",
        )
    )


def hamming_band_pairs(
    st: DataFrame,
    nbits: int,
    bands: int,
    max_hd: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    interleave: bool = False,
    perm_seed: int | None = None,
) -> DataFrame:
    """Hamming-ball pair search over any long fingerprint column by
    band pigeonhole — the d8 SimHash machinery factored out so every
    bit-fingerprint family (SimHash d4/d8, image dHash m14) shares one
    audited plan.

    Fingerprints split into ``bands`` equal bit-bands; candidates are
    pairs sharing any band value (ONE equi-join on (band, value) —
    never all-pairs), verified map-side with ``bit_count(xor)``.  By
    pigeonhole the result is EXHAUSTIVE for ``max_hd <= bands - 1``
    (the default): ``hd`` differing bits cannot touch all ``bands``
    bands, so some band matches exactly.

    Preconditions (ValueError, round-12/13 advice): ``bands`` must lie
    in ``[1, nbits]`` AND divide ``nbits`` evenly — the old silent
    truncating semantics (dropping the top ``nbits % bands`` bits from
    every band) are gone.

    ``interleave=True`` uses the strided re-band layout (band ``b`` =
    bits ``{b, b+bands, …}``); ``perm_seed`` a seeded bit permutation —
    same pair SET by pigeonhole under any layout, lower candidate
    volume on corpora whose fingerprints have a low-entropy bit region
    (contiguous → interleave; stride-aligned → permutation); see
    :func:`hamming_reband_recovery`.

    Output: (id_a, id_b, hd), id_a < id_b.
    """
    bvals = _band_values(
        hash_col, nbits, bands, interleave=interleave, perm_seed=perm_seed
    )
    if max_hd is None:
        max_hd = bands - 1
    banded = st.select(
        F.col(id_col), F.col(hash_col).alias("_fp"),
        F.posexplode(bvals).alias("_band", "_bval"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("_fp").alias("_sa"), "_band", "_bval"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("_fp").alias("_sb"), "_band", "_bval"
    )
    cand = (
        a.join(b, ["_band", "_bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .dropDuplicates(["id_a", "id_b"])
    )
    hd = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long")
    return cand.withColumn("hd", hd).where(F.col("hd") <= max_hd).select(
        "id_a", "id_b", "hd"
    )


def hamming_layout_str(layout: dict) -> str:
    """Serialize a band-layout kwargs dict (``{}`` /
    ``{"interleave": True}`` / ``{"perm_seed": n}``) to the canonical
    string the gauge trail and the persisted index's ``_layout`` column
    use: ``identity`` / ``interleave`` / ``permutation:<seed>``."""
    if layout.get("interleave"):
        return "interleave"
    if "perm_seed" in layout and layout["perm_seed"] is not None:
        return f"permutation:{int(layout['perm_seed'])}"
    return "identity"


def hamming_layout_kwargs(s: str) -> dict:
    """Parse the canonical layout string back to
    :func:`hamming_band_pairs` kwargs — the read-back half of
    :func:`hamming_layout_str`, used when a persisted index's
    ``_layout`` column drives how a new shard is banded."""
    if s == "identity":
        return {}
    if s == "interleave":
        return {"interleave": True}
    if s.startswith("permutation:"):
        return {"perm_seed": int(s.split(":", 1)[1])}
    raise ValueError(
        f"hamming_layout_kwargs: unknown band layout {s!r} — expected "
        f"identity / interleave / permutation:<seed>"
    )


def choose_hamming_layout(
    st: DataFrame,
    nbits: int,
    bands: int,
    hash_col: str = "simhash",
    hot_share: float = 0.2,
    max_perm_tries: int = 3,
) -> tuple[dict, dict]:
    """The Hamming tier's band-layout escalation LADDER, factored out
    of :func:`hamming_reband_recovery` (round-14 verdict item 1) so the
    persisted index builder can run the SAME gauge chain and embed the
    chosen layout in the artifact: identity → strided interleave
    (spreads any CONTIGUOUS low-entropy bit region across all bands) →
    seeded bit permutations (the general remedy for STRIDE-ALIGNED
    low-entropy patterns; up to ``max_perm_tries`` seeds, first non-hot
    wins).  If every rung is hot — adversarially low total fingerprint
    entropy — the least-candidate-volume layout wins and the receipt
    says the volume is inherent to the corpus.

    Every layout partitions the same bit set into ``bands`` equal
    cells, so pigeonhole exhaustiveness (``max_hd <= bands - 1``) is
    layout-invariant — the choice moves candidate VOLUME, never the
    verified pair SET.  Each rung costs one aggregate collecting
    exactly ``bands`` rows; the healthy path stays ONE gauge pass (but
    a rung re-scans ``st``, so pass a cached/checkpointed fingerprint
    frame when the fingerprint itself is expensive — e.g. a decoded
    dHash pass).

    Returns ``(layout_kwargs, receipt)`` where ``layout_kwargs`` feeds
    :func:`hamming_band_pairs` / :func:`hamming_band_index` and
    ``receipt`` carries ``{hot_bands, est_pairs_identity, layout,
    hot_bands_after, est_pairs_after, trail}`` (plus the round-13
    ``est_pairs_interleave`` key whenever that rung was measured)."""

    def gauge(**layout):
        occ = hamming_band_occupancy(
            st, nbits=nbits, bands=bands, hash_col=hash_col,
            hot_share=hot_share, **layout,
        ).collect()  # bounded: exactly `bands` rows
        return (
            sorted(r["band"] for r in occ if r["is_hot"]),
            sum(r["est_candidate_pairs"] for r in occ),
        )

    trail = []
    hot_id, est_id = gauge()
    trail.append({"layout": "identity", "hot_bands": hot_id,
                  "est_pairs": est_id})
    chosen = {}
    if hot_id:
        hot_il, est_il = gauge(interleave=True)
        trail.append({"layout": "interleave", "hot_bands": hot_il,
                      "est_pairs": est_il})
        if hot_il:
            for seed in range(1, max_perm_tries + 1):
                hot_p, est_p = gauge(perm_seed=seed)
                trail.append({"layout": f"permutation:{seed}",
                              "hot_bands": hot_p, "est_pairs": est_p})
                if not hot_p:
                    chosen = {"perm_seed": seed}
                    break
            else:
                best = min(trail[1:], key=lambda t: t["est_pairs"])
                chosen = hamming_layout_kwargs(best["layout"])
        else:
            chosen = {"interleave": True}
    final = trail[0]
    want = hamming_layout_str(chosen)
    for t in trail:
        if t["layout"] == want:
            final = t
    receipt = {
        "hot_bands": hot_id,
        "est_pairs_identity": est_id,
        "layout": final["layout"],
        "hot_bands_after": final["hot_bands"],
        "est_pairs_after": final["est_pairs"],
        "trail": trail,
    }
    # backward-compat receipt key (round-13 name) when the interleave
    # rung was measured
    for t in trail:
        if t["layout"] == "interleave":
            receipt["est_pairs_interleave"] = t["est_pairs"]
    return chosen, receipt


def hamming_reband_recovery(
    st: DataFrame,
    nbits: int,
    bands: int,
    max_hd: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    hot_share: float = 0.2,
    plan_out: dict | None = None,
    max_perm_tries: int = 3,
) -> DataFrame:
    """The Hamming tier's RECOVERY path — the s30/s33 analogue the
    round-13 verdict flagged as missing: m15's
    :func:`hamming_band_occupancy` gauge could DETECT a hot band
    (low-entropy image corpora: flat borders → one constant band →
    the "never all-pairs" join quietly quadratic) but nothing consumed
    ``is_hot``.  This consumes it.

    Mechanism — an escalation LADDER of band layouts, each gauged
    before use: identity → strided interleave (band ``b`` = bits
    ``{b, b+bands, …}``, which spreads any CONTIGUOUS low-entropy bit
    region across all bands) → seeded bit permutations (round-14: the
    general remedy for STRIDE-ALIGNED low-entropy patterns, which
    saturate an interleaved band exactly the way contiguous runs
    saturate an identity band; up to ``max_perm_tries`` seeds, first
    non-hot wins).  If every rung is hot — adversarially low total
    fingerprint entropy — the least-candidate-volume layout wins and
    the receipt says the volume is inherent to the corpus.  Because
    every layout partitions the same bit set, pigeonhole
    exhaustiveness for ``max_hd <= bands - 1`` is layout-invariant:
    **the recovered pair set EQUALS the hot layout's pair set** — the
    re-band buys back the candidate volume (Σ c·(c−1)/2 over
    (band, value) occupancies) without touching semantics.  That
    invariance is what makes the recovery oracle-checkable at value
    level (m16) and brute-force-pinnable in tests.  The set-equality
    claim is therefore SCOPED to the pigeonhole regime: ``max_hd``
    beyond ``bands - 1`` would make the banded candidates
    non-exhaustive and the returned pair set layout-DEPENDENT, so it
    raises here (round-14 advice) — callers wanting a wider ball must
    raise ``bands`` (or drop to brute force) instead.

    Each gauge is one aggregate collecting ``bands`` rows (bounded by
    the band count, never by the corpus); the pair join is the audited
    :func:`hamming_band_pairs` plan under any layout.  ``plan_out``
    (the s34 receipt pattern) records the decision: ``{hot_bands,
    est_pairs_identity, layout, hot_bands_after, est_pairs_after,
    trail}`` plus the round-13 ``est_pairs_interleave`` key whenever
    that rung was measured; the healthy path stays one gauge pass.
    """
    if max_hd is not None and max_hd > bands - 1:
        raise ValueError(
            f"hamming_reband_recovery: max_hd={max_hd} exceeds the "
            f"pigeonhole bound bands-1={bands - 1} — the banded "
            f"candidates would not be exhaustive and the recovered "
            f"pair set would depend on the chosen layout; raise bands "
            f"or use a brute-force verify for wider Hamming balls"
        )
    chosen, receipt = choose_hamming_layout(
        st, nbits=nbits, bands=bands, hash_col=hash_col,
        hot_share=hot_share, max_perm_tries=max_perm_tries,
    )
    if plan_out is not None:
        plan_out.update(receipt)
    return hamming_band_pairs(
        st, nbits=nbits, bands=bands, max_hd=max_hd,
        id_col=id_col, hash_col=hash_col, **chosen,
    )


def hamming_reband_policy(
    st: DataFrame,
    nbits: int,
    bands: int,
    hash_col: str = "simhash",
    hot_share: float = 0.2,
    layout="identity",
) -> DataFrame:
    """The Hamming tier's row for the maintenance DECISION TABLE —
    the shape of :func:`similarity.index_rebuild_policy` (s33) applied
    to the image/SimHash fingerprint tier, so one operator (m17) can
    union both tiers' keep/recover decisions into a single auditable
    table.

    One row: (tier='hamming', n_hot_bands, total_est_candidate_pairs,
    worst_top_bucket_share, decision, reason) — ``decision`` is
    ``'reband'`` when any band trips ``is_hot`` (recovery =
    :func:`hamming_reband_recovery`'s escalation ladder), else
    ``'keep'``.  Pure aggregate over the gauge — no collect, so it
    composes into a unioned decision table lazily.

    ``layout`` (round-14 verdict item 1): the band layout to gauge —
    pass the ``_layout`` string a persisted
    :func:`hamming_band_index` carries so the policy judges the
    layout the corpus is ACTUALLY banded under (a recovered
    interleave index gauged at identity would re-trip forever)."""
    kwargs = (
        dict(layout) if isinstance(layout, dict)
        else hamming_layout_kwargs(layout)
    )
    occ = hamming_band_occupancy(
        st, nbits=nbits, bands=bands, hash_col=hash_col,
        hot_share=hot_share, **kwargs,
    )
    return occ.agg(
        F.lit("hamming").alias("tier"),
        F.sum(F.col("is_hot").cast("int")).cast("int").alias("n_hot_bands"),
        F.sum("est_candidate_pairs").cast("long").alias(
            "total_est_candidate_pairs"
        ),
        F.max("top_bucket_share").alias("worst_top_bucket_share"),
        F.when(F.sum(F.col("is_hot").cast("int")) > 0, F.lit("reband"))
        .otherwise(F.lit("keep"))
        .alias("decision"),
        F.when(
            F.sum(F.col("is_hot").cast("int")) > 0,
            F.concat(F.lit("hot_bands:"), F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(
                        F.when(F.col("is_hot"), F.col("band")))),
                    lambda x: x.cast("string"),
                ),
            )),
        )
        .otherwise(F.lit("healthy"))
        .alias("reason"),
    )


def hamming_band_index(
    st: DataFrame,
    nbits: int,
    bands: int,
    layout="identity",
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    hot_share: float = 0.2,
    max_perm_tries: int = 3,
    join_cost_flops: float | None = None,
    plan_out: dict | None = None,
) -> DataFrame:
    """The PERSISTABLE corpus index for the Hamming fingerprint tier —
    the :func:`lsh_band_index` shape for bit fingerprints (SimHash
    d4/d8, image dHash m14), closing the one modality the round-14
    verdict left without an index-once/join-per-shard lifecycle: a
    daily image shard should join against a persisted band index, not
    re-fingerprint the corpus.

    One (id, band, bval, fingerprint) row per document per band,
    built in one linear pass over the fingerprint frame ``st`` — no
    join, no shuffle beyond the scan.  The FINGERPRINT rides along
    (one long per row) so shard-time verification is a map-side
    ``bit_count(xor)`` on the joined rows: ingest never has to re-read
    (or re-DECODE — the expensive step for images) corpus payloads.
    Sink it ``partitionBy("band")`` (the d26 recipe) so the shard join
    partition-prunes; grow it with :func:`hamming_index_append`;
    forget with :func:`lsh_index_forget` (generic over the
    (id, band, …) shape).

    Embedded config (the fail-loudly contract of every persisted
    artifact here): ``_nbits``, ``_bands``, and ``_layout`` — the
    band LAYOUT string (``identity`` / ``interleave`` /
    ``permutation:<seed>``).  Persisting the layout is what makes
    m16's recovery SURVIVE the query (round-14 verdict item 1): pass
    ``layout="auto"`` and the builder runs the
    :func:`choose_hamming_layout` gauge ladder, embeds the chosen
    layout, and every later shard is banded the same way from the
    read-back config.  ``layout`` also accepts the canonical string
    or :func:`hamming_band_pairs` kwargs directly.  ``plan_out``
    receives the ladder receipt when ``"auto"`` ran.

    ``join_cost_flops``: optionally persist the session-measured
    per-join setup constant as ``_join_cost_flops`` (the
    :func:`similarity.srp_band_index` contract); appends carry it
    forward.

    Every layout partitions the same bit set, so the downstream pair
    SET (``max_hd <= bands - 1``) is layout-invariant — the layout
    choice moves candidate volume only.
    """
    if layout == "auto":
        kwargs, receipt = choose_hamming_layout(
            st, nbits=nbits, bands=bands, hash_col=hash_col,
            hot_share=hot_share, max_perm_tries=max_perm_tries,
        )
        if plan_out is not None:
            plan_out.update(receipt)
    elif isinstance(layout, dict):
        kwargs = dict(layout)
    else:
        kwargs = hamming_layout_kwargs(layout)
    bvals = _band_values(hash_col, nbits, bands, **kwargs)
    out = st.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(bvals).alias("band", "bval"),
    ).select(
        id_col,
        "band",
        "bval",
        hash_col,
        F.lit(nbits).alias("_nbits"),
        F.lit(bands).alias("_bands"),
        F.lit(hamming_layout_str(kwargs)).alias("_layout"),
    )
    if join_cost_flops is not None:
        out = out.withColumn(
            "_join_cost_flops", F.lit(float(join_cost_flops)).cast("double")
        )
    return out


def _validate_hamming_index(
    index: DataFrame, nbits: int, bands: int, fn_name: str
) -> str | None:
    """Require + check a Hamming band index's embedded
    (_nbits, _bands, _layout) config against the caller's geometry;
    returns the stored layout string (None for an empty index — which
    also has no pairs to mis-band).  Mixed-config sinks are rejected
    (the :func:`_validate_cells_config` posture: an index grown by a
    raw write that bypassed :func:`hamming_index_append` can hold
    rows banded two different ways, and a single-row probe would pass
    it silently)."""
    missing = [c for c in ("_nbits", "_bands", "_layout")
               if c not in index.columns]
    if missing:
        raise ValueError(
            f"{fn_name}: index lacks config columns {missing} — build "
            f"it with hamming_band_index (indexes carry their geometry "
            f"and band layout so a mismatched read-back fails loudly)"
        )
    metas = index.select("_nbits", "_bands", "_layout").distinct().collect()
    if len(metas) > 1:
        raise ValueError(
            f"{fn_name}: index holds rows from {len(metas)} different "
            f"(nbits, bands, layout) configs — it was grown by a write "
            f"that bypassed hamming_index_append; rebuild it with "
            f"hamming_band_index"
        )
    if not metas:
        return None
    if (metas[0]["_nbits"], metas[0]["_bands"]) != (nbits, bands):
        raise ValueError(
            f"{fn_name}: index was built at nbits={metas[0]['_nbits']}, "
            f"bands={metas[0]['_bands']}, but this call requests "
            f"nbits={nbits}, bands={bands} — rebuild the index or match "
            f"the call's geometry"
        )
    return metas[0]["_layout"]


_UNVALIDATED = object()  # sentinel: "validate the index in-call"


def incremental_hamming_dups(
    new_st: DataFrame,
    index: DataFrame,
    nbits: int,
    bands: int,
    max_hd: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    validated_layout=_UNVALIDATED,
) -> DataFrame:
    """Hamming near-dup pairs between a NEW SHARD's fingerprints and an
    already-indexed corpus — the :func:`incremental_lsh_dups` shape for
    the bit-fingerprint tier (round-14 verdict item 1: images were the
    one modality whose near-dup was batch-only).

    The corpus appears ONLY through ``index`` (a
    :func:`hamming_band_index` frame, in production read back from its
    band-partitioned parquet sink): the shard is banded with the
    layout the INDEX carries (read from its ``_layout`` column — m16's
    recovered layout, persisted, decides how every future shard bands;
    a caller cannot band the shard differently by accident), joined
    once on (band, bval), and verified map-side from the fingerprints
    both sides already carry — no corpus re-scan, no payload
    re-decode, nothing that scales with corpus size except the
    partition-pruned index scan.

    Candidate equivalence: band values are per-row functions of the
    fingerprint under the index's layout, so shard×corpus candidates
    here are EXACTLY the shard×corpus cut of the candidates
    :func:`hamming_band_pairs` would produce over corpus ∪ shard under
    that layout — which is how the DuckDB oracle replays it (m18).
    Exhaustive for ``max_hd <= bands - 1`` (default; the pigeonhole
    bound) under ANY layout; beyond it the pair set would depend on
    the persisted layout, so it raises.

    ``new_st`` and the index must have disjoint ``id_col`` domains
    (the :func:`bloom_new_docs` contract).

    Output: (new_id, corpus_id, hd), hd <= max_hd.
    """
    if max_hd is None:
        max_hd = bands - 1
    if max_hd > bands - 1:
        raise ValueError(
            f"incremental_hamming_dups: max_hd={max_hd} exceeds the "
            f"pigeonhole bound bands-1={bands - 1} — the banded "
            f"candidates would not be exhaustive and the pair set "
            f"would depend on the index's band layout; raise bands "
            f"(rebuild the index) instead"
        )
    if validated_layout is _UNVALIDATED:
        layout = _validate_hamming_index(
            index, nbits, bands, "incremental_hamming_dups"
        )
    else:
        # caller validated once up front (the image streaming drain
        # does, before start()) and passes the stored layout — skip
        # the per-call distinct job over the index (r16)
        layout = validated_layout
    kwargs = hamming_layout_kwargs(layout) if layout is not None else {}
    bvals = _band_values(hash_col, nbits, bands, **kwargs)
    shard = new_st.select(
        F.col(id_col).alias("new_id"),
        F.col(hash_col).alias("_fa"),
        F.posexplode(bvals).alias("band", "bval"),
    )
    cand = (
        shard.join(
            index.select(
                F.col(id_col).alias("corpus_id"),
                F.col(hash_col).alias("_fb"),
                "band",
                "bval",
            ),
            ["band", "bval"],
        )
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id", "_fa", "_fb")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    hd = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).cast("long")
    return cand.withColumn("hd", hd).where(F.col("hd") <= max_hd).select(
        "new_id", "corpus_id", "hd"
    )


def hamming_index_append(
    spark,
    index_path: str,
    new_st: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
) -> dict:
    """Grow a persisted Hamming band index IN PLACE with newly-accepted
    fingerprints — the maintenance step that closes the image-tier
    ingest lifecycle (accepted media must enter the index or the next
    shard can't see them; forget is :func:`lsh_index_forget`, generic
    over the (id, band, …) shape).

    The geometry AND band layout are read from the index's own embedded
    config columns, so appended rows are banded exactly the way the
    index is — a caller cannot append identity-banded keys to an
    interleave-recovered index.  A measured ``_join_cost_flops`` stamp
    is carried forward (the :func:`srp_index_append` contract, round-14
    advice).  Partitioned sinks get ``partitionBy("band")`` appends —
    never flat files into a Hive-partitioned directory.

    Returns the config dict used (nbits/bands/layout)."""
    import os

    idx = spark.read.parquet(index_path)
    missing = [c for c in ("_nbits", "_bands", "_layout")
               if c not in idx.columns]
    if missing:
        raise ValueError(
            f"hamming_index_append: index at {index_path} lacks config "
            f"columns {missing} — build it with hamming_band_index"
        )
    metas = idx.select("_nbits", "_bands", "_layout").distinct().collect()
    if len(metas) != 1:
        raise ValueError(
            f"hamming_index_append: index at {index_path} is empty or "
            f"holds {len(metas)} configs — rebuild it with "
            f"hamming_band_index"
        )
    cfg = {
        "nbits": metas[0]["_nbits"],
        "bands": metas[0]["_bands"],
        "layout": metas[0]["_layout"],
    }
    jc = None
    if "_join_cost_flops" in idx.columns:
        jcs = idx.select("_join_cost_flops").distinct().collect()
        if len(jcs) != 1:
            raise ValueError(
                f"hamming_index_append: index at {index_path} holds "
                f"{len(jcs)} distinct _join_cost_flops values — rebuild "
                f"it before appending"
            )
        jc = float(jcs[0]["_join_cost_flops"])
    frame = hamming_band_index(
        new_st, cfg["nbits"], cfg["bands"], layout=cfg["layout"],
        id_col=id_col, hash_col=hash_col, join_cost_flops=jc,
    )
    partitioned = False
    try:
        partitioned = any(
            e.startswith("band=") for e in os.listdir(index_path)
        )
    except OSError:
        pass
    writer = frame.write.mode("append")
    if partitioned:
        writer = writer.partitionBy("band")
    writer.parquet(index_path)
    return cfg


def hamming_gauge_ledger_append(
    spark,
    ledger_path: str,
    st: DataFrame,
    nbits: int,
    bands: int,
    run_seq: int,
    layout="identity",
    hash_col: str = "simhash",
    hot_share: float = 0.2,
) -> None:
    """Persist one maintenance run's band-occupancy gauge next to the
    index artifacts (round-14 verdict item 6): m17's decision table
    recomputed gauges per run, so "is_hot NOW" was all it could say —
    a rebuild scheduler needs "hot since WHEN", which takes a gauge
    HISTORY.  One :func:`hamming_band_occupancy` pass (``bands`` rows)
    stamped with the caller's monotone ``run_seq`` and the gauged
    layout, written to the ledger's own ``run_seq=<n>`` partition with
    overwrite — re-running a crashed maintenance window rewrites
    identical rows instead of duplicating them (the e34 idempotent-sink
    posture; the gauge is a pure function of (corpus, layout)).

    ``run_seq`` is caller-supplied (a shard date key, a maintenance
    epoch counter) rather than wall time, so ledgers are deterministic
    and replayable."""
    kwargs = (
        dict(layout) if isinstance(layout, dict)
        else hamming_layout_kwargs(layout)
    )
    rows = hamming_band_occupancy(
        st, nbits=nbits, bands=bands, hash_col=hash_col,
        hot_share=hot_share, **kwargs,
    ).withColumn(
        "layout", F.lit(hamming_layout_str(kwargs))
    )
    rows.write.mode("overwrite").parquet(
        f"{ledger_path}/run_seq={int(run_seq)}"
    )


def hamming_gauge_ledger_report(ledger: DataFrame) -> DataFrame:
    """Roll a persisted gauge ledger up to the per-(layout, band)
    health HISTORY a rebuild scheduler consumes — the round-14 verdict
    item 6 payoff: ``hot_since`` is the run where the band's current
    trailing hot streak began (NULL when the band is healthy as of its
    latest run), so "re-band now or wait" can key on streak AGE
    instead of one run's snapshot.

    Two bounded aggregates over the slim ledger (``bands`` rows per
    run): a per-(layout, band) rollup, then a streak-start lookup join
    — both lazy, both tiny (the ledger is gauge rows, never corpus
    rows).

    Output, one row per (layout, band): (layout, band, n_runs,
    n_hot_runs, last_run, is_hot_now, hot_since,
    worst_top_bucket_share)."""
    base = ledger.groupBy("layout", "band").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(F.col("is_hot").cast("int")).cast("long").alias("n_hot_runs"),
        F.max("run_seq").cast("long").alias("last_run"),
        F.max(F.when(~F.col("is_hot"), F.col("run_seq")))
        .alias("_max_nonhot"),
        F.max("top_bucket_share").alias("worst_top_bucket_share"),
    )
    streak = (
        ledger.where(F.col("is_hot"))
        .join(base.select("layout", "band", "_max_nonhot"),
              ["layout", "band"])
        .where(
            F.col("_max_nonhot").isNull()
            | (F.col("run_seq") > F.col("_max_nonhot"))
        )
        .groupBy("layout", "band")
        .agg(F.min("run_seq").cast("long").alias("hot_since"))
    )
    return (
        base.join(streak, ["layout", "band"], "left")
        .select(
            "layout",
            "band",
            "n_runs",
            "n_hot_runs",
            "last_run",
            F.col("hot_since").isNotNull().alias("is_hot_now"),
            "hot_since",
            "worst_top_bucket_share",
        )
        .orderBy("layout", "band")
    )


def passage_fuzzy_dups(
    docs: DataFrame,
    size: int = 16,
    stride: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
    pid_base: int = 10_000,
) -> DataFrame:
    """Passage-level FUZZY dedup: sliding-window chunks (the same
    size/stride grid as ``text.chunk_passages``) become the unit of
    MinHash-LSH near-dup detection — catching paragraphs recycled
    across documents with small edits, which whole-document MinHash
    (d3) dilutes away and exact passage dedup (d6) misses entirely.

    Passage id = ``doc_id·pid_base + chunk_idx`` (documents here have
    far fewer chunks than ``pid_base``; raise it for book-length docs).

    Scale: the chunk explode is map-side (fan-out ≈ n_tokens/stride);
    everything after is exactly :func:`minhash_lsh_pairs` on the
    passage frame — O(passages + candidates), banded, never all-pairs.

    Output: (id_a, id_b, jaccard) over PASSAGE ids, id_a < id_b.
    """
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(stride))
    passages = docs.select(
        F.col(id_col), words.alias("_w"), F.posexplode(starts).alias("_i", "_s")
    ).select(
        (F.col(id_col) * pid_base + F.col("_i")).alias("pid"),
        F.array_join(F.slice(F.col("_w"), F.col("_s"), size), " ").alias("text"),
    )
    return minhash_lsh_pairs(
        passages, num_hashes=num_hashes, bands=bands, threshold=threshold,
        n=n, text_col="text", id_col="pid", hash=hash,
    )


def bag_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set (the "same words, any order" equivalence a
    template/boilerplate dedup wants)."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(text, " "))))
    )


def bloom_new_docs(
    spark,
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 18,
    n_hashes: int = 3,
) -> DataFrame:
    """Incremental dedup with a Bloom prefilter: which docs in the new
    ``batch`` are NOT already in ``corpus`` (by bag-of-words
    fingerprint)?  Result is EXACT — the bloom filter only routes:

    * batch rows whose k bit positions are not all set are **definitely
      new** (no false negatives) and skip the join entirely;
    * the remaining candidates — a small fraction at real scale — are
      verified with an exact anti-join, which removes bloom false
      positives.

    Scale design: this is the ingest-side shape for 100 TB dedup — the
    corpus is represented by a FIXED-SIZE bitmap (m_bits chosen for the
    target false-positive rate; 2^30 bits = 128 MB handles ~10^8 keys
    at ~1% FPP), broadcast once, tested map-side via an Arrow-batched
    pandas UDF; only candidates shuffle into the anti-join, so the
    expensive exchange is O(dups + false positives), not O(batch).
    The bitmap here is assembled from a bounded ``distinct`` of set
    positions (≤ m_bits rows by construction); a JVM
    ``DataFrame.stat.bloomFilter`` build is the drop-in for when even
    that collect is unwanted.

    Output: (doc_id, fp) of genuinely-new batch docs.
    """
    def positions(col):
        return [
            F.pmod(F.xxhash64(F.concat(col, F.lit(f"#bloom{i}"))), F.lit(m_bits))
            for i in range(n_hashes)
        ]

    cfp = corpus.select(bag_fingerprint(F.col(text_col)).alias("fp"))
    set_rows = (
        cfp.select(F.explode(F.array(*positions(F.col("fp")))).alias("p"))
        .distinct()
        .collect()  # bounded by m_bits, independent of corpus size
    )
    bits = np.zeros(m_bits, dtype=np.uint8)
    bits[[int(r["p"]) for r in set_rows]] = 1
    packed = spark.sparkContext.broadcast(np.packbits(bits).tobytes())

    @F.pandas_udf("boolean")
    def might_contain(pos: pd.Series) -> pd.Series:
        bm = np.unpackbits(np.frombuffer(packed.value, dtype=np.uint8))
        idx = np.stack(pos.to_numpy())
        return pd.Series(bm[idx].all(axis=1).astype(bool))

    b = batch.select(
        F.col(id_col), bag_fingerprint(F.col(text_col)).alias("fp")
    ).withColumn("_might", might_contain(F.array(*positions(F.col("fp")))))
    definite_new = b.where(~F.col("_might"))
    survivors = b.where(F.col("_might")).join(cfp, on="fp", how="left_anti")
    return (
        definite_new.unionByName(survivors)
        .select(id_col, "fp")
        .orderBy(id_col)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 256,
) -> DataFrame:
    """DIRECTED shingle containment within blocks: |A ∩ B| / |A| — the
    asymmetric near-dup signal Jaccard misses.  A short document quoted
    inside a long one scores containment ≈ 1 in the short→long
    direction while its Jaccard stays low (the union is dominated by
    the long doc), so quote/expansion/superset pairs surface here and
    nowhere else.

    Same inverted-index shape and stop-shingle ``max_df`` cap as
    ``ngram_jaccard_pairs`` (one (block, shingle)-keyed self-join,
    nothing quadratic in the corpus); the only difference is the
    denominator and that both orientations of a pair are emitted.

    Output: (id_a, id_b, containment) with id_a != id_b and
    containment(A in B) >= threshold.
    """
    postings = (
        shingle_frame(docs, n, id_col, text_col, [block_col])
        .select(
            F.col(id_col).alias("_did"),
            F.col(block_col).alias("_blk"),
            F.transform(F.col("_sh"), lambda s: F.xxhash64(s)).alias("_shh"),
        )
        .select("_did", "_blk", F.explode("_shh").alias("_s"))
    )
    if max_df is not None:
        keep = (
            postings.groupBy("_blk", "_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_blk", "_s")
        )
        postings = postings.join(keep, on=["_blk", "_s"])
    sizes = postings.groupBy("_did").agg(F.count(F.lit(1)).alias("_sz"))
    postings = postings.join(sizes, on="_did")
    a = postings.select(
        "_blk", "_s", F.col("_did").alias("id_a"), F.col("_sz").alias("sz_a")
    )
    b = postings.select("_blk", "_s", F.col("_did").alias("id_b"))
    inter = (
        a.join(b, on=["_blk", "_s"])
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    cont = F.col("_i").cast("double") / F.col("sz_a").cast("double")
    return (
        inter.select("id_a", "id_b", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
        .orderBy("id_a", "id_b")
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact set-similarity join by PREFIX FILTERING (AllPairs/PPJoin
    family): order each document's distinct word n-gram shingles by global rarity
    (document frequency asc, token asc) and index only the first
    ``|x| − ⌈t·|x|⌉ + 1`` tokens — two documents with Jaccard ≥ t MUST
    share a prefix token (pigeonhole), so the candidate join touches
    rare shingles only and the stop-token blow-up that forces d2's
    posting cap never happens.  Candidates are verified exactly.

    Pipeline: one DF aggregate, one per-doc rank window (shuffle on
    doc), prefix self-join on the token (shuffle on token — bounded by
    rarity), distinct, exact-intersection verify.  The complement to
    d3's probabilistic MinHash: same output contract, zero recall loss.

    Output: (id_a, id_b, jaccard ≥ threshold), exact.
    """
    toks = shingle_frame(docs, n, id_col, text_col).select(
        F.col(id_col).alias("_id"), F.explode("_sh").alias("_tok")
    )
    sz = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    df_ = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql.window import Window as _W

    ranked = (
        toks.join(df_, "_tok")
        .withColumn(
            "_rn",
            F.row_number().over(
                _W.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_tok"))
            ),
        )
        .join(sz, "_id")
    )
    prefix = ranked.where(
        F.col("_rn") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    ).select("_id", "_tok", "_sz")
    cand = (
        prefix.select(F.col("_id").alias("id_a"), "_tok", F.col("_sz").alias("_sza"))
        .join(
            prefix.select(F.col("_id").alias("id_b"), "_tok", F.col("_sz").alias("_szb")),
            "_tok",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sza", "_szb")
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = toks.select(F.col("_id").alias("id_a"), "_tok")
    tb = toks.select(F.col("_id").alias("id_b"), "_tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "_tok"])
        .groupBy("id_a", "id_b", "_sza", "_szb")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    jac = F.col("_i") / (F.col("_sza") + F.col("_szb") - F.col("_i"))
    return (
        inter.where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
