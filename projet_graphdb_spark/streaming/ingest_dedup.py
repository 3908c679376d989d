"""Streaming incremental near-dup ingest: ``foreachBatch`` joining each
micro-batch of NEW documents against a persisted corpus LSH band index
(:func:`projet_graphdb_spark.functions.dedup.incremental_lsh_dups`).

This is the production shape of ingest-side dedup: the corpus index is
built once (:func:`...dedup.lsh_band_index`, sunk to parquet), and the
document stream drains through it — each micro-batch pays its own
O(batch × bands) signature work plus a candidate-bounded verify, never
a corpus re-scan.

Why the composition is exact: emitted pairs are shard×corpus only, and
a document's band keys are a pure function of its own text, so batch
boundaries cannot change the pair set — the union over micro-batches
equals the one-shot :func:`incremental_lsh_dups` over the whole shard
(that is the oracle-checked invariant behind e34, which reuses d26's
full SQL oracle).

Sink idempotency (round-8 verdict): each micro-batch OVERWRITES its own
``batch_id=<n>`` partition of the pair sink instead of blind-appending.
foreachBatch gives at-least-once batch execution — a crash after the
write but before the checkpoint commit replays the batch on restart —
and a batch's pair set is a pure function of its input files, so the
replayed overwrite rewrites identical rows and the drained sink is
exactly-once AS READ.  The kill-between-write-and-commit test
(tests/test_streaming_events.py::test_ingest_dedup_stream_midbatch_replay)
pins exactly that window by deleting the last checkpoint commit and
re-draining.  On object stores without atomic directory overwrite, swap
the per-batch partition for a table format's MERGE keyed on
(batch_id, new_id, corpus_id), keeping the join logic unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_graphdb_spark.functions import dedup
from projet_graphdb_spark.functions.materialize import materialize


def streaming_ingest_dedup(
    spark: SparkSession,
    shard_path: str,
    schema,
    corpus: DataFrame,
    index: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
    max_files_per_trigger: int | None = 1,
    pair_files_per_batch: int | None = None,
):
    """Drain a file stream of new documents with availableNow, joining
    every micro-batch against the persisted ``index`` and writing the
    verified (new_id, corpus_id, jaccard) pairs to ``out_dir`` under a
    per-batch ``batch_id=<n>`` partition (idempotent on micro-batch
    replay — see the module docstring; read the sink back with
    ``spark.read.parquet(out_dir)`` and project the pair columns).

    The LSH config (num_hashes/bands/n/hash) is forwarded to every
    per-batch ``incremental_lsh_dups`` call, which validates it against
    the config columns the index carries — a corpus indexed with a
    non-default construction fails loudly at the FIRST micro-batch
    instead of draining "successfully" with zero matches.

    ``corpus`` is referenced only by the candidate-bounded verify
    lookup inside ``incremental_lsh_dups`` (semi-join pruned);
    ``max_files_per_trigger=1`` forces several REAL micro-batches so
    the per-batch path is what actually runs.  Returns the
    StreamingQuery.

    ``pair_files_per_batch``: fan each batch's pair write out to this
    many files instead of whatever AQE coalesces to.  ``None`` (the
    default, and the production setting) lets AQE pick — at bench
    scale that is ONE file per micro-batch, i.e. an already-compact
    sink.  A positive value reproduces the real-cluster layout where
    each batch's join lands in many shuffle-partition-sized files
    (the small-files pathology :func:`compact_batch_sink` exists to
    remediate) — e35 uses it so the compaction receipt measures an
    actual shrink rather than a no-op.
    """

    # fail-loudly index/config validation ONCE, before start(): the
    # drain reads one immutable index, so the per-batch distinct job
    # incremental_lsh_dups would otherwise run bought one full index
    # scan per micro-batch for a config that cannot change mid-drain
    # (r16 streaming fixed-cost cut; a mismatch still fails before the
    # FIRST batch — earlier than the old per-batch check)
    dedup.validate_lsh_index_config(index, num_hashes, bands, n, hash)

    def _ingest(batch_df: DataFrame, batch_id: int):
        pairs = dedup.incremental_lsh_dups(
            corpus,
            batch_df,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            n=n,
            text_col=text_col,
            id_col=id_col,
            hash=hash,
            index=index,
            validate_index=False,
        )
        # overwrite THIS batch's partition, never append: foreachBatch
        # replays a batch whose write landed but whose checkpoint commit
        # didn't, and the pair set is a pure function of the batch's
        # input files — so the replay rewrites identical rows instead of
        # duplicating them (at-least-once execution, exactly-once sink).
        if pair_files_per_batch is not None:
            pairs = pairs.repartition(pair_files_per_batch)
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(shard_path)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_batch_sink(
    spark: SparkSession,
    path: str,
    target_files: int = 4,
    retain_last: int | None = None,
    batch_col: str = "batch_id",
) -> dict:
    """Compaction + retention for a per-batch-partitioned streaming
    sink (round-8 verdict gap 3): :func:`streaming_ingest_dedup`
    appends one ``batch_id=<n>`` directory of small files per
    micro-batch FOREVER — at one batch a minute that is ~1.4k
    directories/day of files sized by shard slice, the classic
    small-files pathology that makes every downstream scan pay
    per-file open cost.  This pass rewrites the sink into
    ``target_files`` files via the same staging + atomic-rename swap
    as the index maintenance ops (:func:`fsutil.atomic_swap` —
    crash-safe, and concurrent readers keep their immutable-file
    snapshot).

    ``retain_last``: also apply the x95 latest-N policy to the BATCH
    dimension — keep only the newest ``retain_last`` batch ids and
    drop the rest (the TTL story for ingest artifacts whose pairs have
    already been consumed downstream).  ``None`` keeps everything:
    pure compaction, pair set provably unchanged (that is e35's
    value-level oracle).

    The rewrite PRESERVES the ``batch_col`` Hive partition layout
    (round-9 advice): a flat rewrite would silently poison the sink if
    the stream's checkpoint later processed one more micro-batch — the
    new ``batch_id=<n>`` directory next to flat files makes
    ``spark.read.parquet`` fail with conflicting-directory-structure.
    Keeping the layout means a still-live stream can append after a
    compaction and both replay idempotence and the read path stay
    valid.  The floor is therefore one file per KEPT batch (the win is
    within-batch many→one); use ``retain_last`` to bound the batch
    dimension itself.  A sink compacted twice is handled: the
    partition column round-trips through the rewrite unchanged.

    Returns the receipt: files/batches before and after, rows kept and
    dropped — the numbers the small-files claim is made of."""

    def _count_files(p):
        total = 0
        for _root, _dirs, files in os.walk(p):
            total += sum(1 for f in files if not f.startswith((".", "_")))
        return total

    from projet_graphdb_spark.functions.fsutil import atomic_swap

    files_before = _count_files(path)
    df = spark.read.parquet(path)
    rows_before = df.count()
    batches = [
        r[batch_col]
        for r in df.select(batch_col).distinct().orderBy(batch_col).collect()
    ]
    kept = df
    if retain_last is not None and len(batches) > retain_last:
        cutoff = batches[-retain_last]
        kept = df.filter(F.col(batch_col) >= cutoff)
    # materialize BEFORE the swap: the plan must not lazily re-read the
    # directory the swap is about to replace
    kept = materialize(kept.select(*df.columns))
    rows_after = kept.count()
    # repartition BY the batch column: each kept batch lands whole in
    # one task, so the Hive-partitioned rewrite emits exactly one file
    # per kept batch (target_files caps the write parallelism)
    atomic_swap(
        path,
        lambda p: kept.repartition(max(1, target_files), F.col(batch_col))
        .write.mode("overwrite")
        .partitionBy(batch_col)
        .parquet(p),
    )
    return {
        "files_before": files_before,
        "files_after": _count_files(path),
        "batches_before": len(batches),
        "batches_kept": int(
            len(batches) if retain_last is None else min(retain_last, len(batches))
        ),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


def derive_stream_route(
    n_corpus: int,
    dim: int,
    threshold: float,
    target_recall: float = 0.95,
    lsh_index: DataFrame | None = None,
    ivf_centroids: dict | None = None,
    ivf_cells: DataFrame | None = None,
    imi_centroids: tuple | None = None,
    imi_cells: DataFrame | None = None,
    exact_allowed: bool = True,
) -> tuple:
    """The streaming twin's ONCE-before-start() route derivation,
    factored out so the contract is unit-testable without launching a
    stream.  Prices the persisted artifacts at S = 1: the argmin is
    S-invariant (every cost term is linear in S — the measured-
    occupancy estimate included, S·Σc²/N), so any positive shard size
    prices the same route.  ``join_cost_flops`` stays 0 HERE BY DESIGN
    — even when an artifact embeds a measured ``_join_cost_flops``
    constant (round-14 test-pinned): the per-join setup term is
    CONSTANT in S, so including it would make the once-derived route
    depend on an S this stream never knows; the one-shot router (which
    holds the real S) is where the wall-honest join pricing belongs.
    Returns ``(method, lsh_cfg, ivf_cfg, imi_cfg)``."""
    from projet_graphdb_spark.functions import similarity

    lsh_cfg, ivf_cfg, imi_cfg = similarity.ingest_artifact_cfgs(
        lsh_index, ivf_centroids, ivf_cells, imi_centroids, imi_cells,
        fn_name="streaming_ingest_embeddings",
    )
    lsh_measured = None
    if lsh_index is not None:
        try:
            lsh_measured = similarity.srp_index_measured_pairs(lsh_index, 1)
        except Exception:
            lsh_measured = None
    rows = similarity.incremental_plan_rows(
        n_corpus, 1, threshold, target_recall, dim,
        lsh_cfg=lsh_cfg, ivf_cfg=ivf_cfg, imi_cfg=imi_cfg,
        exact_allowed=exact_allowed, lsh_measured_pairs=lsh_measured,
    )
    return rows[0]["method"], lsh_cfg, ivf_cfg, imi_cfg


def streaming_ingest_embeddings(
    spark: SparkSession,
    shard_path: str,
    schema,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.4,
    target_recall: float = 0.95,
    lsh_index: DataFrame | None = None,
    ivf_centroids: dict | None = None,
    ivf_cells: DataFrame | None = None,
    imi_centroids: tuple | None = None,
    imi_cells: DataFrame | None = None,
    dim: int | None = None,
    n_corpus: int | None = None,
    max_files_per_trigger: int | None = 1,
    exact_allowed: bool = True,
):
    """The ROUTED embedding ingest under Structured Streaming — the
    vector twin of :func:`streaming_ingest_dedup`: each micro-batch of
    new embeddings is priced and routed by
    :func:`similarity.incremental_cosine_dups_auto` against the SAME
    persisted artifacts, and its (new_id, corpus_id, sim) pairs
    overwrite the batch's own ``batch_id=<n>`` partition (idempotent
    mid-batch-crash replay, the e34 sink contract).

    Why micro-batching cannot change the route: every term of the
    per-shard cost model is LINEAR in the shard size S (signature /
    assignment flops ∝ S, candidate volume ∝ S·N), so the argmin is
    S-independent — which is also why the route is derived ONCE, before
    ``start()`` (review finding: deriving per micro-batch re-scanned
    every artifact's config and re-counted the batch per trigger for a
    decision that cannot change).  Each batch then runs the chosen
    leg's incremental function directly at the sinks' own stored
    widths; the leg's per-batch config/staleness validation still runs
    (cheap, defense in depth — the e34 posture).  Calibration is OFF
    per batch (a micro-batch is too small a sample to re-estimate
    drift; run the shard-level calibration on the daily cut instead).
    Returns the StreamingQuery."""
    from projet_graphdb_spark.functions import similarity

    if n_corpus is None:
        n_corpus = corpus.count()
    if dim is None:
        dim = corpus.select(
            F.size(F.col("embedding")).alias("_d")
        ).first()["_d"]
    chosen, lsh_cfg, ivf_cfg, imi_cfg = derive_stream_route(
        n_corpus, dim, threshold, target_recall,
        lsh_index=lsh_index, ivf_centroids=ivf_centroids,
        ivf_cells=ivf_cells, imi_centroids=imi_centroids,
        imi_cells=imi_cells, exact_allowed=exact_allowed,
    )

    # validate the CHOSEN leg's artifacts ONCE, before start() (r16):
    # an availableNow drain reads immutable artifacts, so the per-batch
    # config-distinct + staleness-sample jobs re-checked state that
    # cannot change mid-drain; a mismatch still fails before the FIRST
    # batch — earlier than the old per-batch check.
    if chosen == "lsh" and lsh_index is not None:
        similarity.validate_srp_index_config(
            lsh_index, lsh_cfg["bits"], lsh_cfg["n_bands"], dim,
            lsh_cfg["seed"], fn_name="streaming_ingest_embeddings",
        )
    elif chosen == "ivf" and ivf_cells is not None:
        similarity.validate_ivf_artifacts(
            corpus, ivf_cells, ivf_centroids, ivf_cfg["nprobe"],
            fn_name="streaming_ingest_embeddings",
        )
    elif chosen == "imi" and imi_cells is not None:
        similarity.validate_imi_artifacts(
            corpus, imi_cells, imi_centroids, imi_cfg["p1"],
            imi_cfg["p2"], dim=dim, fn_name="streaming_ingest_embeddings",
        )

    def _ingest(batch_df: DataFrame, batch_id: int):
        if chosen == "exact":
            # the guaranteed leg: a micro-batch is exactly the small-S
            # shape the broadcast-shard × corpus-scan plan wants (its
            # size-cap probe stays PER BATCH — batch sizes vary)
            pairs = similarity.incremental_exact_dups(
                corpus, batch_df, threshold
            )
        elif chosen == "lsh":
            pairs = similarity.incremental_srp_dups(
                corpus, batch_df, threshold,
                n_bands=lsh_cfg["n_bands"], bits=lsh_cfg["bits"],
                dim=dim, seed=lsh_cfg["seed"], index=lsh_index,
                validate_index=lsh_index is None,
            )
        elif chosen == "ivf":
            pairs = similarity.incremental_ivf_dups(
                corpus, batch_df, threshold, nprobe=ivf_cfg["nprobe"],
                centroids=ivf_centroids, corpus_cells=ivf_cells,
                validate_artifacts=ivf_cells is None,
            )
        else:
            pairs = similarity.incremental_imi_dups(
                corpus, batch_df, threshold,
                p1=imi_cfg["p1"], p2=imi_cfg["p2"],
                centroids=imi_centroids, dim=dim, corpus_cells=imi_cells,
                validate_artifacts=imi_cells is None,
            )
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(shard_path)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_image_ingest_dedup(
    spark: SparkSession,
    shard_path: str,
    schema,
    index: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    bands: int = 4,
    max_hd: int | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decode_fn=None,
    max_files_per_trigger: int | None = 1,
    pair_files_per_batch: int | None = None,
):
    """The IMAGE twin of :func:`streaming_ingest_dedup` (round-14
    verdict item 2 — the one modality without a streaming ingest
    path): drain a file stream of new media with availableNow, each
    micro-batch paying ONE map-only dHash pass over its own payloads
    and one (band, bval) join against the persisted corpus dHash band
    index (:func:`projet_graphdb_spark.functions.multimodal.
    incremental_dhash_dups` — the shard is banded with the LAYOUT the
    index carries, so m16's persisted recovery governs the stream
    too), writing verified (new_id, corpus_id, hd) pairs to this
    batch's own ``batch_id=<n>`` partition.

    Exactness across batch boundaries: a medium's band keys are a pure
    function of its own payload under the index's layout, and emitted
    pairs are shard×corpus only — so the union over micro-batches
    equals the one-shot :func:`incremental_dhash_dups` over the whole
    shard (e39's value-level oracle, reusing m18's SQL).  Sink
    idempotency is the e34 contract verbatim: at-least-once batch
    execution + pure-function batch output + per-batch partition
    overwrite = exactly-once AS READ, pinned by the same
    kill-between-write-and-commit replay test.

    The index's geometry/layout config is validated at the FIRST
    micro-batch (``incremental_dhash_dups`` fails loudly on a
    mismatched read-back) instead of draining "successfully" with
    zero matches.  Returns the StreamingQuery."""
    from projet_graphdb_spark.functions import multimodal
    from projet_graphdb_spark.functions.dedup import _validate_hamming_index

    # validate the index's geometry/layout ONCE, before start() (r16):
    # the drain reads one immutable index, so the per-batch distinct
    # job re-checked a config that cannot change mid-drain; a mismatch
    # still fails before the first batch.  The stored layout rides into
    # every per-batch call (1-tuple-wrapped: layout None = empty index
    # is a valid validated state).
    layout = _validate_hamming_index(
        index, 64, bands, "streaming_image_ingest_dedup"
    )

    def _ingest(batch_df: DataFrame, batch_id: int):
        pairs = multimodal.incremental_dhash_dups(
            batch_df,
            index,
            bands=bands,
            max_hd=max_hd,
            payload_col=payload_col,
            id_col=id_col,
            decode_fn=decode_fn,
            validated_layout=(layout,),
        )
        if pair_files_per_batch is not None:
            pairs = pairs.repartition(pair_files_per_batch)
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(shard_path)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
