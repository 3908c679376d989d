"""The engine's one lineage barrier, with an optional SINK-BACKED mode.

Every lineage cut in the engine (iteration state, funnel manifests,
multi-consumer frames, session memos) goes through :func:`materialize`,
and every rotation predecessor is freed through :func:`release` — no
other module calls ``localCheckpoint`` or deletes a barrier itself.

Default (``SPARK_GRAFT_CKPT_DIR`` unset, and the bench configuration):
:func:`materialize` *is* ``localCheckpoint(eager)``, so plans are
byte-for-byte those of a direct checkpoint.  Its blocks live in executor
storage memory (MEMORY_AND_DISK) and are non-fault-tolerant — the
lineage is truncated, so a lost executor cannot recompute (guide §5).

Setting ``SPARK_GRAFT_CKPT_DIR`` (a local path or any Hadoop URI such
as ``file://``, ``hdfs://`` or ``s3a://``) switches every barrier to a
parquet round-trip under a unique ``mat_<uuid4>`` sub-directory of that
root — durable, bounded by disk, re-readable after any executor loss.
The write is the materialization, so sink mode is always eager.

Lifetimes: a rotation (``graph_algos._ckpt_rotate``) frees its
predecessor through :func:`release` — an RDD is unpersisted, a sink is
deleted through its Hadoop ``FileSystem``.  Every other barrier is
left to Spark and the operator: its blocks go when the JVM garbage-
collects the unreferenced RDD (or with the session), its sink stays
until ``SPARK_GRAFT_CKPT_DIR`` is cleaned (some barriers — the entry
module's ``_DUP_CLUSTERS_CACHE`` memo, the ``GraphState`` a program
returns — outlive the call that made them).  Sink paths are never
shared across calls: this is materialization, not a cache.
"""

from __future__ import annotations

import os
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame


def ckpt_dir() -> str | None:
    """The sink-backed materialization root, or None for the in-memory
    ``localCheckpoint`` default."""
    return os.environ.get("SPARK_GRAFT_CKPT_DIR") or None


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage.  Default: ``localCheckpoint(eager)``.
    With ``SPARK_GRAFT_CKPT_DIR`` set: write parquet under a unique
    sub-directory of that root and read it back (always eager).  Pair
    with :func:`handle` / :func:`release` when rotating iteration
    state."""
    root = ckpt_dir()
    if root is None:
        return df.localCheckpoint(eager=eager)
    # string join, not os.path: the root may be a URI; the write creates
    # the parent directories through the Hadoop FileSystem
    path = f"{root.rstrip('/')}/mat_{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    out._graft_sink_path = path
    return out


def handle(df: DataFrame):
    """Cleanup handle for a frame returned by :func:`materialize`: its
    sink path, or else the JVM RDD backing its checkpoint (under the
    optional schema-preserving Project), or None."""
    path = getattr(df, "_graft_sink_path", None)
    if path is not None:
        return path
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:
        pass
    return None


def release(h) -> None:
    """Free a barrier by its :func:`handle`: a sink path is deleted
    through its Hadoop ``FileSystem`` (local paths and URIs alike), an
    RDD is unpersisted.  Best-effort: cleanup must never fail the
    algorithm."""
    if h is None:
        return
    try:
        if isinstance(h, str):
            sc = SparkContext._active_spark_context
            path = sc._jvm.org.apache.hadoop.fs.Path(h)
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
        else:
            h.unpersist(False)
    except Exception:
        pass
