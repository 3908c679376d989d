"""SparkSession helpers with scale-oriented defaults.

Defaults are tuned so the same code runs on local[N] for tests and on a
real cluster unchanged: AQE on (runtime join re-planning, skew handling,
partition coalescing), moderate shuffle partitions locally, Arrow for any
pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "projet_graphdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # localCheckpoint blocks are only dropped when the JVM GCs their
        # weak refs; periodic GC keeps long sessions from accumulating
        # dead blocks until memory pressure stalls the scheduler
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # tiny local relations (literal graphs, seed rows) get 1 partition
        # instead of defaultParallelism — parquet scans are unaffected
        .config("spark.sql.leafNodeDefaultParallelism", "1")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and convert (streaming/events.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4's ICU-backed lower()/upper() pays a ~100s one-time
        # CollationAwareUTF8String static init on first executor use;
        # JVM case mapping is correct for the engine's ASCII-ish data
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # each Python task's setup_spark_files calls
        # importlib.invalidate_caches(), which on Python 3.11 re-reads the
        # directory of every zip on the worker's path (pyspark.zip, py4j,
        # the spark-core jar: ~27k entries, 0.12-0.21 s per task); the
        # engine's daemon re-reads an archive only when it changed on disk.
        # The daemon module, not the worker module: Spark ignores
        # spark.python.worker.module while spark.python.use.daemon is on
        .config("spark.python.daemon.module", "projet_graphdb_spark.pyworker")
    )
    return builder.getOrCreate()
