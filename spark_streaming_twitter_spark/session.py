"""SparkSession factory tuned for this engine.

The reference builds its session at TwitterDatasetTrendingHashtag.java:51-59
with whole-stage codegen *disabled*; we invert that (SURVEY.md §4): codegen
on, AQE on, Arrow on, UTC session time zone pinned for oracle parity.

Every conf here is also the right default on a multi-executor cluster,
with two local-only exceptions: how streaming checkpoints are renamed
into place, and which daemon starts the Python workers (see
``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory this package was imported from, so local Python workers
# import the daemon module (pyworker) from the same copy as the driver
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "spark_streaming_twitter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Local mode is a test harness only; every conf here is also the right
    default on a multi-executor cluster (AQE coalescing + skew-join handle
    the per-cluster tuning at runtime), except two settings that only a
    ``local`` master changes.

    A local session writes its streaming checkpoints (offset, commit and
    file-source logs, HDFS-backed and RocksDB state) through Spark's
    ``FileSystemBasedCheckpointFileManager``. Spark's default renames each
    checkpoint file through Hadoop's ``FileContext``, which, without
    libhadoop, forks ``readlink`` several times per ``file:`` rename: about
    4 ms each, most of a small trigger's commit time. ``FileSystem.rename``
    ends in the same ``rename(2)`` of the same temp file and forks nothing;
    both managers check the destination before a non-overwriting rename,
    and checksums stay on. The session also maps ``file:`` to Hadoop's own
    ``LocalFileSystem`` (a checksummed file system): the Hive jar bundled
    with pyspark registers its ``ProxyLocalFileSystem`` for ``file:``,
    whose ``rename`` refuses an existing destination, so a replayed
    trigger would keep its old state file and leak the new temp file.
    A cluster master keeps both defaults, because on HDFS ``FileContext``
    is what gives an atomic rename with overwrite.

    A local session also starts its Python workers from
    ``spark_streaming_twitter_spark.pyworker`` (``spark.python.daemon.module``)
    and puts the directory the driver imported this package from on the
    workers' ``PYTHONPATH``, so they import the same copy. Without it, every
    Python task (``mapInPandas``, pandas UDFs, the stateful Python
    processors) spends 140-200 ms of worker CPU re-reading the central
    directories of ``pyspark.zip`` and the spark-core jar, because
    ``importlib.invalidate_caches()`` runs once per task and, on Python
    3.11, re-reads every zip archive the worker imports from. The module
    runs PySpark's own daemon unchanged; it only skips the re-read of an
    archive whose size, mtime and inode are unchanged since its last read,
    so a rewritten archive is still picked up. A cluster master keeps
    Spark's own daemon, because there the deployment owns the executors'
    Python path.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's generated partial-aggregate method for multi-decimal-sum
        # plans exceeds HotSpot's 8000-byte huge-method limit, so the hot
        # loop runs bytecode-interpreted (~60x slower: 19s -> 2.8s for one
        # decimal sum over sf0.1 lineitem). Lift the limit so C2 compiles it
        # — and grow the code cache to hold the compiled output: a session
        # running many generated plans fills the 240 MB default, after which
        # the JIT stops compiling and EVERY query degrades ~4x.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g",
        )
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        ).config(
            "spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem"
        ).config(
            "spark.python.daemon.module", "spark_streaming_twitter_spark.pyworker"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
