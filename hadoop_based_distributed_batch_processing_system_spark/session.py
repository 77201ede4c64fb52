"""SparkSession construction with engine defaults.

The engine never *requires* its own session — every operator accepts
an externally built ``SparkSession`` (the verify driver passes one in)
and any session-level requirement (the nanos-timestamp parquet legacy
flag) is applied at runtime inside the load path. ``get_spark`` exists
for tests, bench, and standalone use.

Scale notes (100 TB discipline):
- ``spark.sql.adaptive.enabled`` — AQE re-plans at shuffle
  boundaries: coalesces post-shuffle partitions, converts
  sort-merge→broadcast when runtime stats allow, splits skewed
  partitions. This is the single most important knob for a
  1000-executor cluster and costs nothing locally.
- ``spark.sql.shuffle.partitions`` — locally 2×cores; on a real
  cluster this should be ~2-3× total executor cores (or left to AQE
  with a high initial value). Exposed via env for the bench driver.
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) regardless of host timezone.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "hadoop-mr-capabilities-on-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", 2 * int(cpus)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # no events.ts encoding conf here: the physical encoding is
        # probed per corpus inside the load path (sources/io.py), which
        # sets any needed conf at runtime — the corpus has been
        # regenerated with a different encoding mid-build once already
        # arrow transfer for the pandas-UDF operators (X1/X2, multimodal)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    return builder.getOrCreate()


def core_parallelism(spark: SparkSession) -> int:
    """The engine's "no more partitions than cores" rule:
    ``min(defaultParallelism, spark.sql.shuffle.partitions)``. A
    partition beyond the cores the scheduler offers only adds a task's
    fixed cost; the shuffle-partition cap keeps a session that was
    sized below its cores on purpose at that size."""
    return min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get(_SHUFFLE_PARTITIONS, "200")),
    )


@contextmanager
def bounded_drain(spark: SparkSession) -> Iterator[None]:
    """Session confs for draining a bounded stream whose checkpoint
    Spark keeps in a temporary directory (no ``checkpointLocation``).
    The writers that pass a ``checkpointLocation`` do not run under
    it: their checkpoint outlives the query, a restarted writer
    resumes it (with the state partitioning of its first batch), and
    Spark's default manager guards it against a second writer.
    Start the query, wait for it and stop it inside the ``with``; both
    confs are restored on exit, whether the drain returned or raised.
    A streaming query binds them at ``start()``, so the caller's later
    batch queries never see them.

    - **State partitions = cores** (:func:`core_parallelism`). Every
      micro-batch runs one task, with its own state store and its own
      checkpoint files, per shuffle partition per stateful operator.
      A bounded demo stream gains nothing from more partitions than
      cores and an external session's 200 would cost ~25x in task and
      state overhead (measured: stream_stream_join 29 s -> 3 s at 8).
    - **FileSystem checkpoint manager.** Spark's default FileContext
      manager renames with put-if-absent semantics, which protects a
      checkpoint that several writers share; on a local file system
      without Hadoop's native library it also forks a ``chmod`` for
      every checkpoint and state-store file. A temporary checkpoint
      belongs to one query and is deleted at ``stop()``, so that
      protection buys nothing. The FileSystem manager writes the same
      files (temp file then rename, Hadoop ``.crc`` and Spark's
      checksum files included) without the forks.
    - **Trigger and wait stay with the caller.** A simple Python
      reader (``SimpleDataSourceStreamReader``) under
      ``availableNow`` delivers only its first micro-batch, so such
      drains use ``processingTime="0 seconds"`` with
      ``processAllAvailable()`` then ``stop()``; file sources and
      partitioned readers snapshot their end offset at start, so
      ``availableNow`` with ``awaitTermination()`` is a plain bounded
      run.
    """
    prev_partitions = spark.conf.get(_SHUFFLE_PARTITIONS)
    prev_manager = spark.conf.get(_CHECKPOINT_MANAGER, None)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(core_parallelism(spark)))
    spark.conf.set(_CHECKPOINT_MANAGER, _FS_CHECKPOINT_MANAGER)
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, prev_partitions)
        if prev_manager is None:
            spark.conf.unset(_CHECKPOINT_MANAGER)
        else:
            spark.conf.set(_CHECKPOINT_MANAGER, prev_manager)
