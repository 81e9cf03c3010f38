"""SparkSession construction with scale-appropriate defaults.

Single place where the engine's physical-execution knobs live: AQE with
skew-join handling, Arrow for all pandas-UDF exchange, one shuffle
partition per core (no floor: each partition costs fixed CPU in every
shuffling stage and stateful micro-batch, holding data or not).  On a
real cluster the same builder is fed through ``spark-submit
--py-files``; locally it runs ``local[$SPARK_GRAFT_CPUS]``.

Two structured-streaming defaults cut the fixed cost of every
checkpointed query:

- ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
  ``FileSystemBasedCheckpointFileManager``.  The default
  ``FileContextBasedCheckpointFileManager`` renames through
  ``FileContext``, which calls ``getFileLinkStatus`` on the source, the
  target and both ``.crc`` files; without Hadoop's native library each
  of those starts a ``readlink`` process (about 1,500 per ``gmm_stream``
  run, most under ``state/``).  The FileSystem-based manager renames
  with ``FileSystem.rename``, which is ``File.renameTo`` on the local
  filesystem and starts no process.  It is as safe there: FileContext's
  no-overwrite rename (``AbstractFileSystem.renameInternal``, Hadoop
  3.4.2) also checks that the target is absent and then calls
  ``FileSystem.rename``, so both managers check, then rename, and a
  second writer of one batch id fails either way.  The checkpoint files
  and their format do not change, so checkpoints written under the old
  default resume.  A cluster that keeps its checkpoints on HDFS or an
  object store passes its own manager through ``extra_conf``.
- ``spark.sql.streaming.pollingDelay`` is 100 ms instead of 10 ms: an
  idle query with the default trigger polls its source that often, and
  at 10 ms the polling alone cost about 70 ms of CPU per idle second.
  New data waits at most 100 ms longer to start a micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "kelos-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Arrow-batched pandas stages allocate multi-MB buffers per batch;
    # glibc's default 128 KiB mmap threshold makes every one a fresh
    # mmap/munmap cycle, and the resulting guest page-fault storm
    # serializes across workers (measured 11x per-worker slowdown at 32
    # processes).  Raising the thresholds keeps freed blocks on the heap
    # for reuse.  Must be set before the JVM starts — Python workers
    # inherit the JVM's environment.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TOP_PAD_", "134217728")
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Let Catalyst re-plan at runtime: partition coalescing, skew-join
        # splitting — the explicit skew story for the 100 TB target.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All Python exchange is Arrow-batched; no per-row Python anywhere
        # (BASELINE.json input_hint).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # Smaller scan splits -> enough tasks to fill all cores even on
        # moderate inputs (default 128 MiB gave 26 tasks for 32 cores).
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] runs every executor thread inside the driver JVM, so
        # this IS the executor memory.  r07 measured BOTH directions on
        # the full 95-query bench at sf1.0 scale: 48g removes the spill
        # of the 60M+-key pair aggregates per-query, but the big heap
        # degrades the LONG session — the in-run drift sentinel rose
        # 3.3x by query ~75 and the whole set took 446s vs 308s at 8g
        # (GC of a grown heap + page-cache pressure cost more than the
        # spill it saved).  8g stays; override via SPARK_DRIVER_MEM for
        # single heavy jobs.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no readlink process per checkpoint rename; safety argument in
        # the module docstring
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.streaming.pollingDelay", "100ms")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
