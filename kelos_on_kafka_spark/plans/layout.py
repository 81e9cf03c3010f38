"""Partition-layout guards.

``fan_out`` protects compute-heavy projections (higher-order shingle
expressions, per-element hash chains, vector arithmetic) from running on
a near-empty partition layout: a small parquet scan arrives as 1-2
partitions, which serializes work that should saturate every core.  At
real scale (the 100 TB target) any scan already carries >= the cluster's
default parallelism in partitions, so the guard is a no-op there — the
round-robin shuffle only ever touches inputs small enough for it to be
irrelevant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` round-robin to the session's default
    parallelism iff it currently has fewer partitions than that (or the
    explicit ``min_partitions``)."""
    spark = df.sparkSession
    target = min_partitions or int(
        spark.conf.get("spark.default.parallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    if df.isStreaming:
        # no partition probe on a streaming plan; micro-batch layout
        # follows the source's file/trigger split, and the stateful
        # stages repartition on their keys anyway
        return df
    # Estimate scan parallelism without the .rdd probe by modeling the
    # planner's actual bin-packing (FilePartition.maxSplitBytes): Spark
    # packs small files together (cost = size + openCostInBytes, bins of
    # maxSplitBytes clamped by bytes-per-core), so a raw file count over-
    # estimates partitions — e.g. many tiny files can still scan as few
    # partitions.  Stat the files (public pyarrow FS) and compute the
    # same formula; fall back to the file count only when stat fails.
    # Plans with no file lineage (post-shuffle, in-memory) already carry
    # shuffle.partitions tasks — left alone.  At real scale any corpus
    # scan packs to >> cores and the guard is a no-op; the stat cost is
    # capped by the wide-scan early return below.
    files = df.inputFiles()
    if not files:
        return df
    if (
        len(files) > 4 * target
        and spark.conf.get("spark.sql.files.minPartitionNum", None) is None
    ):
        # with default openCostInBytes (4 MiB) even all-tiny files pack
        # to >= len(files)*openCost/maxSplit >= target partitions here;
        # skip stat'ing thousands of files for a guard that's a no-op.
        # The shortcut's bound assumes the bytes-per-core clamp uses the
        # session parallelism — only true when minPartitionNum is UNSET;
        # a user-pinned low minPartitionNum can bin-pack many tiny files
        # to < target partitions, so that case falls through to the
        # exact model below (ADVICE r5).
        return df
    if _estimated_scan_partitions(spark, files, target) >= target:
        return df
    return df.repartition(target)


def _parse_bytes(v: str) -> int:
    """Parse Spark byte-size conf strings ('134217728b', '128m',
    '1g', plain digits)."""
    s = str(v).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    for suffix in ("kb", "mb", "gb", "tb"):
        if s.endswith(suffix):
            return int(float(s[:-2]) * units[suffix[0]])
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _estimated_scan_partitions(spark, files: list[str], target: int) -> int:
    """Model the planner's FilePartition packing: cost per file is
    size + openCostInBytes, bin capacity is
    ``min(maxPartitionBytes, max(openCostInBytes, totalCost/target))``
    (the bytes-per-core clamp, with minPartitionNum defaulting to the
    session parallelism), and the partition count is ~ceil(totalCost /
    capacity).  This is what Spark actually plans — a raw file count
    over-counts (tiny files are packed together) and a raw size/mpb
    under-counts (the bytes-per-core clamp shrinks bins on small scans).
    Falls back to the file count when a filesystem cannot be stat'ed."""
    from kelos_on_kafka_spark.plans import fsutil

    try:
        mpb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        min_parts = int(
            spark.conf.get("spark.sql.files.minPartitionNum", None)
            or target
        )
        total = 0
        for f in files:
            fs, p = fsutil.resolve(f.removeprefix("file:"))
            size = fs.get_file_info(p).size or 0
            total += size + open_cost
        bytes_per_core = total // max(1, min_parts)
        max_split = min(mpb, max(open_cost, bytes_per_core))
        return max(1, -(-total // max(1, max_split)))
    except Exception:  # noqa: BLE001 — estimation only, never fail the plan
        return len(files)
