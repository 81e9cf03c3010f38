"""Iceberg table plumbing (north_rule: "over Iceberg tables of
Common-Crawl-style web pages").

The engine's logical plans are storage-agnostic DataFrames; this module
is the single place that binds them to Iceberg when the runtime jar is
on the classpath, and falls back to plain parquet paths when it isn't
(this sandbox ships no Iceberg jar — the fallback IS the tested path;
the Iceberg branch is config plumbing over Iceberg's public Spark API).

What Iceberg adds at 10^12-doc scale, and where the engine relies on
only-if-available behavior:

- scan planning over manifest metadata (partition pruning by crawl
  date / bucket(url) without listing 10^8 files) — free through the
  DataFrame reader, no plan changes;
- hidden partitioning (``days(warc_ts)``, ``bucket(N, url)``) so writes
  cluster by crawl date and url hash without user-visible columns;
- the exactly-once sink can become ``overwritePartitions`` / MERGE on a
  snapshot-isolated table instead of dynamic parquet overwrite — same
  idempotent-replay semantics, plus concurrent readers never see a
  half-written window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

EXTENSION = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_conf(
    catalog: str = "local", warehouse: str = "/tmp/iceberg-warehouse"
) -> dict[str, str]:
    """The session conf that enables an Iceberg hadoop catalog — feed
    into ``get_spark(extra_conf=...)`` (requires the
    iceberg-spark-runtime jar on the classpath via ``--packages`` /
    ``--jars``)."""
    return {
        "spark.sql.extensions": EXTENSION,
        f"spark.sql.catalog.{catalog}": CATALOG_IMPL,
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath —
    probed through the public DataSource lookup (no ``spark._jvm``,
    works under Spark Connect): a missing runtime surfaces as
    DATA_SOURCE_NOT_FOUND; any other error (e.g. the probe path not
    existing) proves the source resolved."""
    try:
        spark.read.format("iceberg").load("/__iceberg_probe_nonexistent__")
        return True
    except Exception as e:  # noqa: BLE001 — classify by error condition
        msg = str(e)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg:
            return False
        return True


def read_pages(spark: SparkSession, ref: str) -> DataFrame:
    """Read the page table from either an Iceberg table reference
    (``catalog.db.table`` — requires the runtime jar) or a parquet
    path.  Everything downstream is identical: filters and column
    pruning reach the scan either way."""
    if "/" not in ref and "." in ref:
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{ref!r} looks like a catalog table but the Iceberg "
                "runtime is not on the classpath; pass a parquet path "
                "or add iceberg-spark-runtime via --packages"
            )
        return spark.table(ref)
    return spark.read.parquet(ref)


def write_pages(
    df: DataFrame,
    ref: str,
    bucket_urls: int = 64,
) -> None:
    """Write the page table: to Iceberg with hidden partitioning
    (days(warc_ts), bucket(url)) when ``ref`` is a table, else parquet.

    The bucket count co-locates same-url rows for the byte-identical
    text-per-url invariant checks and makes url-keyed joins
    shuffle-free between bucketed tables."""
    if "/" not in ref and "." in ref:
        spark = df.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{ref!r} is a catalog table but Iceberg is unavailable"
            )
        (
            df.writeTo(ref)
            .partitionedBy(
                F_days("warc_ts"), F_bucket(bucket_urls, "url")
            )
            .createOrReplace()
        )
    else:
        df.write.mode("overwrite").parquet(ref)


def F_days(col: str):  # tiny indirection so import stays top-level-safe
    from pyspark.sql import functions as F

    return F.days(col)


def F_bucket(n: int, col: str):
    from pyspark.sql import functions as F

    return F.bucket(n, col)
