"""Table maintenance and audit operators for parquet tables: the keyed
CDC merge (``merge_cdc_delta``, MERGE-equivalent with deletes),
changelog compaction, SCD2 versioning, snapshot diffs, drift histograms
and cardinality stats.

The merge touches ONLY the hash buckets present in the incoming delta
(dynamic partition overwrite), so its cost scales with the delta, not
the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kelos_on_kafka_spark.plans import fsutil


def merge_cdc_delta(
    delta: DataFrame,
    path: str,
    key_col: str,
    order_cols: list[str],
    delete_col: str = "is_del",
    n_buckets: int = 16,
) -> None:
    """MERGE a CDC delta (upserts AND deletes) into a hash-bucketed
    parquet table — the parquet spelling of Iceberg's ``MERGE INTO ...
    WHEN MATCHED AND is_del THEN DELETE``: the last operation per key
    within the delta (by ``order_cols``, e.g. [ts, id]) wins; a
    surviving upsert replaces the key's row, a surviving tombstone
    removes it; rows of untouched keys in touched buckets are kept,
    untouched buckets are not read or written.

    The bucket is ``pmod(xxhash64(key), n_buckets)`` — functionally
    determined by the key, so a key can never move buckets and dynamic
    partition overwrite touches only the delta's buckets.  The bucket
    function affects FILE LAYOUT only, never row values, so the
    materialized table is oracle-comparable.  Idempotent: replaying the
    same delta reduces to the same per-key winners and rewrites the same
    buckets with the same content (a re-applied delete finds the key
    already absent) — which is what makes the foreachBatch wrapper
    (``streaming.sink.write_cdc_table_stream``) exactly-once.

    At 10^12-doc scale ``n_buckets`` becomes the table's real
    partitioning (e.g. date x key-bucket); the read-merge-write is one
    broadcast-or-shuffle join per touched bucket, cost ~ delta size."""
    spark = delta.sparkSession
    last = (
        delta.groupBy(F.col(key_col).alias("__k"))
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in delta.columns]),
                F.struct(*[F.col(c) for c in order_cols]),
            ).alias("__last")
        )
        .select("__last.*")
        .withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        )
    )
    upserts = last.where(~F.col(delete_col)).drop(delete_col)
    if not fsutil.table_exists(spark, path):
        # first write: tombstones for a table that does not exist yet
        # are no-ops; an all-delete first delta leaves no table, and a
        # later batch takes this branch again
        if not upserts.isEmpty():
            upserts.write.mode("overwrite").partitionBy("__bucket").parquet(
                path
            )
        return
    existing = spark.read.parquet(path)
    touched = last.select("__bucket").distinct()
    survivors = existing.join(
        F.broadcast(touched), "__bucket"
    ).join(
        last.select(F.col(key_col)).distinct(), key_col, "left_anti"
    )
    merged = survivors.unionByName(upserts.select(*existing.columns))
    # Dynamic overwrite only replaces partitions PRESENT in the output:
    # a touched bucket whose every key was deleted produces zero rows
    # and would silently keep its stale files — drop those directories
    # explicitly.  Both collects are bounded by n_buckets values.
    merged = merged.localCheckpoint(eager=True)  # pin before the
    # self-referential overwrite: the write must not lazily re-scan the
    # files it is replacing
    touched_vals = {r["__bucket"] for r in touched.collect()}
    kept_vals = {
        r["__bucket"] for r in merged.select("__bucket").distinct().collect()
    }
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(path)
    )
    for b in sorted(touched_vals - kept_vals):
        for name, full in fsutil.list_subdirs(path):
            if name == f"__bucket={b}":
                fsutil.delete_dir(full)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    content_col: str = "text",
) -> DataFrame:
    """Corpus-snapshot delta: one row per key in either snapshot with
    ``status`` in (added, removed, changed, unchanged) plus both
    content fingerprints — the audit table an incremental pipeline
    publishes per snapshot (and the input to delta-scoped reprocessing:
    re-embed/re-score only ``status != 'unchanged'``).

    Scale shape: each side reduces to (key, 16-byte md5) before the
    full-outer join — content never shuffles; the join is one exchange
    per side on the key.

    NULL content gets the sentinel fingerprint ``'<null>'`` instead of
    a NULL one: status is derived from KEY presence, and a NULL
    fingerprint would silently reclassify a both-sides-present key as
    'added' (the old_fp IS NULL arm wins), triggering spurious
    reprocessing.  The sentinel is unambiguous BY CONSTRUCTION, not by
    assumption: every non-null fingerprint is an md5 digest (exactly 32
    lowercase hex chars), and ``'<null>'`` is not of that form, so no
    content value — including the literal string ``'<null>'`` itself,
    which hashes like any other text — can collide with the marker."""
    _fp = lambda c: F.when(  # noqa: E731
        F.col(c).isNull(), F.lit("<null>")
    ).otherwise(F.md5(F.col(c)))
    of = old.select(*key_cols, _fp(content_col).alias("old_fp"))
    nf = new.select(*key_cols, _fp(content_col).alias("new_fp"))
    j = of.join(nf, key_cols, "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *key_cols,
        F.coalesce(F.col("old_fp"), F.lit("")).alias("old_fp"),
        F.coalesce(F.col("new_fp"), F.lit("")).alias("new_fp"),
        status.alias("status"),
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Histogram drift between two slices of a numeric column — the
    data-quality gate an ingestion pipeline runs per snapshot (did the
    value distribution shift enough to quarantine the batch?).  Fixed-
    width buckets over [lo, hi) with underflow clamped to bucket 0 and
    overflow to bucket n_buckets-1; returns one row per OCCUPIED bucket:
    (bucket_id, n_a, n_b, share_a, share_b) — shares are single
    divisions of exact counts (IEEE-deterministic, oracle-safe); the
    drift statistic (e.g. L1 distance = sum |share_a - share_b|) is one
    trivial reduction on the tiny result and is left to the caller so
    the oracle-checked surface stays integer-first.

    Scale shape: each side is one map-side-combinable aggregation over
    n_buckets keys — no join of the raw rows, only the two tiny
    histograms meet (full outer on bucket_id)."""
    width = (hi - lo) / n_buckets

    def hist(df: DataFrame, out: str) -> DataFrame:
        bucket = F.floor(
            (F.col(value_col).cast("double") - F.lit(float(lo)))
            / F.lit(float(width))
        ).cast("long")
        clamped = F.least(
            F.greatest(bucket, F.lit(0)), F.lit(int(n_buckets) - 1)
        )
        return (
            df.where(F.col(value_col).isNotNull())
            .groupBy(clamped.alias("bucket_id"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    from pyspark.sql.window import Window

    ha, hb = hist(df_a, "n_a"), hist(df_b, "n_b")
    # global window over the POST-aggregation result only — at most
    # n_buckets rows, so the single-task window is not a scale concern
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot_a = F.sum("n_a").over(w_all)
    tot_b = F.sum("n_b").over(w_all)
    return (
        ha.join(hb, "bucket_id", "full_outer")
        .select(
            "bucket_id",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .select(
            "bucket_id",
            "n_a",
            "n_b",
            (F.col("n_a").cast("double") / tot_a.cast("double")).alias(
                "share_a"
            ),
            (F.col("n_b").cast("double") / tot_b.cast("double")).alias(
                "share_b"
            ),
        )
    )


MAX_LONG = (1 << 63) - 1


def scd2_apply(
    current: DataFrame,
    changes: DataFrame,
    key_col: str = "key",
    attr_col: str = "attr",
    ts_col: str = "ts_us",
    change_id_col: str = "change_id",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: apply a batch of
    attribute changes to a versioned dimension.  ``current`` holds the
    dimension's OPEN rows (key, attr, valid_from_us); ``changes`` holds
    (key, attr, ts_us, change_id).  Returns the full new version table
    (key, attr, valid_from_us, valid_to_us, is_current):

    * a changed key's old open row closes at its FIRST change ts;
    * multiple changes to one key in the batch chain — each version's
      valid_to is the next change's ts (ordered by ts, change_id);
    * unchanged keys pass through open; keys new in ``changes`` simply
      start their history.

    Open rows use valid_to_us = MAX_LONG (not NULL): a NULL in an
    int64 output column degrades to float64 in pandas on BOTH engines
    and poisons byte-strict comparison (the session_assign dtype
    lesson) — and range predicates (`valid_to > ts`) work unchanged.

    Scale shape: one shuffle of each side on the key; the change
    chaining is a per-key window over the (tiny) change batch, never
    over the dimension."""
    ch = changes.select(
        F.col(key_col).alias("key"),
        F.col(attr_col).alias("attr"),
        F.col(ts_col).alias("__ts"),
        F.col(change_id_col).alias("__cid"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("__ts", "__cid")
    new_versions = ch.select(
        "key",
        "attr",
        F.col("__ts").alias("valid_from_us"),
        F.coalesce(
            F.lead("__ts").over(w), F.lit(MAX_LONG)
        ).alias("valid_to_us"),
        F.lead("__ts").over(w).isNull().alias("is_current"),
    )
    first_change = ch.groupBy("key").agg(F.min("__ts").alias("__first_ts"))
    cur = current.select(
        F.col(key_col).alias("key"),
        F.col(attr_col).alias("attr"),
        F.col("valid_from_us"),
    )
    closed_or_open = cur.join(first_change, "key", "left").select(
        "key",
        "attr",
        "valid_from_us",
        F.coalesce(F.col("__first_ts"), F.lit(MAX_LONG)).alias(
            "valid_to_us"
        ),
        F.col("__first_ts").isNull().alias("is_current"),
    )
    return closed_or_open.unionByName(new_versions)


def cdc_compact(
    changelog: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    delete_predicate,
    payload_cols: list[str],
) -> DataFrame:
    """Materialize the current state of a keyed changelog: the LAST
    operation per key (by event time, id tiebreak) wins; keys whose
    last operation satisfies ``delete_predicate`` (a Column) emit no
    row — the upsert/delete compaction a CDC consumer runs to turn a
    change stream into a table snapshot.  Returns one row per live
    key: (key, id, ts_us, payloads...).

    Scale shape: one shuffle on the key + per-key window ranking (the
    same plan as streaming dedup's batch oracle); per-key change
    volume bounds the sort, and payload columns ride the single
    shuffle untouched."""
    from kelos_on_kafka_spark.operators.windowing import epoch_us
    from pyspark.sql.window import Window

    base = changelog.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        epoch_us(ts_col).alias("ts_us"),
        delete_predicate.alias("__is_delete"),
        *[F.col(c) for c in payload_cols],
    )
    w = Window.partitionBy("key").orderBy(
        F.col("ts_us").desc(), F.col("id").desc()
    )
    ranked = base.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.where((F.col("__rn") == 1) & (~F.col("__is_delete")))
        .select("key", "id", "ts_us", *payload_cols)
    )


def cardinality_stats(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-group row count + distinct-value cardinality of
    ``distinct_col`` — the table-stats primitive behind partition
    audits, join-strategy decisions and dedup-rate dashboards.

    ``exact=True`` (the oracle contract): ``count(DISTINCT x)`` —
    Catalyst rewrites it through an Expand + two-phase aggregate, so
    even the exact form partial-aggregates map-side; memory is
    O(distinct values per group) in the final stage.

    ``exact=False`` is the 100 TB path: ``approx_count_distinct``
    (HyperLogLog++), a FIXED-SIZE mergeable sketch per group —
    relative standard deviation ``rsd``, state independent of
    cardinality.  At 10^12 rows the exact form's final stage holds
    every distinct key; the sketch holds ~kilobytes per group.
    tests/test_round6_ops.py bounds the sketch error against the
    exact count."""
    agg = (
        F.countDistinct(F.col(distinct_col))
        if exact
        else F.approx_count_distinct(F.col(distinct_col), rsd)
    )
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        agg.alias("n_distinct"),
    )
