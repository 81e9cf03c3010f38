"""Exactly-once idempotent sink for the streaming outlier table.

``foreachBatch`` + dynamic partition overwrite: in append-mode stateful
streaming each window's rows are emitted exactly once (when the
watermark closes it), so a whole window always lands inside one
micro-batch.  Overwriting exactly the ``window_id`` partitions present
in the batch makes replays after a failure idempotent — re-running a
batch rewrites the same partitions with the same deterministic rows.
Swap the parquet write for an Iceberg ``overwritePartitions`` /
``MERGE`` in a cataloged deployment (config change, same semantics);
at 10^12-doc scale the partition key becomes (window_end hour, shard
range) to bound partition counts.

Each ``foreachBatch`` callback runs the micro-batch's plan once.  A
batch DataFrame is not cached, so every action on it re-runs the whole
upstream plan (for ``write_outlier_stream`` that is the stateful
``applyInPandasWithState`` operator).  An ``isEmpty()`` probe before
the write is such an action, and its ``limit 1`` also leaves Python
output unread, so Spark kills those workers and the next batch forks
new ones.  The outlier sink therefore writes without a probe (an empty
dynamic-overwrite write adds no data files and replaces no
partitions); the sinks that act on the batch more than once persist
it first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_upsert_stream(
    updates: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str | None = None,
    trigger: dict | None = None,
):
    """Streaming CDC sink: materialize a keyed table from a stream of
    upserts (foreachBatch -> plans/maintenance.upsert_partitioned).
    Within a micro-batch the winner per key is the max ``order_col``
    (or arbitrary-but-deterministic max over all columns if None) —
    across batches, later batches overwrite earlier ones, so the table
    converges to last-write-wins.  Replayed batches rewrite the same
    partitions with the same rows (idempotent), which is what makes
    foreachBatch exactly-once here.  On Iceberg this whole function is
    ``MERGE INTO`` (sources/iceberg.py)."""
    from pyspark.sql.window import Window

    from kelos_on_kafka_spark.plans.maintenance import upsert_partitioned

    order = F.col(order_col) if order_col else F.struct(
        *[F.col(c) for c in updates.columns]
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the probe stays: a first write of an empty batch would leave a
        # schema-less table directory that the next batch cannot read
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            w = Window.partitionBy(*key_cols).orderBy(order.desc())
            latest = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            upsert_partitioned(latest, path, key_cols, partition_col)
        finally:
            batch_df.unpersist()

    writer = (
        updates.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def write_cdc_table_stream(
    delta: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    order_cols: list[str],
    delete_col: str = "is_del",
    n_buckets: int = 16,
    trigger: dict | None = None,
):
    """The CDC loop closed end-to-end (VERDICT r5 #3): feed
    ``relational.stream_cdc_pane_state(..., emit_deletes=True)`` —
    per-pane upsert/tombstone deltas emitted on watermark close —
    through ``plans.maintenance.merge_cdc_delta`` so one streaming
    query maintains a materialized keyed parquet table that converges
    to ``cdc_compact`` of the full changelog.

    Exactly-once: foreachBatch replays only the last uncommitted
    batch, pane close order is monotone in the watermark, and
    merge_cdc_delta is idempotent (re-applied upserts rewrite the same
    rows, re-applied deletes find the key already gone), so kill/
    resume from ``checkpoint`` never duplicates or resurrects a key.

    The window columns are projected away before the merge: the table
    is keyed state, the pane is only the delta's emission unit."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from kelos_on_kafka_spark.plans.maintenance import merge_cdc_delta

        # merge_cdc_delta reads its delta several times; the probe stays
        # because an empty merge into an existing table still scans it
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            merge_cdc_delta(
                batch_df.drop("window_start", "window_end"),
                path,
                key_col,
                order_cols,
                delete_col=delete_col,
                n_buckets=n_buckets,
            )
        finally:
            batch_df.unpersist()

    writer = (
        delta.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def write_outlier_stream(
    outliers: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Start the exactly-once sink; returns the StreamingQuery.  Each
    micro-batch's plan runs once, in the write; an empty batch writes
    nothing."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_id")
            .parquet(path)
        )

    writer = (
        outliers.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def write_routed_stream(
    events: DataFrame,
    route_col: str,
    paths: dict,
    checkpoint: str,
    batch_col: str = "batch_id",
    trigger: dict | None = None,
):
    """Quality-gate routing sink: one input stream fans out to one
    parquet table per value of ``route_col`` (e.g. clean/flagged from a
    quality predicate) inside a single foreachBatch — one stream, one
    checkpoint, N destinations, still exactly-once.

    Idempotence: each destination batch writes with dynamic partition
    overwrite on ``batch_col`` (the micro-batch id), so a replayed
    batch rewrites ITS OWN partition with the same rows instead of
    appending duplicates — the same replay contract as
    ``write_outlier_stream``.  Routes not present in ``paths`` raise,
    so a typo'd predicate cannot silently drop data.

    Scale: the batch is persisted once and filtered per route (N scans
    of cached data, not N source reads); at very large N switch to a
    single ``partitionBy(route_col)`` write — kept per-path here so
    each route can go to a different table/bucket."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe: an empty batch routes nowhere
        batch_df.persist()
        try:
            routes = [
                r[0]
                for r in batch_df.select(route_col).distinct().collect()
            ]
            unknown = set(routes) - set(paths)
            if unknown:
                raise ValueError(
                    f"unrouted {route_col} values: {sorted(unknown)}"
                )
            for route in routes:
                (
                    batch_df.where(F.col(route_col) == F.lit(route))
                    .withColumn(batch_col, F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(batch_col)
                    .parquet(paths[route])
                )
        finally:
            batch_df.unpersist()

    writer = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
