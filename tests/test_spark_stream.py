"""Structured Streaming engine: stream output must equal the batch
engine's output for the same input + watermark, survive kill/resume from
checkpoint, and the idempotent sink must hold exactly-once."""

import os
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import detect_outliers
from kelos_on_kafka_spark.sources.points import gmm_points
from kelos_on_kafka_spark.streaming.engine import kelos_stream
from kelos_on_kafka_spark.streaming.sink import (
    write_outlier_batch,
    write_outlier_stream,
)
from tests.conftest import await_stream

CFG = KelosConfig(n=15)
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _write_point_files(
    spark, pdf: pd.DataFrame, dirpath: str, n_files: int, first: int = 0
):
    """Split a fixture into n sequential parquet files, numbered from
    ``first`` (file-source micro-batches arrive in pane order)."""
    os.makedirs(dirpath, exist_ok=True)
    chunks = np.array_split(np.arange(len(pdf)), n_files)
    paths = []
    for i, idx in enumerate(chunks):
        p = os.path.join(dirpath, f"part-{first + i:03d}.parquet")
        chunk = pdf.iloc[idx]
        spark.createDataFrame(
            chunk, schema="id long, ts double, features array<double>"
        ).select(
            "id", F.timestamp_seconds("ts").alias("ts"), "features"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        paths.append(p)
    return paths


# Realistic epoch offset: rows with event-time exactly at epoch 0 are
# dropped by Spark's late-row filter while the initial watermark is 0
# (observed empirically); real data never sits at 1970-01-01.
EPOCH = 1_000_000.0
SENTINEL_TS = EPOCH + 10_000.0
MAX_REAL_WINDOW = int((EPOCH + 9_000) // 10)


def _fixture(n=600):
    pdf = gmm_points(n=n, seed=21, elements_per_window=300)
    pdf["ts"] = pdf["ts"] + EPOCH
    # sentinel point far in the future pushes the final watermark past
    # the last real pane so every real pane closes (like stream end)
    sentinel = pd.DataFrame(
        {"id": [10_000_000], "ts": [SENTINEL_TS], "features": [[99.0, 99.0]]}
    )
    return pd.concat([pdf, sentinel], ignore_index=True), pdf


def _read_stream(spark, dirpath, files_per_trigger=1):
    return (
        spark.readStream.schema(
            "id long, ts timestamp, features array<double>"
        )
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(os.path.join(dirpath, "*.parquet"))
    )


def _batch_reference(spark, pdf_with_sentinel):
    sdf = spark.createDataFrame(
        pdf_with_sentinel, schema="id long, ts double, features array<double>"
    ).select("id", F.timestamp_seconds("ts").alias("ts"), "features")
    rows = detect_outliers(sdf, CFG).collect()
    # drop windows that only the sentinel produces (far future)
    return sorted(
        (r.window_id, r["rank"], r.point_id, r.klome)
        for r in rows
        if r.window_id < MAX_REAL_WINDOW
    )


def test_stream_matches_batch(spark, tmp_path):
    full, _ = _fixture()
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_point_files(spark, full, src, n_files=4)

    out = kelos_stream(_read_stream(spark, src), CFG)
    q = write_outlier_stream(
        out, sink, ckpt, trigger={"availableNow": True}
    )
    await_stream(q, 300)
    got = sorted(
        (r.window_id, r["rank"], r.point_id, r.klome)
        for r in spark.read.parquet(sink).collect()
        if r.window_id < MAX_REAL_WINDOW
    )
    expected = _batch_reference(spark, full)
    assert got == expected
    assert len(got) > 0


def test_stream_resume_from_checkpoint_exactly_once(spark, tmp_path):
    full, _ = _fixture()
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    # phase 1: only the first half of the files exists, and the
    # checkpoint is written by Spark's default FileContext-based manager
    # (the one the session replaced): its checkpoints must resume
    half = len(full) // 2
    _write_point_files(spark, full.iloc[:half], src, n_files=2)
    session_manager = spark.conf.get(CHECKPOINT_MANAGER)
    spark.conf.set(CHECKPOINT_MANAGER, FILE_CONTEXT_MANAGER)
    try:
        out = kelos_stream(_read_stream(spark, src), CFG)
        q = write_outlier_stream(
            out, sink, ckpt, trigger={"availableNow": True}
        )
        await_stream(q, 300)
    finally:
        spark.conf.set(CHECKPOINT_MANAGER, session_manager)
    n_phase1 = (
        spark.read.parquet(sink).count()
        if os.path.exists(os.path.join(sink, "_SUCCESS")) or os.listdir(sink)
        else 0
    )

    # phase 2: the rest arrives; restart from the same checkpoint under
    # the session's FileSystem-based manager
    rest = full.iloc[half:].reset_index(drop=True)
    os.rename(
        os.path.join(src, "part-000.parquet"),
        os.path.join(src, "part-000.parquet"),
    )
    # write remaining chunks under new names
    chunks = np.array_split(np.arange(len(rest)), 2)
    for i, idx in enumerate(chunks):
        p = os.path.join(src, f"part-1{i:02d}.parquet")
        spark.createDataFrame(
            rest.iloc[idx],
            schema="id long, ts double, features array<double>",
        ).select(
            "id", F.timestamp_seconds("ts").alias("ts"), "features"
        ).coalesce(1).write.mode("overwrite").parquet(p)

    out2 = kelos_stream(_read_stream(spark, src), CFG)
    q2 = write_outlier_stream(out2, sink, ckpt, trigger={"availableNow": True})
    await_stream(q2, 300)
    rows = spark.read.parquet(sink).collect()
    got = sorted(
        (r.window_id, r["rank"], r.point_id, r.klome)
        for r in rows
        if r.window_id < MAX_REAL_WINDOW
    )
    # exactly-once: no duplicate (window, rank) pairs
    wr = [(r.window_id, r.shard, r["rank"]) for r in rows]
    assert len(wr) == len(set(wr))
    expected = _batch_reference(spark, full)
    assert got == expected


def test_null_feature_list_fails_the_query(spark, tmp_path):
    """The engine reads features like the batch walkers: a file with a
    null feature list fails the query, naming the column, instead of
    pairing points with another point's features."""
    full, _ = _fixture(n=300)
    full.at[150, "features"] = None
    src = str(tmp_path / "src")
    _write_point_files(spark, full, src, n_files=2)

    q = write_outlier_stream(
        kelos_stream(_read_stream(spark, src), CFG),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    with pytest.raises(Exception, match="ValueError: features column"):
        await_stream(q, 300)
def test_sink_runs_each_micro_batch_once(spark, tmp_path):
    """The sink executes each micro-batch's plan once: a row count
    observed on the outlier stream equals the rows that batch wrote (an
    emptiness probe before the write runs the plan a second time, and
    its rows are counted again).  A batch that emits nothing writes
    nothing to the sink root."""
    full, _ = _fixture(n=300)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        out = kelos_stream(_read_stream(spark, src), CFG).observe(
            "emitted", F.count(F.lit(1)).alias("rows")
        )
        q = write_outlier_stream(
            out, sink, ckpt, trigger={"availableNow": True}
        )
        await_stream(q, 300)
        assert q.exception() is None
        return {
            p["batchId"]: p["observedMetrics"]["emitted"]["rows"]
            for p in q.recentProgress
        }

    # phase 1: pane 0 alone closes no window
    _write_point_files(spark, full.iloc[:100], src, n_files=1)
    observed = run()
    assert observed and set(observed.values()) == {0}
    assert not os.path.exists(sink) or os.listdir(sink) == []

    # phase 2: the rest closes every window
    _write_point_files(spark, full.iloc[100:], src, n_files=2, first=1)
    observed = run()
    rows = spark.read.parquet(sink).select("batch_id").collect()
    written = Counter(r.batch_id for r in rows)
    assert sum(written.values()) > 0
    batches = observed.keys() | written.keys()
    assert observed == {b: written[b] for b in batches}


def test_sink_keeps_every_shards_rows_of_a_window(spark, tmp_path):
    """Two shards close the same window in different micro-batches:
    shard 1 has data only in the first two panes, so its windows close
    by timeout a batch after shard 0's.  Every (shard, window) a batch
    emitted is in the sink with the rows it emitted (a sink that
    overwrites by window alone keeps only the later shard's rows)."""
    pdf = gmm_points(n=600, seed=21, elements_per_window=300)
    pdf["ts"] = pdf["ts"] + EPOCH
    pane = (pdf["ts"] // CFG.pane_seconds).astype(np.int64)
    first = int(pane.min())
    keep = (pdf["id"] % 2 == 0) | (pane < first + 2)
    pdf, pane = pdf[keep], pane[keep]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for p in sorted(pane.unique()):  # one file per pane
        spark.createDataFrame(
            pdf[pane == p],
            schema="id long, ts double, features array<double>",
        ).select(
            "id", F.timestamp_seconds("ts").alias("ts"), "features"
        ).coalesce(1).write.parquet(os.path.join(src, f"part-{p}.parquet"))

    stream = _read_stream(spark, src)
    out = kelos_stream(
        stream.withColumn("shard", stream["id"] % 2), CFG, shard_col="shard"
    ).observe(
        "emitted",
        F.collect_list(F.struct("shard", "window_id")).alias("rows"),
    )
    sink = str(tmp_path / "sink")
    q = write_outlier_stream(
        out, sink, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    await_stream(q, 300)
    assert q.exception() is None

    emitted, batches = Counter(), {}
    for p in q.recentProgress:
        for r in p["observedMetrics"]["emitted"]["rows"]:
            key = (r["shard"], r["window_id"])
            emitted[key] += 1
            batches.setdefault(key[1], set()).add((key[0], p["batchId"]))
    # the case under test: a window that both shards emitted, in two batches
    assert any(
        len({s for s, _ in b}) == 2 and len({i for _, i in b}) == 2
        for b in batches.values()
    ), batches
    written = Counter(
        {
            (r.shard, r.window_id): r["count"]
            for r in spark.read.parquet(sink)
            .groupBy("shard", "window_id")
            .count()
            .collect()
        }
    )
    missing = sorted(set(emitted) - set(written))
    assert written == emitted, f"(shard, window) missing from the sink: {missing}"


def _outlier_table(window_ids, tag):
    return pa.table(
        {
            "shard": pa.array([0] * len(window_ids), pa.int64()),
            "window_id": pa.array(window_ids, pa.int64()),
            "point_id": pa.array([tag * 100 + i for i in range(len(window_ids))]),
        }
    )


def _sink_rows(sink):
    """(window_id, point_id, batch_id) of every visible sink file."""
    rows = []
    for dirpath, _, names in os.walk(sink):
        for name in names:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                t = pq.read_table(os.path.join(dirpath, name))
                window = int(os.path.basename(dirpath).split("=")[1])
                pids, batch_ids = t["point_id"].to_pylist(), t["batch_id"].to_pylist()
                rows += [(window, pid, b) for pid, b in zip(pids, batch_ids)]
    return sorted(rows)


def test_outlier_batch_replay_rewrites_only_its_own_files(tmp_path):
    """``write_outlier_batch`` writes one file per (window, batch): a
    replayed batch replaces its files, a file of the old Spark writer
    holding the replayed batch's rows is deleted, and one holding
    another batch's rows stays."""
    sink = str(tmp_path / "sink")
    write_outlier_batch(_outlier_table([7, 7, 8], tag=1), sink, 3)
    write_outlier_batch(_outlier_table([7, 7, 8], tag=1), sink, 3)
    assert _sink_rows(sink) == [(7, 100, 3), (7, 101, 3), (8, 102, 3)]
    assert sorted(os.listdir(os.path.join(sink, "window_id=7"))) == [
        "part-00000000000000000003.parquet"
    ]
    assert pq.read_schema(
        os.path.join(sink, "window_id=7", "part-00000000000000000003.parquet")
    ).field("batch_id").type == pa.int32()

    # old-writer files: batch 5 in window 9 (replayed below), batch 4 in
    # window 10, each with Hadoop's checksum file beside it
    for window, batch in ((9, 5), (10, 4)):
        part = os.path.join(sink, f"window_id={window}")
        os.makedirs(part)
        name = "part-00000-0b1c.c000.snappy.parquet"
        old = _outlier_table([window], tag=batch).drop_columns("window_id")
        pq.write_table(
            old.append_column("batch_id", pa.array([batch], pa.int32())),
            os.path.join(part, name),
        )
        open(os.path.join(part, f".{name}.crc"), "wb").close()
    write_outlier_batch(_outlier_table([9, 10], tag=5), sink, 5)
    assert _sink_rows(sink) == [
        (7, 100, 3), (7, 101, 3), (8, 102, 3),
        (9, 500, 5), (10, 400, 4), (10, 501, 5),
    ]
    assert os.listdir(os.path.join(sink, "window_id=9")) == [
        "part-00000000000000000005.parquet"
    ]
    assert len(os.listdir(os.path.join(sink, "window_id=10"))) == 3


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    """The reference has no late-data handling (stream-time punctuation
    only, SURVEY.md §2.2 P10); this engine defines it via the watermark:
    a row arriving after its pane closed is dropped, and the output
    equals the batch run WITHOUT that row (the parity contract is 'same
    input stream + watermark')."""
    full, _ = _fixture(n=300)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_point_files(spark, full, src, n_files=2)

    # run phase 1 so the watermark advances past pane 0
    out = kelos_stream(_read_stream(spark, src), CFG)
    q = write_outlier_stream(out, sink, ckpt, trigger={"availableNow": True})
    await_stream(q, 300)
    # a late row for pane 0 arrives after everything closed
    late = pd.DataFrame(
        {"id": [9_999_999], "ts": [EPOCH + 1.0], "features": [[0.0, 0.0]]}
    )
    spark.createDataFrame(
        late, schema="id long, ts double, features array<double>"
    ).select(
        "id", F.timestamp_seconds("ts").alias("ts"), "features"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "part-late.parquet")
    )
    q2 = write_outlier_stream(
        kelos_stream(_read_stream(spark, src), CFG),
        sink,
        ckpt,
        trigger={"availableNow": True},
    )
    await_stream(q2, 300)
    got = sorted(
        (r.window_id, r["rank"], r.point_id, r.klome)
        for r in spark.read.parquet(sink).collect()
        if r.window_id < MAX_REAL_WINDOW
    )
    # identical to the batch run WITHOUT the late row
    expected = _batch_reference(spark, full)
    assert got == expected
    assert not any(pid == 9_999_999 for _, _, pid, _ in got)


def test_stream_lineage_columns(spark, tmp_path):
    full, _ = _fixture(n=300)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_point_files(spark, full, src, n_files=2)
    out = kelos_stream(_read_stream(spark, src), CFG)
    q = write_outlier_stream(out, sink, ckpt, trigger={"availableNow": True})
    await_stream(q, 300)
    df = spark.read.parquet(sink)
    assert {"n_window_points", "n_clusters", "n_candidates", "batch_id"} <= set(
        df.columns
    )
    row = df.where(F.col("window_id") < MAX_REAL_WINDOW).first()
    assert row.n_window_points > 0 and row.n_clusters > 0


def test_engine_runs_on_rate_limited_source(spark, tmp_path):
    """North-star shape: a rate-limited unbounded source feeding the
    stateful engine.  The rate-micro-batch source emits rows_per_batch
    deterministic rows per trigger; we run a few micro-batches, stop,
    and require clean progress (the file-based tests cover output
    parity; this pins the unbounded-source plumbing)."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "200")
        .option("startTimestamp", "1000000000")  # ms; avoid epoch 0
        .load()
    )
    pts = stream.select(
        F.col("value").alias("id"),
        F.col("timestamp").alias("ts"),
        F.array(
            (F.col("value") % 7).cast("double"),
            (F.col("value") % 11).cast("double"),
        ).alias("features"),
    )
    out = kelos_stream(pts, CFG, watermark_delay="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("rate_kelos_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if len(q.recentProgress) >= 3:
                break
            time.sleep(1)
        assert q.exception() is None
        assert len(q.recentProgress) >= 3
        rows_seen = sum(p["numInputRows"] for p in q.recentProgress)
        assert rows_seen >= 400
    finally:
        q.stop()
