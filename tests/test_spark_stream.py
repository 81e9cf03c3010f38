"""Structured Streaming engine: stream output must equal the batch
engine's output for the same input + watermark, survive kill/resume from
checkpoint, and the idempotent sink must hold exactly-once."""

import os
import time
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import detect_outliers
from kelos_on_kafka_spark.sources.points import gmm_points
from kelos_on_kafka_spark.streaming.engine import kelos_stream
from kelos_on_kafka_spark.streaming.sink import write_outlier_stream

CFG = KelosConfig(n=15)


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
    q.awaitTermination(300)

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

    # phase 1: only the first half of the files exists
    half = len(full) // 2
    _write_point_files(spark, full.iloc[:half], src, n_files=2)
    out = kelos_stream(_read_stream(spark, src), CFG)
    q = write_outlier_stream(out, sink, ckpt, trigger={"availableNow": True})
    q.awaitTermination(300)
    n_phase1 = (
        spark.read.parquet(sink).count()
        if os.path.exists(os.path.join(sink, "_SUCCESS")) or os.listdir(sink)
        else 0
    )

    # phase 2: the rest arrives; restart from the same checkpoint
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
    q2.awaitTermination(300)

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
        q.awaitTermination(300)
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
    q.awaitTermination(300)

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
    q2.awaitTermination(300)

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
    q.awaitTermination(300)
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


def test_routed_stream_fans_out_exactly_once(spark, tmp_path):
    """write_routed_stream: quality routing splits one stream into
    clean/flagged tables; a replay of the same source into the same
    checkpoint adds nothing (idempotent), and every row lands in
    exactly one table."""
    import uuid as _uuid

    from kelos_on_kafka_spark.operators import textstats
    from kelos_on_kafka_spark.streaming.sink import write_routed_stream

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [
            (1, "one two"),                                  # low quality
            (2, "clean document with plenty of normal words here"),
            (3, "12345 67890 123 456 789 000 111 222"),      # digit heavy
            (4, "another perfectly ordinary document of words"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(src)

    def start():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src
        )
        routed = textstats.quality_flags(stream).withColumn(
            "route",
            F.when(F.col("is_low_quality"), F.lit("flagged")).otherwise(
                F.lit("clean")
            ),
        )
        return write_routed_stream(
            routed,
            route_col="route",
            paths={
                "clean": str(tmp_path / "clean"),
                "flagged": str(tmp_path / "flagged"),
            },
            checkpoint=str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        )

    q = start()
    q.awaitTermination(120)

    def ids(name):
        import glob as _glob

        if not _glob.glob(str(tmp_path / name) + "/*"):
            return set()
        return {
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / name)).collect()
        }

    assert ids("clean") == {2, 4}
    assert ids("flagged") == {1, 3}

    # replay with the same checkpoint: no new batches, nothing changes
    q2 = start()
    q2.awaitTermination(120)
    assert ids("clean") == {2, 4} and ids("flagged") == {1, 3}
