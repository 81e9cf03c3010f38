"""Streaming relational surface: tumbling/sliding/session windows and a
stateful interval join over real streaming queries, validated against
the equivalent batch computation."""

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kelos_on_kafka_spark.streaming import relational as R
from tests.conftest import await_stream

EPOCH = 1_000_000


def _event_files(spark, dirpath, n=400, n_files=3, seed=3):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EPOCH + np.sort(rng.uniform(0, 120, n)),
            "user_id": rng.integers(0, 5, n),
            "event_type": rng.choice(["click", "purchase", "view"], n),
        }
    )
    # sentinel far in the future closes everything
    pdf.loc[len(pdf)] = [10_000_000, EPOCH + 10_000.0, 99, "view"]
    os.makedirs(dirpath, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        spark.createDataFrame(
            pdf.iloc[idx],
            schema="event_id long, ts double, user_id long, event_type string",
        ).select(
            "event_id",
            F.timestamp_seconds("ts").alias("ts"),
            "user_id",
            "event_type",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{dirpath}/f{i:02d}.parquet"
        )
    return pdf


def _stream(spark, dirpath):
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{dirpath}/*.parquet")
    )


def _batch(spark, pdf):
    return spark.createDataFrame(
        pdf,
        schema="event_id long, ts double, user_id long, event_type string",
    ).select(
        "event_id", F.timestamp_seconds("ts").alias("ts"), "user_id", "event_type"
    )


def _run(spark, df, sink, ckpt):
    q = (
        df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 240)
    return spark.read.parquet(sink)


def _cut(rows, ts_field):
    """drop sentinel-era windows"""
    limit = pd.Timestamp(EPOCH + 9_000, unit="s")
    return sorted(tuple(r) for r in rows if r[ts_field] < limit)


def test_stream_tumbling_and_sliding_and_session(spark, tmp_path):
    pdf = _event_files(spark, str(tmp_path / "src"))
    batch = _batch(spark, pdf)

    for name, stream_fn, batch_fn, ts_idx in [
        (
            "tumbling",
            lambda s: R.stream_tumbling_counts(s, key_col="user_id"),
            lambda b: R.stream_tumbling_counts(b, key_col="user_id"),
            0,
        ),
        (
            "sliding",
            lambda s: R.stream_sliding_counts(s),
            lambda b: R.stream_sliding_counts(b),
            0,
        ),
        (
            "session",
            lambda s: R.stream_session_windows(s, gap="15 seconds"),
            lambda b: R.stream_session_windows(b, gap="15 seconds"),
            1,
        ),
    ]:
        sink = str(tmp_path / f"sink_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        got = _run(
            spark, stream_fn(_stream(spark, str(tmp_path / "src"))), sink, ckpt
        ).collect()
        exp = batch_fn(batch).collect()
        assert _cut(got, ts_idx) == _cut(exp, ts_idx), name
        assert len(_cut(got, ts_idx)) > 0, name


def test_stream_interval_join_matches_batch(spark, tmp_path):
    pdf = _event_files(spark, str(tmp_path / "src"), n=300)

    def split(df):
        clicks = df.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        return clicks, purchases

    sc, sp = split(_stream(spark, str(tmp_path / "src")))
    stream_join = R.stream_interval_join(
        sc,
        sp,
        left_key="cu",
        right_key="pu",
        left_ts="cts",
        right_ts="pts",
        within="30 seconds",
    ).select("click_id", "purchase_id")

    sink = str(tmp_path / "sink_join")
    ckpt = str(tmp_path / "ckpt_join")
    got = sorted(
        (r.click_id, r.purchase_id)
        for r in _run(spark, stream_join, sink, ckpt).collect()
    )

    bc, bp = split(_batch(spark, pdf))
    exp = sorted(
        (r.click_id, r.purchase_id)
        for r in bc.join(
            bp,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 seconds")),
        ).select("click_id", "purchase_id").collect()
    )
    assert got == exp
    assert len(got) > 0


def test_stream_dedup_exact_keeps_one_per_key(spark, tmp_path):
    """Streaming dedup emits exactly one row per duplicate key (state
    within the watermark horizon), matching batch dropDuplicates."""
    src = str(tmp_path / "src_dd")
    pdf = _event_files(spark, src, n=300, seed=9)
    # duplicate keys: event_type repeats heavily; dedupe on (user_id,
    # event_type) so every file adds duplicates of earlier keys
    stream = R.stream_dedup_exact(
        _stream(spark, src),
        key_cols=["user_id", "event_type"],
        watermark="1 hour",
    ).select("user_id", "event_type")
    got = sorted(
        (r.user_id, r.event_type)
        for r in _run(
            spark, stream, str(tmp_path / "sink_dd"), str(tmp_path / "ckpt_dd")
        ).collect()
    )
    exp = sorted(
        (r.user_id, r.event_type)
        for r in _batch(spark, pdf)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
        .collect()
    )
    assert got == exp and len(got) > 0


def test_stream_interval_left_outer_join(spark, tmp_path):
    """leftOuter: unmatched clicks flush with null purchase once the
    watermark passes click_ts + within; sentinels on BOTH sides advance
    the global (min) watermark past every real row."""
    rng = np.random.default_rng(11)
    n = 200
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EPOCH + np.sort(rng.uniform(0, 120, n)),
            "user_id": rng.integers(0, 5, n),
            "event_type": rng.choice(["click", "purchase", "view"], n),
        }
    )
    # one far-future sentinel per joined stream
    pdf.loc[len(pdf)] = [10_000_000, EPOCH + 10_000.0, 98, "click"]
    pdf.loc[len(pdf)] = [10_000_001, EPOCH + 10_000.0, 97, "purchase"]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), 3)):
        spark.createDataFrame(
            pdf.iloc[idx],
            schema="event_id long, ts double, user_id long, event_type string",
        ).select(
            "event_id",
            F.timestamp_seconds("ts").alias("ts"),
            "user_id",
            "event_type",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/f{i:02d}.parquet"
        )

    def split(df):
        clicks = df.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        return clicks, purchases

    sc, sp = split(_stream(spark, src))
    out = R.stream_interval_join(
        sc,
        sp,
        left_key="cu",
        right_key="pu",
        left_ts="cts",
        right_ts="pts",
        within="30 seconds",
        how="leftOuter",
    ).select("click_id", "purchase_id")
    got = sorted(
        (r.click_id, r.purchase_id)
        for r in _run(
            spark, out, str(tmp_path / "sink"), str(tmp_path / "ckpt")
        ).collect()
        if r.click_id < 10_000_000  # drop the sentinel click
    )

    bc, bp = split(_batch(spark, pdf))
    exp = sorted(
        (r.click_id, r.purchase_id)
        for r in bc.join(
            bp,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 seconds")),
            "left",
        ).select("click_id", "purchase_id").collect()
        if r.click_id < 10_000_000
    )
    assert got == exp
    assert any(p is None for _, p in got)  # unmatched clicks present
    assert any(p is not None for _, p in got)


def test_stream_windowed_distinct_matches_batch(spark, tmp_path):
    """Chained stateful ops (dedup -> windowed count): exact distinct
    users per window on a real stream equals the batch count(distinct)."""
    pdf = _event_files(spark, str(tmp_path / "src"), n=300)
    out = R.stream_windowed_distinct(
        _stream(spark, str(tmp_path / "src")),
        key_col="user_id",
        pane="20 seconds",
    )
    got = _run(
        spark, out, str(tmp_path / "sink_wd"), str(tmp_path / "ckpt_wd")
    ).collect()

    batch = _batch(spark, pdf)
    exp = (
        batch.groupBy(F.window("ts", "20 seconds").alias("win"))
        .agg(F.count_distinct("user_id").alias("n_distinct"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_distinct",
        )
        .collect()
    )
    assert _cut(got, 0) == _cut(exp, 0)
    assert len(_cut(got, 0)) > 0
