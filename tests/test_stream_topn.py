"""Streaming top-N per window (streaming/topn_stream.py): parity with
the batch window ranking for the same input + watermark."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kelos_on_kafka_spark.streaming.topn_stream import stream_topn_per_window
from tests.conftest import await_stream

EPOCH = 1_000_000


def _files(spark, src, pdf, n_files=3):
    os.makedirs(src, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        spark.createDataFrame(
            pdf.iloc[idx], schema="event_id long, ts double, value double"
        ).select(
            "event_id", F.timestamp_seconds("ts").alias("ts"), "value"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i:02d}.parquet")


def test_stream_topn_matches_batch_window(spark, tmp_path):
    rng = np.random.default_rng(17)
    n = 500
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EPOCH + np.sort(rng.uniform(0, 100, n)),
            "value": np.round(rng.uniform(0, 1000, n), 2),
        }
    )
    # sentinel closes the last real pane (excluded from comparison)
    pdf.loc[len(pdf)] = [9_999_999, EPOCH + 10_000.0, 0.0]
    src = str(tmp_path / "src")
    _files(spark, src, pdf)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    out = stream_topn_per_window(stream, n=4, pane_seconds=20)
    q = (
        out.writeStream.format("memory")
        .queryName("topn_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)
    max_real_pane = int((EPOCH + 9_000) // 20)
    got = sorted(
        (r["pane_id"], r["rank"], r["event_id"], r["value"])
        for r in spark.table("topn_t").collect()
        if r["pane_id"] < max_real_pane
    )

    batch = spark.createDataFrame(
        pdf, schema="event_id long, ts double, value double"
    ).select(
        (F.col("ts").cast("long") / 20).cast("long").alias("pane_id"),
        "event_id",
        "value",
    )
    w = Window.partitionBy("pane_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    want = sorted(
        (r["pane_id"], r["rank"], r["event_id"], r["value"])
        for r in batch.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 4)
        .collect()
        if r["pane_id"] < max_real_pane
    )
    assert got == want
    assert len(got) > 0
