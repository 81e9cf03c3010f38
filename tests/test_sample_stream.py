"""Deterministic streaming pane sampling (streaming/topn_stream.py):
stream output equals the batch hash-order ranking; weighted-priority
column path agrees with weighted_stratified_cap per pane."""

import hashlib
import uuid

import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.streaming.topn_stream import stream_pane_sample
from tests.conftest import await_stream

BASE = 1_700_000_000


def _stage(spark, tmp_path, rows, sentinel_sec):
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    (
        spark.createDataFrame(rows, "event_id long, sec long")
        .coalesce(1)
        .sortWithinPartitions("sec", "event_id")
        .select("event_id", F.timestamp_seconds("sec").alias("ts"))
        .write.parquet(f"{src}/data.parquet")
    )
    spark.createDataFrame(
        [(999_999_999, sentinel_sec)], "event_id long, sec long"
    ).select(
        "event_id", F.timestamp_seconds("sec").alias("ts")
    ).coalesce(1).write.parquet(f"{src}/sentinel.parquet")
    return spark.readStream.schema(
        "event_id long, ts timestamp"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*.parquet")


def _h64(s, seed=0):
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


def test_stream_sample_matches_hash_order(spark, tmp_path):
    rows = [(i, BASE + (i % 3) * 100 + i // 3) for i in range(90)]
    span = 10_000
    stream = _stage(spark, tmp_path, rows, BASE + 5 * 100 + span)
    name = f"ss_{uuid.uuid4().hex[:8]}"
    q = (
        stream_pane_sample(
            stream, n=5, pane_seconds=100,
            watermark_delay=f"{span} seconds",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = sorted(
        (r.pane_id, r.sample_rank, r.row_id, r.priority)
        for r in spark.table(name).collect()
        if r.row_id != 999_999_999
    )
    # pure-python reference: 5 smallest portable hashes per pane
    panes = {}
    for eid, sec in rows:
        panes.setdefault(sec // 100, []).append(eid)
    want = []
    for pane, ids in panes.items():
        ranked = sorted((_h64(str(e)), e) for e in ids)[:5]
        want += [
            (pane, i + 1, e, p) for i, (p, e) in enumerate(ranked)
        ]
    assert got == sorted(want)
    # bounded: never more than n per pane
    per_pane = {}
    for pane, *_ in got:
        per_pane[pane] = per_pane.get(pane, 0) + 1
    assert all(v == 5 for v in per_pane.values())


def test_stream_sample_priority_column_weighted(spark, tmp_path):
    """Passing a precomputed min-of-w LONG priority reproduces exact
    weighted sampling per pane (same contract as
    weighted_stratified_cap keyed by pane)."""
    rows = [(i, BASE + i % 7) for i in range(40)]  # one pane (100s)
    src = str(tmp_path / f"w_{uuid.uuid4().hex[:8]}")
    wt = lambda i: 1 + (i % 4)  # noqa: E731
    (
        spark.createDataFrame(
            [(e, s, wt(e)) for e, s in rows],
            "event_id long, sec long, wt int",
        )
        .coalesce(1)
        .select(
            "event_id", F.timestamp_seconds("sec").alias("ts"), "wt"
        )
        .write.parquet(f"{src}/data.parquet")
    )
    # sentinel must land BEYOND the pane end (pane = 100_000 s) or the
    # pane never closes
    spark.createDataFrame(
        [(999_999_999, BASE + 250_000, 1)], "event_id long, sec long, wt int"
    ).select(
        "event_id", F.timestamp_seconds("sec").alias("ts"), "wt"
    ).coalesce(1).write.parquet(f"{src}/sentinel.parquet")
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, wt int"
    ).parquet(f"{src}/*.parquet")

    from kelos_on_kafka_spark.operators.sampling import _min_of_w_priority

    with_pri = stream.withColumn(
        "pri", _min_of_w_priority("event_id", "wt", seed=7, max_weight=8)
    )
    name = f"sw_{uuid.uuid4().hex[:8]}"
    q = (
        stream_pane_sample(
            with_pri, n=6, pane_seconds=100_000, priority_col="pri"
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = sorted(
        (r.row_id, r.priority)
        for r in spark.table(name).collect()
        if r.row_id != 999_999_999
    )

    def pri(e):
        return min(_h64(f"{e}:{j}", 7) for j in range(wt(e)))

    want = sorted(
        sorted(((pri(e), e) for e, _ in rows))[:6]
    )
    assert got == sorted((e, p) for p, e in want)
