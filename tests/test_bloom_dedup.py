"""Approximate Bloom-filter windowed streaming dedup
(streaming/bloom_dedup.py): exactness when sized generously, bit-level
determinism of the approximate path against a pure-Python reference
(including forced false positives), and bounded state shape."""

import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.streaming import bloom_dedup
from tests.conftest import await_stream


def _rows():
    # (event_id, sec, user) with planted duplicates inside and across
    # panes (pane = 100 s)
    rows = []
    eid = 0
    for sec, user in [
        (10, 1), (11, 2), (12, 1), (13, 3), (14, 2),   # pane 0 dups
        (110, 1), (111, 1), (112, 4),                   # pane 1
        (115, 4), (118, 5),
    ]:
        rows.append((eid, sec, user))
        eid += 1
    return rows


def _run_stream(
    spark, tmp_path, rows, n_bits, k=4, pane_seconds=100, n_state_shards=1
):
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    (
        spark.createDataFrame(rows, "event_id long, sec long, user_id long")
        .coalesce(1)
        .sortWithinPartitions("sec", "event_id")
        .select(
            "event_id", F.timestamp_seconds("sec").alias("ts"), "user_id"
        )
        .write.parquet(src)
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    name = f"bloom_{uuid.uuid4().hex[:10]}"
    q = (
        bloom_dedup.stream_bloom_dedup(
            stream,
            key_col="user_id",
            ts_col="ts",
            id_col="event_id",
            pane_seconds=pane_seconds,
            n_bits=n_bits,
            k=k,
            n_state_shards=n_state_shards,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return spark.table(name).collect()


def _py_reference(rows, n_bits, k, pane_seconds, n_shards=1):
    """Pure-Python bloom over the same portable hashes, same order —
    one independent filter per (pane, key_h1 mod n_shards)."""
    import hashlib

    def h64(s, seed):
        return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)

    survivors = []
    filters = {}
    for eid, sec, user in sorted(rows, key=lambda r: (r[1], r[0])):
        pane = sec * 1_000_000 // (pane_seconds * 1_000_000)
        h1, h2 = h64(str(user), 1), h64(str(user), 2)
        bits = filters.setdefault((pane, h1 % n_shards), set())
        pos = bloom_dedup.bloom_positions(h1, h2, n_bits, k)
        if not all(p in bits for p in pos):
            bits.update(pos)
            survivors.append((pane, h1, eid, sec * 1_000_000))
    return sorted(survivors)


def test_bloom_dedup_exact_when_sized(spark, tmp_path):
    """With a generous filter no false positive fires: output equals
    exact first-occurrence-per-(pane, key)."""
    rows = _rows()
    got = sorted(
        (r.pane_id, r.row_id) for r in _run_stream(spark, tmp_path, rows, 1 << 16)
    )
    first = {}
    for eid, sec, user in sorted(rows, key=lambda r: (r[1], r[0])):
        first.setdefault((sec // 100, user), eid)
    assert got == sorted((p, e) for (p, _u), e in first.items())


def test_bloom_dedup_matches_python_reference_with_fps(spark, tmp_path):
    """With a TINY filter false positives are forced — and the stream
    drops exactly the rows the deterministic reference drops (the
    approximate path is a pure function of the data)."""
    rows = [(i, 10 + i, 1000 + i) for i in range(40)]  # all-distinct keys
    n_bits, k = 64, 3
    got = sorted(
        (r.pane_id, r.key_h1, r.row_id, r.ts_us)
        for r in _run_stream(
            spark, tmp_path, rows, n_bits, k=k, pane_seconds=1000
        )
    )
    want = _py_reference(rows, n_bits, k, 1000)
    assert got == want
    assert len(got) < len(rows)  # FPs actually fired


def test_bloom_dedup_multi_chunk_batches_keep_global_order(spark, tmp_path):
    """ADVICE r03: above arrow.maxRecordsPerBatch rows a pane's batch
    arrives as MULTIPLE pandas chunks; the operator must sort the
    concatenated batch once, not per chunk, or the surviving row
    becomes chunk-split-dependent.  Force 16-row chunks, stage rows in
    REVERSE ts order (so per-chunk processing would pick late-ts
    survivors), and require the global (ts, key, row) order the pure
    reference computes."""
    rows = [(i, 500 - i, i % 5) for i in range(60)]  # sec 441..500 desc
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    (
        spark.createDataFrame(rows, "event_id long, sec long, user_id long")
        .coalesce(1)
        .sortWithinPartitions(F.col("sec").desc())  # arrival = reverse time
        .select(
            "event_id", F.timestamp_seconds("sec").alias("ts"), "user_id"
        )
        .write.parquet(src)
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        name = f"bloom_{uuid.uuid4().hex[:10]}"
        q = (
            bloom_dedup.stream_bloom_dedup(
                stream,
                key_col="user_id",
                ts_col="ts",
                id_col="event_id",
                pane_seconds=1000,
                n_bits=1 << 16,
                k=4,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 120)
        got = sorted(
            (r.pane_id, r.key_h1, r.row_id, r.ts_us)
            for r in spark.table(name).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == _py_reference(rows, 1 << 16, 4, 1000)
    # survivors are the EARLIEST-ts occurrence of each key (sec 441-445
    # end of the staged file), provable only under the global sort
    assert {ts // 1_000_000 for _, _, _, ts in got} == {441, 442, 443, 444, 445}


def test_bloom_dedup_rerun_is_identical(spark, tmp_path):
    rows = [(i, 10 + (i % 7), i % 11) for i in range(50)]
    a = sorted(map(tuple, _run_stream(spark, tmp_path, rows, 1 << 10, k=3)))
    b = sorted(map(tuple, _run_stream(spark, tmp_path, rows, 1 << 10, k=3)))
    assert a == b


def test_bloom_dedup_sharded_state_exact_when_sized(spark, tmp_path):
    """n_state_shards > 1 (capacity scaling: independent filters per
    key-hash shard) changes nothing when no FP fires: output equals the
    unsharded run and the exact first-occurrence set."""
    rows = _rows()
    unsharded = sorted(
        map(tuple, _run_stream(spark, tmp_path, rows, 1 << 16))
    )
    sharded = sorted(
        map(
            tuple,
            _run_stream(spark, tmp_path, rows, 1 << 16, n_state_shards=4),
        )
    )
    assert sharded == unsharded


def test_bloom_dedup_sharded_fps_match_python_reference(spark, tmp_path):
    """With a tiny per-shard filter, FP behavior follows the per-(pane,
    shard) reference filters — deterministic, and DIFFERENT from the
    unsharded filter's FP set (proving the shard key is live)."""
    rows = [(i, 10 + i, 1000 + i) for i in range(40)]
    n_bits, k, shards = 64, 3, 4
    got = sorted(
        (r.pane_id, r.key_h1, r.row_id, r.ts_us)
        for r in _run_stream(
            spark,
            tmp_path,
            rows,
            n_bits,
            k=k,
            pane_seconds=1000,
            n_state_shards=shards,
        )
    )
    assert got == _py_reference(rows, n_bits, k, 1000, n_shards=shards)
    # sharding spreads keys over 4 filters -> fewer collisions than the
    # single tiny filter (the capacity argument, observed)
    unsharded = _py_reference(rows, n_bits, k, 1000)
    assert len(got) > len(unsharded)


def test_bloom_dedup_resumes_from_checkpoint(spark, tmp_path):
    """Kill/resume: the per-pane filter state survives a checkpointed
    restart — keys first seen before the restart stay deduped after it,
    and the union of both phases' output equals the single-run
    reference."""
    rows = [(i, 10 + i // 4, i % 7) for i in range(60)]  # dups everywhere
    split = 30
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def _write(chunk, name):
        (
            spark.createDataFrame(
                chunk, "event_id long, sec long, user_id long"
            )
            .coalesce(1)
            .sortWithinPartitions("sec", "event_id")
            .select(
                "event_id", F.timestamp_seconds("sec").alias("ts"), "user_id"
            )
            .write.parquet(f"{src}/{name}")
        )

    def _run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
        q = (
            bloom_dedup.stream_bloom_dedup(
                stream,
                key_col="user_id",
                ts_col="ts",
                id_col="event_id",
                pane_seconds=1000,
                n_bits=1 << 16,
                k=4,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 120)
    _write(rows[:split], "f0")
    _run()
    phase1 = sorted(
        (r.pane_id, r.key_h1, r.row_id, r.ts_us)
        for r in spark.read.parquet(sink).collect()
    )
    _write(rows[split:], "f1")
    _run()
    both = sorted(
        (r.pane_id, r.key_h1, r.row_id, r.ts_us)
        for r in spark.read.parquet(sink).collect()
    )
    want = _py_reference(rows, 1 << 16, 4, 1000)
    assert both == want
    # no re-emission: phase 2 added only rows the reference adds after
    # the split, i.e. keys 0-6 were all seen in phase 1 -> nothing new
    assert phase1 == want  # all 7 keys first occur before the split
    assert both == phase1
