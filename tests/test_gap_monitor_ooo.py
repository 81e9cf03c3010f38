"""Out-of-order safety of streaming/gap_stream.py (VERDICT r5 #1).

The round-5 implementation kept only last_ts and depended on in-order
arrival across micro-batches; these tests pin the round-6 contract:
gap output depends ONLY on the multiset of event times per key, for
any arrival order the watermark admits.
"""

import random
import uuid

from pyspark.sql import functions as F
from tests.conftest import await_stream

BASE = 1_700_000_000  # epoch seconds


def _stage_files(spark, tmp_path, file_rows):
    """Write one parquet file per batch, sequentially (increasing
    mtime), so the file stream source processes them in list order."""
    src = str(tmp_path / f"ooo_{uuid.uuid4().hex[:8]}")
    for i, rows in enumerate(file_rows):
        spark.createDataFrame(
            [(e, BASE + s, u) for e, s, u in rows],
            "event_id long, sec long, user_id long",
        ).select(
            "event_id", F.timestamp_seconds("sec").alias("ts"), "user_id"
        ).coalesce(1).write.parquet(f"{src}/f{i:03d}")
    return src


def _run(spark, src, min_gap_s, silence_s, delay_s):
    from kelos_on_kafka_spark.streaming.gap_stream import (
        stream_gap_monitor,
    )

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    out = stream_gap_monitor(
        stream,
        "user_id",
        "ts",
        min_gap_us=min_gap_s * 1_000_000,
        max_silence_us=silence_s * 1_000_000,
        watermark_delay=f"{delay_s} seconds",
    )
    name = f"ooo_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return sorted(
        (
            r.key,
            r.gap_start_us - BASE * 1_000_000,
            r.gap_end_us - BASE * 1_000_000 if r.gap_end_us >= 0 else -1,
            r.gap_us,
        )
        for r in spark.table(name).where(F.col("key") >= 0).collect()
    )


def _expected(events, min_gap_s):
    """Pure-python oracle: per key, sorted event times; diffs >
    min_gap are closed gaps; one censored row at the max time."""
    by_key = {}
    for _e, s, u in events:
        by_key.setdefault(u, []).append(s)
    rows = []
    for k, ts in by_key.items():
        ts = sorted(ts)
        for a, b in zip(ts, ts[1:]):
            if (b - a) > min_gap_s:
                rows.append(
                    (k, a * 1_000_000, b * 1_000_000, (b - a) * 1_000_000)
                )
        rows.append((k, ts[-1] * 1_000_000, -1, -1))
    return sorted(rows)


def test_gap_monitor_any_arrival_order_matches_batch_oracle(
    spark, tmp_path
):
    """Shuffle ~60 events of 3 keys randomly across 5 micro-batch
    files (span-covering watermark delay, so nothing is dropped): the
    output must equal the sorted-batch oracle — closed gaps + one
    censored alert per key — exactly as if arrival had been in order."""
    rng = random.Random(42)
    events = []
    eid = 0
    for key in (1, 2, 3):
        t = rng.randrange(0, 50)
        for _ in range(20):
            events.append((eid, t, key))
            eid += 1
            t += rng.choice([1, 3, 7, 40, 120])  # some > min_gap=30
    span = max(s for _, s, _ in events) + 10
    shuffled = events[:]
    rng.shuffle(shuffled)
    chunk = (len(shuffled) + 4) // 5
    files = [
        shuffled[i : i + chunk] for i in range(0, len(shuffled), chunk)
    ]
    # two sentinels push the watermark past every timeout (timeouts
    # fire one batch AFTER the watermark that arms them)
    files.append([(900_000, span + 8 * 3600, -1)])
    files.append([(900_001, 2 * span + 16 * 3600, -1)])
    src = _stage_files(spark, tmp_path, files)
    got = _run(
        spark, src, min_gap_s=30, silence_s=120, delay_s=span + 60
    )
    assert got == _expected(events, 30)


def test_gap_monitor_midstream_disorder_within_delay(spark, tmp_path):
    """Bounded disorder with a TIGHT delay and mid-stream watermark
    progression: an event arriving one batch late (but inside the
    delay) must land between its neighbours, not fabricate a gap.
    Arrival: [t0, t50], then [t25], then [t100].  The r5 state
    (last_ts only) would have emitted a phantom (0,50) gap and then
    mis-anchored the next gap at 25; the buffered rewrite emits
    exactly (0,25), (25,50), (50,100) + the censored alert."""
    files = [
        [(1, 0, 7), (2, 50, 7)],
        [(3, 25, 7)],
        [(4, 100, 7)],
        [(900_000, 8 * 3600, -1)],
        [(900_001, 16 * 3600, -1)],
    ]
    src = _stage_files(spark, tmp_path, files)
    got = _run(spark, src, min_gap_s=10, silence_s=40, delay_s=30)
    M = 1_000_000
    assert got == [
        (7, 0, 25 * M, 25 * M),
        (7, 25 * M, 50 * M, 25 * M),
        (7, 50 * M, 100 * M, 50 * M),
        (7, 100 * M, -1, -1),
    ]
