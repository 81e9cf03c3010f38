"""Streaming funnel (streaming/funnel_stream.py): matched rows equal
the batch funnel_steps operator's, across multiple in-order
micro-batches; unmatched keys emit nothing."""

import uuid

import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.operators.temporal import funnel_steps
from kelos_on_kafka_spark.streaming.funnel_stream import stream_funnel
from tests.conftest import await_stream

BASE = 1_700_000_000


def _events(spark, rows):
    return spark.createDataFrame(
        [(eid, u, BASE + s, t) for eid, (u, s, t) in enumerate(rows)],
        "event_id long, user_id long, sec long, event_type string",
    ).select(
        "event_id",
        "user_id",
        F.timestamp_seconds("sec").alias("ts"),
        "event_type",
    )


def _run_stream(spark, tmp_path, ev, steps, within_us, n_files=3):
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    # in-order arrival: consecutive event-time ranges per file
    lo, hi = [
        r[0]
        for r in ev.agg(F.min(F.unix_micros("ts"))).collect()
    ][0], [
        r[0]
        for r in ev.agg(F.max(F.unix_micros("ts"))).collect()
    ][0]
    span = max((hi - lo) // n_files + 1, 1)
    for i in range(n_files):
        part = ev.where(
            (F.unix_micros("ts") >= lo + i * span)
            & (F.unix_micros("ts") < lo + (i + 1) * span)
        )
        part.coalesce(1).sortWithinPartitions("ts", "event_id").write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i:03d}")
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    name = f"funnel_{uuid.uuid4().hex[:10]}"
    q = (
        stream_funnel(
            stream,
            key_col="user_id",
            ts_col="ts",
            type_col="event_type",
            steps=steps,
            within_us=within_us,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return spark.table(name).collect()


def test_stream_funnel_matches_batch_matched_rows(spark, tmp_path):
    rows = [
        (1, 10, "A"), (1, 20, "B"), (1, 30, "C"),          # match
        (2, 10, "A"), (2, 20, "B"),                         # no C
        (3, 5, "B"), (3, 10, "A"), (3, 700, "B"), (3, 800, "C"),  # match
        (4, 10, "A"), (4, 20, "B"), (4, 5000, "C"),         # deadline miss
        (5, 100, "C"), (5, 200, "B"),                       # never starts
    ]
    ev = _events(spark, rows)
    got = sorted(
        (r.key, r.s0_us, r.s1_us, r.s2_us, r.matched, r.duration_us)
        for r in _run_stream(
            spark, tmp_path, ev, ["A", "B", "C"], within_us=1000_000_000
        )
    )
    want = sorted(
        map(
            tuple,
            funnel_steps(
                ev, "user_id", "ts", "event_type", ["A", "B", "C"],
                within_us=1000_000_000,
            )
            .where(F.col("matched"))
            .select(
                F.col("user_id").alias("key"),
                "s0_us", "s1_us", "s2_us", "matched", "duration_us",
            )
            .collect(),
        )
    )
    assert got == want
    assert {r[0] for r in got} == {1, 3}


def test_stream_funnel_larger_random_corpus_matches_batch(spark, tmp_path):
    rows = [
        (i % 23, (i * 7) % 4000, ("A", "B", "C", "D")[(i * 5) % 4])
        for i in range(600)
    ]
    ev = _events(spark, rows)
    got = sorted(
        (r.key, r.s0_us, r.s1_us, r.s2_us, r.duration_us)
        for r in _run_stream(
            spark, tmp_path, ev, ["A", "B", "C"], within_us=2000_000_000,
            n_files=5,
        )
    )
    want = sorted(
        (r.user_id, r.s0_us, r.s1_us, r.s2_us, r.duration_us)
        for r in funnel_steps(
            ev, "user_id", "ts", "event_type", ["A", "B", "C"],
            within_us=2000_000_000,
        )
        .where(F.col("matched"))
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_stream_funnel_validates_steps(spark):
    ev = _events(spark, [(1, 10, "A")])
    with pytest.raises(ValueError, match="at least 2"):
        stream_funnel(
            ev, key_col="user_id", ts_col="ts", type_col="event_type",
            steps=["A"], within_us=1,
        )


def test_stream_funnel_rejects_unbounded_state_by_default(spark):
    """Neither within_us nor max_age_us -> a partial chain would pin
    state forever; must raise unless explicitly opted in (VERDICT r4 #4)."""
    ev = _events(spark, [(1, 10, "A")])
    with pytest.raises(ValueError, match="unbounded state"):
        stream_funnel(
            ev, key_col="user_id", ts_col="ts", type_col="event_type",
            steps=["A", "B"],
        )
    # explicit opt-in still constructs
    stream_funnel(
        ev, key_col="user_id", ts_col="ts", type_col="event_type",
        steps=["A", "B"], allow_unbounded_state=True,
    )
    # max_age_us alone is a valid bound
    stream_funnel(
        ev, key_col="user_id", ts_col="ts", type_col="event_type",
        steps=["A", "B"], max_age_us=10,
    )


def test_stream_funnel_evicts_never_completing_chain_state(spark, tmp_path):
    """A key that starts a chain but never completes it must have its
    state watermark-evicted once the deadline passes — observed via the
    state operator's numRowsTotal in the final micro-batch."""
    import uuid as _uuid

    src = str(tmp_path / f"evict_{_uuid.uuid4().hex[:8]}")
    # f0: key 1 starts a chain (A, t=10s). f1/f2: sentinel keys far in
    # the future advance the watermark past s0 + within (deadline 100s),
    # so batch 3 must fire key 1's EventTimeTimeout and remove it.
    batches = [
        [(0, 1, 10, "A")],
        [(1, 50, 100_000, "X")],
        [(2, 60, 200_000, "X")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(e, u, BASE + s, t) for e, u, s, t in rows],
            "event_id long, user_id long, sec long, event_type string",
        ).select(
            "event_id", "user_id",
            F.timestamp_seconds("sec").alias("ts"), "event_type",
        ).coalesce(1).write.parquet(f"{src}/f{i:03d}")
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    name = f"evict_{_uuid.uuid4().hex[:10]}"
    q = (
        stream_funnel(
            stream, key_col="user_id", ts_col="ts",
            type_col="event_type", steps=["A", "B"],
            within_us=100_000_000,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    assert spark.table(name).count() == 0  # chain never completed
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    # key 1's partial-chain state must be gone; at most the final
    # sentinel key's fresh state may linger (its timeout hasn't fired)
    assert state_rows <= 1, (
        f"partial-chain state leaked: {state_rows} state rows remain"
    )
