"""VERDICT r5 #3: the CDC loop closed end-to-end — streaming per-pane
deltas (upserts AND tombstones) feed the CDC-merge sink inside ONE
streaming query, and the materialized parquet table equals
``cdc_compact`` of the full changelog, across a kill/resume."""

from pyspark.sql import functions as F
from tests.conftest import await_stream

BASE = 1_700_006_400  # pane-aligned


def _changelog(spark):
    rows = [
        # (event_id, key, sec offset, is_del, value)
        (i, i % 7, (i * 311) % 10_800, i % 5 == 4, float(i))
        for i in range(300)
    ]
    # ensure at least one key's LAST op is a delete (stays deleted)
    rows.append((1_000, 6, 10_900, True, 0.0))
    return spark.createDataFrame(
        [(e, k, BASE + s, d, v) for e, k, s, d, v in rows],
        "event_id long, key long, sec long, is_del boolean, value double",
    ).select(
        "event_id",
        "key",
        F.timestamp_seconds("sec").alias("ts"),
        "is_del",
        "value",
    )


def test_stream_cdc_table_kill_resume_equals_batch_compact(
    spark, tmp_path
):
    from kelos_on_kafka_spark.plans.maintenance import cdc_compact
    from kelos_on_kafka_spark.streaming.relational import (
        stream_cdc_pane_state,
    )
    from kelos_on_kafka_spark.streaming.sink import write_cdc_table_stream

    ev = _changelog(spark)
    src = str(tmp_path / "src")
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "ckpt")
    mid = BASE + 5_400
    ev.where(F.unix_micros("ts") < mid * 1_000_000).coalesce(
        1
    ).write.parquet(f"{src}/f000")

    def run_phase():
        stream = spark.readStream.schema(
            "event_id long, key long, ts timestamp, "
            "is_del boolean, value double"
        ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
        delta = stream_cdc_pane_state(
            stream,
            "key",
            "ts",
            "event_id",
            "is_del",
            ["value"],
            pane="30 minutes",
            watermark="10800 seconds",
            emit_deletes=True,
        )
        q = write_cdc_table_stream(
            delta,
            table,
            ckpt,
            key_col="key",
            order_cols=["ts", "id"],
            n_buckets=4,
            trigger={"availableNow": True},
        )
        await_stream(q, 180)
    run_phase()  # phase 1: first half, then the query stops (kill)
    ev.where(F.unix_micros("ts") >= mid * 1_000_000).coalesce(
        1
    ).write.parquet(f"{src}/f001")
    # far-future sentinel closes every real pane
    spark.createDataFrame(
        [(9_999_999, -1, BASE + 90 * 3600, False, 0.0)],
        "event_id long, key long, sec long, is_del boolean, value double",
    ).select(
        "event_id",
        "key",
        F.timestamp_seconds("sec").alias("ts"),
        "is_del",
        "value",
    ).coalesce(1).write.parquet(f"{src}/f002")
    run_phase()  # phase 2: resume from the same checkpoint

    got = sorted(
        (r.key, r.id, int(r.ts.timestamp() * 1_000_000), r.value)
        for r in spark.read.parquet(table).collect()
        if r.key >= 0  # drop the sentinel's own row
    )
    want = sorted(
        (r.key, r.id, r.ts_us, r.value)
        for r in cdc_compact(
            ev, "key", "ts", "event_id", F.col("is_del"), ["value"]
        ).collect()
    )
    assert got == want and len(got) > 0
    # keys whose last op is a tombstone are ABSENT from the table
    assert 6 not in {k for k, *_ in got}


def test_merge_cdc_delta_empties_a_bucket(spark, tmp_path):
    """Deleting every key of a bucket must actually empty it: dynamic
    partition overwrite writes no files for a zero-row partition, so
    the merge explicitly drops stale bucket directories."""
    from kelos_on_kafka_spark.plans.maintenance import merge_cdc_delta

    path = str(tmp_path / "t")
    up = spark.createDataFrame(
        [(1, 10, 1.0, False), (2, 11, 2.0, False)],
        "key long, id long, value double, is_del boolean",
    )
    merge_cdc_delta(up, path, "key", ["id"], n_buckets=2)
    assert spark.read.parquet(path).count() == 2
    # delete key 1 AND key 2 — with n_buckets=2 at least one bucket
    # may end fully empty; the table must end fully empty overall
    dl = spark.createDataFrame(
        [(1, 20, 0.0, True), (2, 21, 0.0, True)],
        "key long, id long, value double, is_del boolean",
    )
    merge_cdc_delta(dl, path, "key", ["id"], n_buckets=2)
    try:
        n = spark.read.parquet(path).count()
    except Exception:
        n = 0  # every bucket dropped -> empty/absent table is correct
    assert n == 0


def test_merge_cdc_delta_replay_idempotent(spark, tmp_path):
    """Re-applying the same delta (the foreachBatch replay case) must
    leave the table byte-identical — including re-applied deletes."""
    from kelos_on_kafka_spark.plans.maintenance import merge_cdc_delta

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, k, float(k), False) for k in range(10)],
        "key long, id long, value double, is_del boolean",
    )
    merge_cdc_delta(base, path, "key", ["id"], n_buckets=4)
    delta = spark.createDataFrame(
        [(1, 100, 9.0, False), (2, 101, 0.0, True), (1, 99, 8.0, False)],
        "key long, id long, value double, is_del boolean",
    )
    merge_cdc_delta(delta, path, "key", ["id"], n_buckets=4)
    first = sorted(
        (r.key, r.id, r.value)
        for r in spark.read.parquet(path).collect()
    )
    merge_cdc_delta(delta, path, "key", ["id"], n_buckets=4)  # replay
    second = sorted(
        (r.key, r.id, r.value)
        for r in spark.read.parquet(path).collect()
    )
    assert first == second
    assert (1, 100, 9.0) in first and 2 not in {k for k, *_ in first}
