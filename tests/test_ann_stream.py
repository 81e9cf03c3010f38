"""Streaming ANN (streaming/ann_stream.py): the windowed streaming
top-k must equal the batch cosine_topk ranking per window."""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.operators.similarity import cosine_topk
from kelos_on_kafka_spark.streaming.ann_stream import stream_cosine_topk
from tests.conftest import await_stream

BASE_S = 1_700_000_000
DIM = 8


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=DIM)]) for i in range(60)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def _run_stream(spark, tmp_path, corpus, probe_ids, window="1 hour"):
    probes = corpus.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.timestamp_seconds(
            F.lit(BASE_S) + (F.col("vec_id") % 2) * 3600
        ).alias("ts"),
        F.col("embedding").alias("vec"),
    )
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    probes.coalesce(1).write.parquet(f"{src}/data")
    spark.createDataFrame(
        [(999_999, BASE_S + 10 * 3600)], "probe_id long, sec long"
    ).select(
        "probe_id",
        F.timestamp_seconds("sec").alias("ts"),
        F.array(*[F.lit(0.0)] * DIM).cast("array<float>").alias("vec"),
    ).coalesce(1).write.parquet(f"{src}/sentinel")
    stream = spark.readStream.schema(
        "probe_id long, ts timestamp, vec array<float>"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    # sentinel stays IN the stream (it drives the final watermark; its
    # own far-future window never closes so it never reaches the sink)
    out = stream_cosine_topk(
        stream,
        corpus,
        k=4,
        probe_id_col="probe_id",
        probe_vec_col="vec",
        ts_col="ts",
        window=window,
    )
    name = f"ann_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return spark.table(name).collect()


def test_stream_topk_matches_batch_ranking(spark, tmp_path, corpus):
    probe_ids = [0, 1, 2, 3, 4, 5]
    rows = _run_stream(spark, tmp_path, corpus, probe_ids)
    got = sorted((r.probe_id, r.rank, r.neighbor_id) for r in rows)
    want = sorted(
        map(tuple, cosine_topk(corpus, probe_ids, k=4).collect())
    )
    assert got == want
    # windows land where the synthetic event times put them: probes with
    # even ids in the BASE_S hour, odd ids one hour later
    starts = {
        r.probe_id: int(r.window_start.timestamp()) for r in rows
    }
    hour0 = BASE_S // 3600 * 3600
    for pid, start in starts.items():
        assert start == hour0 + (pid % 2) * 3600


def test_stream_topk_excludes_self_and_is_rerun_stable(
    spark, tmp_path, corpus
):
    rows = _run_stream(spark, tmp_path, corpus, [7, 8])
    assert all(r.neighbor_id != r.probe_id for r in rows)
    rows2 = _run_stream(spark, tmp_path, corpus, [7, 8])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_stream_ivf_matches_batch_ivf(spark, tmp_path, corpus):
    """IVF-routed streaming ANN reproduces batch ivf_topk exactly: same
    deterministic cell quantizer, same routing, same ranking."""
    from kelos_on_kafka_spark.operators.similarity import ivf_topk
    from kelos_on_kafka_spark.streaming.ann_stream import stream_ivf_topk

    probe_ids = [0, 3, 9, 17, 25]
    probes = corpus.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.timestamp_seconds(
            F.lit(BASE_S) + (F.col("vec_id") % 2) * 3600
        ).alias("ts"),
        F.col("embedding").alias("vec"),
    )
    src = str(tmp_path / f"ivf_{uuid.uuid4().hex[:8]}")
    probes.coalesce(1).write.parquet(f"{src}/data")
    spark.createDataFrame(
        [(999_999, BASE_S + 10 * 3600)], "probe_id long, sec long"
    ).select(
        "probe_id",
        F.timestamp_seconds("sec").alias("ts"),
        F.array(*[F.lit(0.0)] * DIM).cast("array<float>").alias("vec"),
    ).coalesce(1).write.parquet(f"{src}/sentinel")
    stream = spark.readStream.schema(
        "probe_id long, ts timestamp, vec array<float>"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    out = stream_ivf_topk(
        stream, corpus, k=4, n_cells=8, nprobe=2, window="1 hour"
    )
    name = f"ivf_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    rows = spark.table(name).where(F.col("probe_id") < 999_999).collect()
    got = sorted((r.probe_id, r.rank, r.neighbor_id) for r in rows)
    want = sorted(
        map(
            tuple,
            ivf_topk(corpus, probe_ids, k=4, n_cells=8, nprobe=2).collect(),
        )
    )
    assert got == want


def test_stream_ivf_routes_via_broadcast_data_at_many_cells(spark, tmp_path):
    """VERDICT r4 #5: the probe-side cell routing must ship the cell
    table as broadcast DATA (one array-of-structs row joined onto the
    stream), not an O(n_cells*d) literal expression tree — at n_cells
    = 256 a literal form serializes ~256*8 literals into every task.
    Checks (a) the streaming plan stays small and shows the broadcast
    ``cells_arr`` row, (b) results still match batch ivf_topk over the
    same 256 deterministic cells."""
    from kelos_on_kafka_spark.operators.similarity import ivf_topk
    from kelos_on_kafka_spark.streaming.ann_stream import stream_ivf_topk

    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(320)],
        "vec_id long, embedding array<float>",
    ).cache()
    probe_ids = [0, 3, 9, 260, 300]
    probes = corpus.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.timestamp_seconds(F.lit(BASE_S)).alias("ts"),
        F.col("embedding").alias("vec"),
    )
    src = str(tmp_path / f"ivfb_{uuid.uuid4().hex[:8]}")
    probes.coalesce(1).write.parquet(f"{src}/data")
    spark.createDataFrame(
        [(999_999, BASE_S + 10 * 3600)], "probe_id long, sec long"
    ).select(
        "probe_id",
        F.timestamp_seconds("sec").alias("ts"),
        F.array(*[F.lit(0.0)] * DIM).cast("array<float>").alias("vec"),
    ).coalesce(1).write.parquet(f"{src}/sentinel")
    stream = spark.readStream.schema(
        "probe_id long, ts timestamp, vec array<float>"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    out = stream_ivf_topk(
        stream, corpus, k=4, n_cells=256, nprobe=3, window="1 hour"
    )
    # (a) plan shape: no literal blow-up (a 256x8 literal tree pushes
    # the analyzed plan well past 100kB), and the routing join exists
    plan = out._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 60_000, f"plan ballooned to {len(plan)} chars"
    assert "cells_arr" in plan
    name = f"ivfb_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    rows = spark.table(name).where(F.col("probe_id") < 999_999).collect()
    got = sorted((r.probe_id, r.rank, r.neighbor_id) for r in rows)
    want = sorted(
        map(
            tuple,
            ivf_topk(corpus, probe_ids, k=4, n_cells=256, nprobe=3).collect(),
        )
    )
    assert got == want
    assert len(got) > 0
    corpus.unpersist()


def test_zero_norm_vector_is_dropped_not_divided_by(spark, tmp_path):
    """A zero-norm vector has no cosine: the batch operators score it
    NULL and drop it instead of raising DIVIDE_BY_ZERO under ANSI, so
    batch cosine_topk equals the stream, which drops it too."""
    from kelos_on_kafka_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    ids = [0, 1, 2, 3]
    batch = sorted(
        map(tuple, similarity.cosine_topk(corpus, ids, k=4).collect())
    )
    assert batch == [
        (0, 1, 3), (0, 2, 1), (1, 1, 3), (1, 2, 0), (3, 1, 0), (3, 2, 1)
    ]
    # two cells, both probed: the IVF scan covers the whole corpus
    ivf = similarity.ivf_topk(corpus, ids, k=4, n_cells=2, nprobe=2)
    assert sorted(map(tuple, ivf.collect())) == batch
    similarity.lsh_bucketed_topk(corpus, ids, k=4, n_planes=1).collect()
    pairs = similarity.embedding_near_dup_pairs(
        corpus, threshold=0.5, n_planes=1
    ).collect()
    assert all(2 not in (r.vec_a, r.vec_b) for r in pairs)
    rows = _run_stream(spark, tmp_path, corpus, ids)
    assert sorted((r.probe_id, r.rank, r.neighbor_id) for r in rows) == batch
