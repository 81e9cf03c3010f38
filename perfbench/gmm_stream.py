"""Workload ``gmm_stream``: the reference's 3-component GMM points, staged
as parquet files of one pane each (the burst: one file of several
panes), delivered by the open-loop generator process
(``generator.py``) into a file source -> ``kelos_stream`` (one shard per
``id % SHARDS``) -> ``write_outlier_stream`` parquet sink.

Every pane's points share one event time (the pane start).  File
``p + 1`` moves the watermark up to the end of pane ``p``; file ``p + 2``
moves it past, and the micro-batch that reads that file emits the window
of pane ``p``.  A window's close latency is its sink emission time minus
the due time of file ``p + 2``.

The stream opens before the generator starts: files 0 and 1 are in
place when the query starts, then file 2 emits the first window.  That
cold start and first emission are the warm-up.  Then the steady phase
delivers one file every ``SPACING_S`` seconds.  That is longer than the
micro-batch that reads a file plus the no-data micro-batch after it, so
every file finds the stream idle: a latency sample is the close path
alone, not a wait behind another file.  Once the last steady window is
out, one file holding ``BURST`` panes falls due; ``rows_per_s`` is the
burst's points over the time from its due time to the emission of its
last window.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from datetime import datetime

import numpy as np

import harness as H
import replay

SHARDS = 8
PANE_POINTS = 800  # all shards together: 100 points per shard and pane
SPACING_S = 12.0
OPEN_FILES = 3  # before the clock starts; the last closes the first window
MIN_SAMPLES = 2  # steady files, each closes one window
BURST = 4  # panes, staged as one file
WARMUPS = 1
T0 = 1_700_000_000  # event-time origin (epoch 0 is dropped as late)
STREAM_SCHEMA = "id long, ts timestamp, features array<double>"
WAIT_S = 90.0
IDLE_S = 0.5


def _cfg():
    from kelos_on_kafka_spark.config import KelosConfig

    return KelosConfig(n=100)


def _steady_files(seconds: float) -> int:
    """The opening files plus the steady ones."""
    return OPEN_FILES + max(MIN_SAMPLES, math.ceil(seconds / SPACING_S))


def prepare(spark, seed: int, seconds: float) -> tuple[dict, float]:
    """Stage (once per seed and size) one parquet file per steady pane,
    one file for the whole burst, and the oracle's rows; returns (inputs,
    seconds spent generating now).  Spark is not used: the set-up timed
    next starts from a JVM as cold as in a run on cached inputs."""
    steady = _steady_files(seconds)
    n_panes = steady + BURST
    d = H.input_dir("gmm_stream", seed, n_panes)
    meta = os.path.join(d, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f), 0.0
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kelos_on_kafka_spark.sources.points import gmm_points

    t0 = time.perf_counter()
    cfg = _cfg()
    pdf = gmm_points(
        n=n_panes * PANE_POINTS,
        seed=seed,
        elements_per_window=PANE_POINTS * cfg.panes_per_window,
        pane_seconds=cfg.pane_seconds,
    )
    ids = pdf["id"].to_numpy(np.int64)
    ts = pdf["ts"].to_numpy(np.float64) + T0
    X = np.array(pdf["features"].tolist(), dtype=np.float64)
    staged = os.path.join(d, "staged")
    os.makedirs(staged, exist_ok=True)
    files = []
    # the burst is one file, so that one micro-batch reads all of it: split
    # over two batches, the engine may leave the last closeable pane open
    # (a pane closes with data once the watermark reaches its end, but by
    # timeout only once the watermark is past it)
    for i in range(steady + 1):
        sl = slice(i * PANE_POINTS, (i + 1 if i < steady else n_panes) * PANE_POINTS)
        path = os.path.join(staged, f"f{i:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids[sl]),
                    "ts": pa.array(
                        (ts[sl] * 1e6).astype(np.int64), pa.timestamp("us", tz="UTC")
                    ),
                    "features": pa.array(list(X[sl]), pa.list_(pa.float64())),
                }
            ),
            path,
        )
        files.append(path)

    points = {"shard": ids % SHARDS, "id": ids, "ts": ts, "X": X}
    np.savez(os.path.join(d, "points.npz"), **points)
    # the stream closes every pane but the last (no later file moves the
    # watermark past it)
    last_pane = int(ts.max() // cfg.pane_seconds)
    expected = replay.oracle(points, cfg, processes=H.nproc())
    expected = expected[expected["window_id"] < last_pane]
    expected["rank"] = expected["rank"].astype(np.int32)
    expected.to_parquet(os.path.join(d, "expected.parquet"), index=False)
    inputs = {
        "dir": d,
        "files": files,
        "points": os.path.join(d, "points.npz"),
        "steady": steady,
        "first_pane": int(ts.min() // cfg.pane_seconds),
        "last_ts": float(ts.max()),
        "windows": sorted(
            {(int(s), int(w)) for s, w in zip(expected["shard"], expected["window_id"])}
        ),
    }
    with open(meta, "w") as f:
        json.dump(inputs, f)
    return inputs, time.perf_counter() - t0


def _expected_fp(spark, inputs) -> dict[str, int]:
    """The oracle's fingerprint, taken by the first run that scores this
    seed, after its measurement, and cached with the inputs."""
    if "expected" not in inputs:
        import pandas as pd

        rows = pd.read_parquet(os.path.join(inputs["dir"], "expected.parquet"))
        inputs["expected"] = H.fingerprint(
            spark.createDataFrame(rows, replay.OUTLIER_SCHEMA), replay.OUTLIER_COLS
        )
        with open(os.path.join(inputs["dir"], "inputs.json"), "w") as f:
            json.dump(inputs, f)
    return inputs["expected"]


def _start(spark, src: str, work: str, trigger=None):
    from pyspark.sql import functions as F

    from kelos_on_kafka_spark.streaming.engine import kelos_stream
    from kelos_on_kafka_spark.streaming.sink import write_outlier_stream

    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(src)
    out = kelos_stream(
        stream.withColumn("shard", stream["id"] % SHARDS), _cfg(), shard_col="shard"
    )
    # each micro-batch's progress records the windows it emitted: a window
    # emitted by two batches shows there, although the sink's partition
    # overwrite keeps only the last copy.  A set, because the sink reads
    # part of each batch twice (its emptiness probe, then the write).
    out = out.observe(
        "emitted", F.collect_set(F.struct("shard", "window_id")).alias("windows")
    )
    return write_outlier_stream(
        out, os.path.join(work, "sink"), os.path.join(work, "ckpt"), trigger=trigger
    )


def _emitted(p) -> list:
    row = p.get("observedMetrics", {}).get("emitted")
    return row["windows"] if row is not None else []


def _place(path: str, src: str) -> None:
    """Put a staged file into the source directory atomically (the file
    source ignores hidden names)."""
    tmp = os.path.join(src, "." + os.path.basename(path))
    shutil.copyfile(path, tmp)
    os.rename(tmp, os.path.join(src, os.path.basename(path)))


def _open(spark, inputs) -> dict:
    """Start the query on files 0 and 1, then hand it file 2, whose
    micro-batch emits the first window the way every later one is
    emitted; return when the stream is idle.  This is the stream's
    warm-up: the cold first micro-batch and the first emission through
    the sink."""
    work = H.work_dir("gmm_stream-run")
    src = os.path.join(work, "src")
    os.makedirs(src)
    first, closer = inputs["files"][: OPEN_FILES - 1], inputs["files"][OPEN_FILES - 1]
    for path in first:
        _place(path, src)  # before the start: the first batch reads them all
    q = _start(spark, src, work)
    try:
        deadline = time.time() + WAIT_S
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            if time.time() > deadline or q.exception() is not None:
                raise RuntimeError(f"stream did not start: {q.exception()}")
            time.sleep(0.05)
        _place(closer, src)
        # done when the window is out and no micro-batch has run for a
        # while (a no-data batch follows the one that emitted)
        idle_since = None
        while idle_since is None or time.time() - idle_since < IDLE_S:
            if time.time() > deadline or q.exception() is not None:
                raise RuntimeError(f"stream did not open: {q.exception()}")
            time.sleep(0.05)
            if q.status["isTriggerActive"] or not any(_emitted(p) for p in q.recentProgress):
                idle_since = None
            elif idle_since is None:
                idle_since = time.time()
    except Exception:
        q.stop()
        raise
    return {"query": q, "work": work, "src": src}


def warmup(spark, inputs) -> None:
    """Open the measured stream; ``measure`` continues it."""
    inputs["opened"] = _open(spark, inputs)


def _iso_epoch(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _batch_end(progress: list[dict]) -> dict[int, float]:
    return {
        p["batchId"]: _iso_epoch(p["timestamp"])
        + p["durationMs"].get("triggerExecution", 0) / 1000.0
        for p in progress
    }


def _watermark(p: dict) -> float:
    wm = p.get("eventTime", {}).get("watermark")
    return _iso_epoch(wm) if wm else 0.0


def run_stream(spark, inputs, opened, rss=None) -> dict:
    """Drive an opened stream with the generator: the steady files, then
    the burst; wait until the last closeable window is emitted, stop both.
    Returns latency samples, burst throughput and the check of the sink."""
    q, work, src = opened["query"], opened["work"], opened["src"]
    log_path = os.path.join(work, "generator.jsonl")
    plan_path = os.path.join(work, "plan.json")
    steady = inputs["steady"]
    with open(plan_path, "w") as f:
        json.dump(
            [
                {"index": i, "staged": path,
                 "offset_s": (min(i, steady) - OPEN_FILES) * SPACING_S}
                for i, path in enumerate(inputs["files"]) if i >= OPEN_FILES
            ],
            f,
        )
    cpu0 = H.cpu_s()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
         "--plan", plan_path, "--src", src, "--log", log_path]
    )
    if rss is not None:
        rss.exclude.add(gen.pid)
    try:
        gen.wait(timeout=(steady - OPEN_FILES) * SPACING_S + WAIT_S)
        deadline = time.time() + WAIT_S
        while not any(_watermark(p) >= inputs["last_ts"] for p in q.recentProgress):
            if time.time() > deadline or q.exception() is not None:
                raise RuntimeError(f"stream did not drain: {q.exception()}")
            time.sleep(0.05)
        cpu = H.cpu_s() - cpu0  # the generator has been reaped: not in it
        progress = q.recentProgress
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        q.stop()
    with open(log_path) as f:
        log = [json.loads(line) for line in f]
    due = {e["file"]: e["due"] for e in log}
    late_ms = [(e["actual"] - e["due"]) * 1000.0 for e in log]
    r = _score(spark, inputs, work, progress, due, late_ms)
    r["cpu_s"] = cpu
    return r


def _out_cols():
    from pyspark.sql import functions as F

    return [F.col(c).cast(t) for c, t in zip(replay.OUTLIER_COLS, replay.OUTLIER_TYPES)]


def _score(spark, inputs, work, progress, due, late_ms) -> dict:
    from pyspark.sql import functions as F

    sink = spark.read.parquet(os.path.join(work, "sink"))
    fp = H.fingerprint(sink, _out_cols())
    emitted = sink.groupBy("shard", "window_id").agg(
        F.min("batch_id").alias("batch_id"),
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("rank").alias("ranks"),
    ).collect()
    # how many micro-batches emitted each window
    emissions: dict[tuple, int] = {}
    for p in progress:
        for w in _emitted(p):
            key = (int(w["shard"]), int(w["window_id"]))
            emissions[key] = emissions.get(key, 0) + 1
    ends = _batch_end(progress)
    first, steady = inputs["first_pane"], inputs["steady"]
    lat, burst_emit = [], []
    for r in emitted:
        closer = int(r["window_id"]) + 2 - first  # file index that closed it
        t_emit = ends[int(r["batch_id"])]
        if closer < OPEN_FILES:
            continue  # the warm-up
        if closer < steady:
            lat.append((t_emit - due[closer]) * 1000.0)
        else:
            burst_emit.append(t_emit)
    got = sorted((int(r["shard"]), int(r["window_id"])) for r in emitted)
    # rows written twice within a batch, plus the rows of every extra
    # emission of a window (a window missing from the sets fails below)
    dups = sum(
        int(r["rows"]) - int(r["ranks"])
        + int(r["ranks"]) * (emissions.get((int(r["shard"]), int(r["window_id"])), 1) - 1)
        for r in emitted
    )
    checks = {
        "sink rows match the oracle": fp == _expected_fp(spark, inputs),
        "no window emitted before its closing file": all(x > 0 for x in lat),
        "every window in the sink": got == [tuple(w) for w in inputs["windows"]],
        "every window emitted": sorted(emissions) == got,
        "no duplicate rows": dups == 0,
    }
    failed = [name for name, passed in checks.items() if not passed]
    if failed:
        want = {tuple(w) for w in inputs["windows"]}
        print(
            f"gmm_stream: check failed: {'; '.join(failed)}; (shard, window) "
            f"missing {sorted(want - set(got))}, unexpected {sorted(set(got) - want)}, "
            f"first pane {first}; per batch (id, input rows, windows): "
            f"{[(p['batchId'], p['numInputRows'], len(_emitted(p))) for p in progress]}",
            flush=True,
        )
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress
                if p["numInputRows"] > 0]
    return {
        "ok": not failed,
        "lat_ms": lat,
        "rows_per_s": BURST * PANE_POINTS / (max(burst_emit) - due[steady]),
        "late_ms": late_ms,
        "batch_ms": batch_ms,
        "duplicate_rows": dups,
        "windows_emitted": len(emitted),
        "progress": progress,
        "work": work,
    }


def measure(spark, inputs, seconds: float, rss=None) -> dict:
    try:
        r = run_stream(spark, inputs, inputs.pop("opened"), rss)
    except Exception as exc:  # counted, reported, never hidden
        print(f"gmm_stream: stream failed: {exc!r}", flush=True)
        traceback.print_exc()
        return {"attempted": 1, "failed": 1, "samples": 0, "cpu_us_per_row": 0.0,
                "rows_per_s": 0.0, "latency_p50_ms": 0.0, "latency_p95_ms": 0.0,
                "e2e_s": 1.0, "extra.generator_late_ms_p95": 0.0}
    p50 = H.median(r["lat_ms"])
    rows = (inputs["steady"] - OPEN_FILES + BURST) * PANE_POINTS
    return {
        "attempted": 1,
        "failed": int(not r["ok"]),
        "samples": len(r["lat_ms"]),
        "cpu_us_per_row": r["cpu_s"] / rows * 1e6,
        "rows_per_s": r["rows_per_s"],
        "latency_p50_ms": p50,
        "latency_p95_ms": H.percentile(r["lat_ms"], 95),
        "e2e_s": p50 / 1000.0,
        "extra.generator_late_ms_p95": H.percentile(r["late_ms"], 95),
        "extra.generator_late_ms_max": max(r["late_ms"]),
        "extra.batch_ms_p50": H.median(r["batch_ms"]),
    }


def trace(spark, inputs, tracer) -> dict:
    """The same stream with a progress listener and the event log on,
    then the ``core`` replay of shard 0's points."""
    listener = H.progress_listener()
    spark.streams.addListener(listener)
    try:
        with tracer.span("stream"):
            r = run_stream(spark, inputs, _open(spark, inputs))
        # listener events arrive asynchronously
        deadline = time.time() + 10.0
        while len(listener.events) < len(r["progress"]) and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    sink = os.path.join(r["work"], "sink")
    files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(sink) for f in fs
        if f.endswith(".parquet")
    ]
    with np.load(inputs["points"]) as z:
        points = {k: z[k] for k in z.files}
    keep = points["shard"] == 0
    core_m = replay.traced({k: v[keep] for k, v in points.items()}, _cfg(), tracer)
    return {
        "run": r,
        "progress": listener.events,
        "sink_files": len(files),
        "sink_bytes": sum(os.path.getsize(p) for p in files),
        "core": core_m,
    }


def trace_metrics(traced: dict, log: H.EventLog) -> dict:
    r = traced["run"]
    # idle triggers report progress too; keep the batches that ran
    progress = [p for p in traced["progress"] if "addBatch" in p["durationMs"]]
    dur = [p["durationMs"] for p in progress]
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    writes = log.execution_ms(lambda desc: "InsertIntoHadoopFsRelationCommand" in desc)
    m = {
        "engine.batches": len(progress),
        "engine.trigger_ms_p50": H.median([d.get("triggerExecution", 0) for d in dur]),
        "engine.planning_ms_p50": H.median([d.get("queryPlanning", 0) for d in dur]),
        "engine.offset_commit_ms_p50": H.median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]
        ),
        "engine.state_rows_max": max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "engine.state_bytes_max": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "engine.state_commit_ms_p50": H.median([o.get("commitTimeMs", 0) for o in ops] or [0]),
        "engine.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
        "sink.write_ms_p50": H.median(writes or [0.0]),
        "sink.files": traced["sink_files"],
        "sink.bytes": traced["sink_bytes"],
        "sink.windows_emitted": r["windows_emitted"],
        "sink.duplicate_rows": r["duplicate_rows"],
        "generator.late_ms_p95": H.percentile(r["late_ms"], 95),
        "generator.late_ms_max": max(r["late_ms"]),
        "traced_e2e_s": H.median(r["lat_ms"]) / 1000.0,
    }
    m.update({k: v for k, v in traced["core"].items() if k in replay.LAYER_CORE})
    return m
