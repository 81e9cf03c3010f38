"""Workload ``pages_batch``: synthetic Common-Crawl-style pages from
parquet -> Arrow featurize -> shard shuffle and sort -> KELOS streamwise
stage -> noop sink.  Each timed action checks its output against a
single-process ``core.run_stream`` replay of the same points."""

from __future__ import annotations

import json
import os
import time

import numpy as np

import docs_near_dup
import harness as H
import replay

N_PAGES = 8_000
PANES = 10  # 800 pages per pane
# the first warm-up is cold, the median is not: set-up reads the same
# whether or not this run has just generated its inputs (which runs the
# same pipeline first)
WARMUPS = 3


def _cfg():
    from kelos_on_kafka_spark.config import KelosConfig

    return KelosConfig(n=100)


def _shards() -> int:
    return 2 * H.nproc()


def _points(spark, path: str):
    """(id, ts, features, shard) exactly as the timed pipeline builds them."""
    from pyspark.sql import functions as F

    from kelos_on_kafka_spark.functions.features import featurize_pages

    h = F.abs(F.xxhash64("url"))
    return featurize_pages(spark.read.parquet(path)).select(
        h.alias("id"),
        F.col("warc_ts").alias("ts"),
        "features",
        (h % _shards()).alias("shard"),
    )


def _pipeline(spark, path: str):
    from kelos_on_kafka_spark.operators.kelos_batch import (
        detect_outliers_streamwise,
    )

    return detect_outliers_streamwise(
        _points(spark, path), _cfg(), shard_col="shard"
    )


def prepare(spark, seed: int, seconds: float) -> tuple[dict, float]:
    """Generate (once per seed) the page table, its points and the oracle
    fingerprint; returns (inputs, seconds spent generating now)."""
    d = H.input_dir("pages_batch", seed, N_PAGES)
    meta = os.path.join(d, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f), 0.0
    from pyspark.sql import functions as F

    from kelos_on_kafka_spark.sources.pages import synth_pages_spark

    t0 = time.perf_counter()
    path = os.path.join(d, "pages")
    synth_pages_spark(
        spark, N_PAGES, N_PAGES // PANES, seed=seed, partitions=2 * H.nproc()
    ).write.mode("overwrite").parquet(path)
    pdf = (
        _points(spark, path)
        .select("shard", "id", (F.unix_micros("ts") / 1e6).alias("ts"), "features")
        .toPandas()
    )
    points = {
        "shard": pdf["shard"].to_numpy(np.int64),
        "id": pdf["id"].to_numpy(np.int64),
        "ts": pdf["ts"].to_numpy(np.float64),
        "X": np.stack([np.asarray(f, dtype=np.float64) for f in pdf["features"]]),
    }
    np.savez(os.path.join(d, "points.npz"), **points)
    expected = replay.oracle(points, _cfg())  # too small to pay for a pool
    expected["rank"] = expected["rank"].astype(np.int32)
    fp = H.fingerprint(
        spark.createDataFrame(expected, replay.OUTLIER_SCHEMA), replay.OUTLIER_COLS
    )
    inputs = {
        "seed": seed,
        "pages": path,
        "points": os.path.join(d, "points.npz"),
        "expected": fp,
    }
    with open(meta, "w") as f:
        json.dump(inputs, f)
    return inputs, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _checked_action(spark, inputs) -> tuple[float, bool]:
    df, obs = H.observed(_pipeline(spark, inputs["pages"]), replay.OUTLIER_COLS)
    t0 = time.perf_counter()
    _noop(df)
    dt = time.perf_counter() - t0
    return dt, H.read_fp(obs) == inputs["expected"]


def warmup(spark, inputs) -> None:
    _checked_action(spark, inputs)


def measure(spark, inputs, seconds: float, rss=None) -> dict:
    """Closed loop of timed actions, back to back, for ``seconds``."""
    return H.closed_loop(
        lambda: _checked_action(spark, inputs), seconds, N_PAGES, "pages_batch: action"
    )


def trace(spark, inputs, tracer, reps: int = 3) -> dict:
    """Cumulative noop cuts (scan, +featurize, +shuffle/sort, +KELOS
    stage), the event-log view of the full cut, the core replay, and the
    dedup layer: ``docs_near_dup`` is not a benchmarked workload (it does
    not fit the time budget), so its four queries are traced here, after
    one untimed set."""
    from kelos_on_kafka_spark.operators.kelos_batch import prepare_points

    cfg = _cfg()
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def cut_scan():
        return spark.read.parquet(inputs["pages"]).select(
            "url", "warc_ts", "html", "text"
        )

    def cut_shuffle():
        return (
            prepare_points(_points(spark, inputs["pages"]), cfg, shard_col="shard")
            .repartition(n_part, "shard")
            .sortWithinPartitions("shard", "pane_id", "point_id")
        )

    cuts = {
        "scan": cut_scan,
        "featurize": lambda: _points(spark, inputs["pages"]),
        "shuffle": cut_shuffle,
        # the timed action itself, fingerprint observation included
        "stage": lambda: H.observed(
            _pipeline(spark, inputs["pages"]), replay.OUTLIER_COLS
        )[0],
    }
    _noop(_pipeline(spark, inputs["pages"]))  # a new application: warm it first
    secs = {}
    for name, build in cuts.items():
        runs = []
        for i in range(reps):
            tag = f"cut.{name}.{i}"
            spark.sparkContext.setLocalProperty("perfbench.span", tag)
            with tracer.span(tag) as sp:
                _noop(build())
            runs.append(sp["end"] - sp["start"])
        secs[name] = H.median(runs)
    spark.sparkContext.setLocalProperty("perfbench.span", None)
    with np.load(inputs["points"]) as z:
        points = {k: z[k] for k in z.files}
    core_m = replay.traced(points, cfg, tracer)
    docs, _ = docs_near_dup.prepare(spark, inputs["seed"], 0.0)
    docs_near_dup.warmup(spark, docs)
    dedup = docs_near_dup.trace(spark, docs, tracer)
    return {
        "cuts": secs, "core": core_m, "last": f"cut.stage.{reps - 1}", "dedup": dedup
    }


def trace_metrics(traced: dict, log: H.EventLog) -> dict:
    secs, core_m = traced["cuts"], traced["core"]
    m = {
        "sources.scan_s": secs["scan"],
        "features.featurize_s": secs["featurize"] - secs["scan"],
        "features.rows": N_PAGES,
        "kelos_batch.shuffle_s": secs["shuffle"] - secs["featurize"],
        "kelos_batch.stage_s": secs["stage"] - secs["shuffle"],
    }
    # one full run: the shuffle map stage writes, the KELOS stage (the
    # result stage, last) reads and runs the mapInPandas kernel
    stages = log.stages(traced["last"])
    map_tasks = [t for s in stages[:-1] for t in log.tasks[s]]
    kelos = [t for t in log.tasks[stages[-1]] if not t["failed"]]
    run_ms = [t["run_ms"] for t in kelos]
    rows = [t["read_records"] for t in kelos]
    m.update(
        {
            "kelos_batch.shuffle_bytes": sum(t["shuffle_bytes"] for t in map_tasks),
            "kelos_batch.shuffle_records": sum(
                t["shuffle_records"] for t in map_tasks
            ),
            "kelos_batch.task_skew": max(run_ms) / H.median(run_ms),
            "kelos_batch.rows_skew": max(rows) / H.median(rows),
            "kelos_batch.kernel_share": core_m["core.replay_cpu_s"]
            / (sum(run_ms) / 1000.0),
            "traced_e2e_s": secs["stage"],
        }
    )
    m.update({k: v for k, v in core_m.items() if k in replay.LAYER_CORE})
    dedup = docs_near_dup.trace_metrics(traced["dedup"], log)
    del dedup["traced_e2e_s"]
    m.update(dedup)
    return m
