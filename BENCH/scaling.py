#!/usr/bin/env python
"""Two-cluster-size scaling run (BASELINE.json north_rule): the identical
flagship job — synthetic Common-Crawl-style pages -> Arrow feature
extraction -> KELOS pane clustering -> per-window KDE/KLOME top-N — at
local[N] and local[4N] on the same input, reporting throughput at both
plus scaling efficiency = (tput_4N / tput_N) / 4.

The stream is sharded (256 independent logical sub-streams by default,
the unit of sequential consistency) through ``detect_outliers``, one
pane walk per shard, so both cluster sizes have full parallelism in the
order-dependent walker.

Usage:  python BENCH/scaling.py [--cpus 8 32] [--pages 240000]
Writes one JSON line per cluster size + a summary; results are recorded
in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(
    cpus: int,
    n_pages: int,
    n_shards: int,
    path: str,
    repeats: int = 3,
) -> dict:
    from pyspark.sql import functions as F

    from kelos_on_kafka_spark.config import KelosConfig
    from kelos_on_kafka_spark.functions.features import featurize_pages
    from kelos_on_kafka_spark.operators.kelos_batch import detect_outliers
    from kelos_on_kafka_spark.plans.session import get_spark

    spark = get_spark(
        app_name=f"kelos-scaling-{cpus}",
        master=f"local[{cpus}]",
        # 2 tasks per core in the kernel stage amortizes the hash-collision
        # skew of shards->partitions (max/mean load ~2x at 1 task/core)
        shuffle_partitions=max(2 * cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    def pipeline():
        pages = spark.read.parquet(path)
        pts = featurize_pages(pages).select(
            F.abs(F.xxhash64("url")).alias("id"),
            F.col("warc_ts").alias("ts"),
            "features",
            (F.abs(F.xxhash64("url")) % n_shards).alias("shard"),
        )
        return detect_outliers(pts, KelosConfig(n=100), shard_col="shard")

    # Warm-up run: JVM JIT, Python workers, OS page cache for the input.
    rows = pipeline().count()
    spark.catalog.clearCache()

    timings = []
    for _ in range(repeats):
        # The plan caches nothing, so every timed run is a full e2e
        # execution; clearCache drops anything a caller left cached.
        t0 = time.perf_counter()
        rows = pipeline().count()
        timings.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    spark.stop()
    timings.sort()
    med = timings[len(timings) // 2]
    return {
        "cpus": cpus,
        "mode": "streamwise",
        "pages": n_pages,
        "shards": n_shards,
        "seconds_runs": [round(t, 3) for t in timings],
        "seconds_median": round(med, 3),
        "pages_per_sec": round(n_pages / med, 1),
        "outlier_rows": rows,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, nargs=2, default=[8, 32])
    ap.add_argument("--pages", type=int, default=4_800_000)
    ap.add_argument("--shards", type=int, default=256)
    args = ap.parse_args()

    # generate-once parquet input (distributed, deterministic per id)
    path = f"/tmp/kelos_bench_pages_{args.pages}"
    from kelos_on_kafka_spark.plans.session import get_spark
    from kelos_on_kafka_spark.sources.pages import ensure_pages_parquet

    gen_spark = get_spark(app_name="kelos-pagegen", master="local[32]")
    gen_spark.sparkContext.setLogLevel("ERROR")
    ensure_pages_parquet(
        gen_spark, args.pages, path, pages_per_pane=max(args.pages // 15, 1)
    )
    gen_spark.stop()

    results = []
    for c in args.cpus:
        r = run_once(c, args.pages, args.shards, path)
        print(json.dumps(r), flush=True)
        results.append(r)

    n, n4 = results
    eff = (n4["pages_per_sec"] / n["pages_per_sec"]) / (
        n4["cpus"] / n["cpus"]
    )
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency",
                "value": round(eff, 3),
                "from_cpus": n["cpus"],
                "to_cpus": n4["cpus"],
                "tput_low": n["pages_per_sec"],
                "tput_high": n4["pages_per_sec"],
            }
        )
    )


if __name__ == "__main__":
    main()
