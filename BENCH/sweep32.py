#!/usr/bin/env python
"""Config sweep for the 8->32-core scaling gap: run the flagship
pipeline at local[32] (and optionally local[8]) under one config
variation per session and report median-of-3.  Findings land in
BENCH/BASELINE.md.

Usage: python BENCH/sweep32.py <variant> [--cpus 32] [--pages 4800000]
Variants: base, batch10k, batch50k, batch100k, jvmfeat, shm, nocompress,
bigheap, combo
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VARIANTS = {
    "base": {},
    "batch10k": {"spark.sql.execution.arrow.maxRecordsPerBatch": "10000"},
    "batch50k": {"spark.sql.execution.arrow.maxRecordsPerBatch": "50000"},
    "batch100k": {"spark.sql.execution.arrow.maxRecordsPerBatch": "100000"},
    "jvmfeat": {},  # switches featurizer to the Catalyst expression
    "shm": {"spark.local.dir": "/dev/shm/kelos_spark"},
    "nocompress": {
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "bigheap": {},  # driver memory via env
    "combo": {
        "spark.local.dir": "/dev/shm/kelos_spark",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("variant", choices=sorted(VARIANTS))
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--pages", type=int, default=4_800_000)
    ap.add_argument("--shards", type=int, default=256)
    args = ap.parse_args()

    if args.variant == "bigheap":
        os.environ["SPARK_DRIVER_MEM"] = "24g"

    from pyspark.sql import functions as F

    from kelos_on_kafka_spark.config import KelosConfig
    from kelos_on_kafka_spark.functions.features import featurize_pages
    from kelos_on_kafka_spark.operators.kelos_batch import detect_outliers
    from kelos_on_kafka_spark.plans.session import get_spark

    spark = get_spark(
        app_name=f"sweep-{args.variant}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
        extra_conf=VARIANTS[args.variant],
    )
    spark.sparkContext.setLogLevel("ERROR")
    path = f"/tmp/kelos_bench_pages_{args.pages}"
    jvm = args.variant == "jvmfeat"

    def pipeline():
        pages = spark.read.parquet(path)
        pts = featurize_pages(pages, jvm=jvm).select(
            F.abs(F.xxhash64("url")).alias("id"),
            F.col("warc_ts").alias("ts"),
            "features",
            (F.abs(F.xxhash64("url")) % args.shards).alias("shard"),
        )
        return detect_outliers(pts, KelosConfig(n=100), shard_col="shard")

    pipeline().count()
    spark.catalog.clearCache()
    timings = []
    for _ in range(3):
        t0 = time.perf_counter()
        pipeline().count()
        timings.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
    timings.sort()
    med = timings[1]
    print(
        json.dumps(
            {
                "variant": args.variant,
                "cpus": args.cpus,
                "runs": timings,
                "median": med,
                "pages_per_sec": round(args.pages / med, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
