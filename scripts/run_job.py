#!/usr/bin/env python
"""spark-submit entry point for the KELOS engine.

Cluster deployment (north_rule):

    zip -r kelos_on_kafka_spark.zip kelos_on_kafka_spark
    spark-submit --py-files kelos_on_kafka_spark.zip \
        --conf spark.sql.shuffle.partitions=<executor cores> \
        scripts/run_job.py --mode stream \
        --input s3://bucket/pages --output s3://bucket/outliers \
        --checkpoint s3://bucket/ckpt --shards 4096

A stream's state-partition count is the session's
``spark.sql.shuffle.partitions`` when the query first starts, and its
checkpoint keeps it for every restart.  Each state partition costs
fixed CPU in every micro-batch, one that holds no shard too.  A plain
spark-submit session defaults to 200, so set about one per executor
core, as above, before a ``--mode stream`` query's first start.

Modes:
  batch        — bounded replay over a page table, one pane walk per shard
  stream       — Structured Streaming with watermarks + exactly-once sink
  debug        — also write assignments/clusters/candidates debug tables
  dedup-stream — stateful LSH near-dup pairs over a document stream
                 (input needs doc_id/text/ts columns; url/warc_ts page
                 tables are adapted automatically)

Local smoke (what the sandbox runs):
    spark-submit --master local[8] --py-files /tmp/kelos.zip \
        scripts/run_job.py --mode batch --input /tmp/pages \
        --output /tmp/out
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--mode",
        choices=[
            "batch",
            "stream",
            "debug",
            "dedup-stream",
            "dedup-verdict",
            "span-dedup",
            "clean-pipeline",
        ],
        default="batch",
    )
    ap.add_argument(
        "--sample-fraction",
        type=float,
        default=1.0,
        help="clean-pipeline mode: deterministic keep fraction",
    )
    ap.add_argument(
        "--span-tokens",
        type=int,
        default=8,
        help="span-dedup mode: tokens per dedup span",
    )
    ap.add_argument("--horizon", default="1 day", help="dedup-stream pairing horizon")
    ap.add_argument(
        "--emit-clean",
        action="store_true",
        help="dedup-verdict / span-dedup modes: also write the kept corpus",
    )
    ap.add_argument(
        "--available-now",
        action="store_true",
        help="bounded replay: process existing input then stop",
    )
    ap.add_argument(
        "--bench",
        action="store_true",
        help="print a JSON timing line for the job phase (batch mode)",
    )
    ap.add_argument("--input", required=True, help="page table path (parquet/Iceberg)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None, help="required for stream mode")
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--top-n", type=int, default=100)
    ap.add_argument("--watermark", default="10 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    args = ap.parse_args()

    # glibc malloc thresholds must be in the environment BEFORE the JVM
    # starts (Python workers inherit them; see plans/session.py for the
    # measured rationale).  In client mode this Python process launches
    # the JVM, so setting them here works under spark-submit too.
    import os

    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TOP_PAD_", "134217728")

    from pyspark.sql import SparkSession, functions as F

    from kelos_on_kafka_spark.config import KelosConfig
    from kelos_on_kafka_spark.functions.features import featurize_pages
    from kelos_on_kafka_spark.operators.kelos_batch import (
        debug_tables,
        debug_walk,
        detect_outliers,
    )
    from kelos_on_kafka_spark.streaming.engine import kelos_stream
    from kelos_on_kafka_spark.streaming.sink import write_outlier_stream

    spark = SparkSession.builder.appName("kelos-job").getOrCreate()
    cfg = KelosConfig(n=args.top_n)

    def to_points(pages):
        return featurize_pages(pages).select(
            F.abs(F.xxhash64("url")).alias("id"),
            F.col("warc_ts").alias("ts"),
            "features",
            (F.abs(F.xxhash64("url")) % args.shards).alias("shard"),
        )

    if args.mode == "dedup-stream":
        assert args.checkpoint, "--checkpoint required for dedup-stream mode"
        from kelos_on_kafka_spark.streaming.dedup_stream import (
            stream_near_dup_pairs,
        )

        schema = spark.read.parquet(args.input).schema
        docs = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", args.max_files_per_trigger)
            .load(args.input)
        )
        names = set(schema.fieldNames())
        if "doc_id" not in names:  # page-table adapter
            docs = docs.select(
                F.abs(F.xxhash64("url")).alias("doc_id"),
                "text",
                F.col("warc_ts").alias("ts"),
            )
        writer = (
            stream_near_dup_pairs(
                docs, horizon=args.horizon, watermark_delay=args.watermark
            )
            .writeStream.format("parquet")
            .option("path", args.output)
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append")
        )
        if args.available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        q.awaitTermination()
        spark.stop()
        return

    if args.mode == "dedup-verdict":
        # batch dedup decision table over a documents or pages table:
        # (doc_id, keeper_id, reason) — filter reason='keep' downstream,
        # or pass --emit-clean to also materialize the kept corpus
        from kelos_on_kafka_spark.operators.dedup import dedup_decisions

        raw = spark.read.parquet(args.input)
        docs = raw
        if "doc_id" not in set(docs.schema.fieldNames()):
            docs = raw.select(
                F.abs(F.xxhash64("url")).alias("doc_id"), "text"
            )
        decisions = dedup_decisions(docs)
        decisions.write.mode("overwrite").parquet(f"{args.output}/decisions")
        if args.emit_clean:
            keep = decisions.where(F.col("reason") == "keep").select("doc_id")
            (
                docs.join(keep, "doc_id", "left_semi")
                .write.mode("overwrite")
                .parquet(f"{args.output}/clean")
            )
        spark.stop()
        return

    if args.mode == "clean-pipeline":
        # the composed cleaning pipeline (same chain the driver gates
        # as the pipeline_clean query): quality verdicts -> exact-dedup
        # keepers -> deterministic sample; writes the clean corpus and
        # the verdict table for audit
        from kelos_on_kafka_spark.operators.dedup import exact_dup_groups
        from kelos_on_kafka_spark.operators.sampling import (
            deterministic_sample,
        )
        from kelos_on_kafka_spark.operators.textstats import (
            filter_verdicts,
        )

        raw = spark.read.parquet(args.input)
        docs = raw
        if "doc_id" not in set(docs.schema.fieldNames()):
            docs = raw.select(
                F.abs(F.xxhash64("url")).alias("doc_id"), "text"
            )
        verdicts = filter_verdicts(docs)
        verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")
        kept = docs.join(
            verdicts.where(F.col("keep")).select("doc_id"), "doc_id"
        )
        keepers = exact_dup_groups(kept).select(
            F.col("keeper_id").alias("doc_id")
        )
        deduped = kept.join(keepers, "doc_id", "left_semi")
        out = (
            deterministic_sample(deduped, "doc_id", args.sample_fraction)
            if args.sample_fraction < 1.0
            else deduped
        )
        out.write.mode("overwrite").parquet(f"{args.output}/clean")
        spark.stop()
        return

    if args.mode == "span-dedup":
        # C4-style span-level dedup over a documents/pages table:
        # writes the per-span verdict table and the per-doc rewrite
        # summary; --emit-clean additionally materializes the rewritten
        # corpus (kept spans re-joined in order)
        from kelos_on_kafka_spark.operators.dedup import (
            span_clean_docs,
            span_dedup_verdicts,
        )

        raw = spark.read.parquet(args.input)
        docs = raw
        if "doc_id" not in set(docs.schema.fieldNames()):
            docs = raw.select(
                F.abs(F.xxhash64("url")).alias("doc_id"), "text"
            )
        # one span pipeline run feeds every output: the verdict table
        # (with span text) is persisted, the verdicts file drops the
        # text, and the summary + rewritten corpus derive from the same
        # cached verdicts instead of re-tokenizing the corpus per output
        v = span_dedup_verdicts(
            docs, span_tokens=args.span_tokens, with_span=True
        ).persist()
        v.drop("span").write.mode("overwrite").parquet(
            f"{args.output}/span_verdicts"
        )
        span_clean_docs(
            docs, span_tokens=args.span_tokens, verdicts=v
        ).write.mode("overwrite").parquet(f"{args.output}/doc_summary")
        if args.emit_clean:
            kept = F.when(~F.col("is_dup"), F.struct("span_idx", "span"))
            (
                v.groupBy("doc_id")
                .agg(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(kept)),
                            lambda s: s["span"],
                        ),
                        " ",
                    ).alias("text")
                )
                .write.mode("overwrite")
                .parquet(f"{args.output}/clean")
            )
        v.unpersist()
        spark.stop()
        return

    if args.mode == "stream":
        assert args.checkpoint, "--checkpoint required for stream mode"
        pages = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(args.input).schema)
            .option("maxFilesPerTrigger", args.max_files_per_trigger)
            .load(args.input)
        )
        out = kelos_stream(
            to_points(pages),
            cfg,
            shard_col="shard",
            watermark_delay=args.watermark,
        )
        q = write_outlier_stream(
            out,
            args.output,
            args.checkpoint,
            trigger={"availableNow": True} if args.available_now else None,
        )
        q.awaitTermination()
    elif args.mode == "debug":
        pages = spark.read.parquet(args.input)
        tabs = debug_tables(debug_walk(to_points(pages), cfg, shard_col="shard"))
        for name, df in tabs.items():
            df.write.mode("overwrite").parquet(f"{args.output}/{name}")
    else:
        import json
        import time

        def job():
            pages = spark.read.parquet(args.input)
            return detect_outliers(to_points(pages), cfg, shard_col="shard")

        if args.bench:
            # warm-up inside the process (JVM JIT + Python workers —
            # what a long-lived cluster executor has already paid),
            # then the timed run; excludes spark-submit/JVM startup
            job().write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            job().write.mode("overwrite").parquet(args.output)
            print(
                json.dumps(
                    {"job_seconds": round(time.perf_counter() - t0, 3)}
                ),
                flush=True,
            )
        else:
            job().write.mode("overwrite").parquet(args.output)
    spark.stop()


if __name__ == "__main__":
    main()
