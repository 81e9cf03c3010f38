#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` = total wall-clock seconds over the query set.  The queries map
also carries `kelos_pages_per_sec` (end-to-end page throughput of the
flagship streaming-analytics pipeline: synthetic Common-Crawl-style pages
-> Arrow feature extraction -> pane clustering -> per-window KDE/KLOME ->
top-N), the BASELINE.json headline metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("KELOS_BENCH_PAGES", "120000"))
# Shards = independent logical streams (the deployment unit of sequential
# consistency); shards >= 2x cores keeps the order-dependent clustering
# stage balanced under hash partitioning.
N_SHARDS = int(os.environ.get("KELOS_BENCH_SHARDS", str(2 * CPUS)))


def _sf_label(path: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from kelos_on_kafka_spark.config import KelosConfig
    from kelos_on_kafka_spark.functions.features import featurize_pages
    from kelos_on_kafka_spark.operators.kelos_batch import detect_outliers
    from kelos_on_kafka_spark.plans.session import get_spark
    from kelos_on_kafka_spark.sources.pages import synth_pages, to_spark_pages

    spark = get_spark(
        app_name="kelos-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # --- host-drift control (self-calibrating artifact) -----------------
    # This sandbox host throttles after sustained load (directly measured
    # rounds 2-5: identical jobs run 1.9-2.4x slower post-throttle).  To
    # make each bench artifact self-calibrating, re-run three UNCHANGED
    # mid-cost relational sentinels first and report measured/reference
    # against their pinned quiet-host readings (BENCH/bench_r5_quiet.json,
    # load avg 0.10).  drift_factor ~1.0 = trustworthy absolute numbers;
    # >>1 = the host was busy and per-query regressions vs older
    # artifacts should be read against this factor, not as code drift.
    CONTROL_REF = {  # seconds at sf0.1, quiet host, 2026-08-17
        "pricing_summary": 0.609,
        "token_stats": 0.408,
        "knn_cosine": 1.124,
    }
    qs_ctl = entry_mod.queries()
    for name in CONTROL_REF:  # warm-up: JVM JIT, Python workers, page cache
        qs_ctl[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    def _time_controls() -> dict[str, float]:
        out = {}
        for name in CONTROL_REF:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                qs_ctl[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 3)
        return out

    def _drift(readings: dict[str, float]) -> float | None:
        if abs(_sf_label(SF_DIR) - 0.1) > 1e-9:
            return None
        import math

        return round(
            math.exp(
                sum(
                    math.log(max(readings[k], 1e-6) / v)
                    for k, v in CONTROL_REF.items()
                )
                / len(CONTROL_REF)
            ),
            3,
        )

    control: dict = {}
    start_readings = _time_controls()
    control.update(
        {f"control_{k}": v for k, v in start_readings.items()}
    )
    control["drift_start"] = _drift(start_readings)
    # drift_end + control_series are filled in during/after the query
    # loop below: rounds 2-6 showed the throttle can engage (and
    # recover) MID-run, so a start-only control under-reports it — the
    # series re-times one cheap sentinel between query blocks.
    spark.catalog.clearCache()

    # --- flagship: end-to-end pages pipeline (throughput metric) --------
    # parquet-backed input (Iceberg scan stand-in), generated once and
    # cached under /tmp; one pane walk per shard over N_SHARDS logical
    # streams.
    from kelos_on_kafka_spark.sources.pages import ensure_pages_parquet

    pages_path = ensure_pages_parquet(
        spark,
        N_PAGES,
        f"/tmp/kelos_bench_pages_{N_PAGES}",
        pages_per_pane=max(N_PAGES // 15, 1),
    )

    def kelos_run():
        pages = spark.read.parquet(pages_path)
        pts = featurize_pages(pages).select(
            F.abs(F.xxhash64("url")).alias("id"),
            F.col("warc_ts").alias("ts"),
            "features",
            (F.abs(F.xxhash64("url")) % N_SHARDS).alias("shard"),
        )
        return detect_outliers(pts, KelosConfig(n=100), shard_col="shard").count()

    kelos_run()  # warm-up: JVM JIT, Python workers, OS page cache
    t0 = time.perf_counter()
    n_outliers = kelos_run()
    kelos_secs = time.perf_counter() - t0
    timings["kelos_pages_e2e"] = round(kelos_secs, 3)
    timings["kelos_pages_per_sec"] = round(N_PAGES / kelos_secs, 1)
    timings["kelos_outlier_rows"] = n_outliers

    # --- streaming: p95 window-close latency -----------------------------
    # One pane per micro-batch file; window-close latency ~= trigger
    # execution time of the batch that closes it (watermark-driven).
    import shutil
    import tempfile

    from kelos_on_kafka_spark.streaming.engine import kelos_stream
    from kelos_on_kafka_spark.streaming.sink import write_outlier_stream

    stream_pages = min(N_PAGES // 4, 60_000)
    sp_pdf = synth_pages(
        n=stream_pages,
        seed=7,
        pages_per_pane=max(stream_pages // 12, 1),
        start_epoch=1_700_000_000,
    )
    base = tempfile.mkdtemp(prefix="kelos_bench_stream_")
    src, sink_dir, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    per_file = max(len(sp_pdf) // 12, 1)
    for i in range(0, len(sp_pdf), per_file):
        to_spark_pages(spark, sp_pdf.iloc[i : i + per_file]).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/f{i:08d}.parquet")
    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    def run_stream(shards: int, sink_dir: str, ckpt: str):
        spts = featurize_pages(stream).select(
            F.abs(F.xxhash64("url")).alias("id"),
            F.col("warc_ts").alias("ts"),
            "features",
            *(
                [(F.abs(F.xxhash64("url")) % shards).alias("shard")]
                if shards
                else []
            ),
        )
        q = write_outlier_stream(
            kelos_stream(
                spts,
                KelosConfig(n=100),
                shard_col="shard" if shards else None,
            ),
            sink_dir,
            ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)
        # recentProgress is chronological; batch 0 is stream STARTUP
        # (query planning + state-store init — the watermark is still
        # at origin, so it closes no window) and is excluded: with ~13
        # batches the p95 index is the max, and a cold first batch was
        # masquerading as window-close latency (r6 probe: startup
        # 4.4-6.2 s vs steady-state max 2.75 s, unchanged since r5).
        durations = sorted(
            p["durationMs"].get("triggerExecution", 0)
            for p in q.recentProgress[1:]
        )
        if not durations:
            return None, 0
        return (
            durations[min(len(durations) - 1, int(0.95 * len(durations)))],
            len(durations),
        )

    # single-shard = the reference-parity configuration; 8 shards = the
    # scale path (state and clustering parallelize across shards)
    p95, nb = run_stream(0, f"{base}/sink0", f"{base}/ckpt0")
    if p95 is not None:
        timings["stream_p95_window_close_ms"] = p95
        timings["stream_batches"] = nb
    p95s, _ = run_stream(8, f"{base}/sink8", f"{base}/ckpt8")
    if p95s is not None:
        timings["stream_p95_sharded_ms"] = p95s
    shutil.rmtree(base, ignore_errors=True)

    # --- driver-contract queries at SF_DIR ------------------------------
    qs = entry_mod.queries()
    bench_queries = [
        "kelos_topn",
        "pane_agg",
        "sliding_window",
        "session_windows",
        "topn_per_pane",
        "interval_join",
        "dedup_exact",
        "ngram_jaccard",
        "minhash_lsh_pairs",
        "near_dup_groups",
        "simhash",
        "token_stats",
        "quality_flags",
        "lang_guess",
        "knn_cosine",
        "knn_lsh",
        "region_revenue",
        "pricing_summary",
        "semi_join",
        "salted_topn_docs",
        "skew_join_agg",
        "distinct_tokens",
        "asof_join",
        "cep_sequence",
        "rollup_panes",
        "dedup_decisions",
        "repetition_stats",
        "contamination",
        "top_terms",
        "funnel_dropoff",
        "cep_gap_tolerant",
        "weighted_sample",
        "corpus_report",
        "knn_pq",
        "pivot_lang_source",
        "rolling_avg",
        # round 4
        "domain_stats",
        "domain_cap",
        "span_dedup",
        "span_clean",
        "props_extract",
        "weighted_strat_cap",
        "funnel_steps",
        "norm_dedup",
        "cube_events",
        "snapshot_diff",
        "top_orders",
        "session_assign",
        "quality_verdicts",
        "image_phash",
        # round 5
        "bigram_rarity",
        "incremental_dedup",
        "event_gaps",
        "bounce_rate",
        "cluster_sizes",
        "value_drift",
        "doc_chunks",
        "seq_packing",
        "scd2_dim",
        "cdc_state",
        # round 6
        "jaccard_prefix",  # the lossless candidate stage, benched next
        # to the df-capped ngram_jaccard (VERDICT r5 #5): on THIS
        # synthetic corpus shingle df ~ 1, so expect prefix to lose —
        # the crossover rule lives in near_dup_groups' docstring
        "group_percentiles",
        "canonical_urls",
        "equidepth_hist",
        "vocab",
        "adaptive_filter",
        "cosine_rescore",
        "winsorized",
        "robust_scaled",
        "cardinality",
        "link_stats",
        "outlink_domains",
        "sq8_codes",
        "sq8_topk",
        "oov_rate",
        "cohort_retention",
        "rolling_stats",
        "domain_pagerank",
        "encode_tokens",
        "packed_ids",
        "containment",
        "edit_verify",
        # stream_cdc_table is staged streaming (untimed, same rule as
        # stream_cdc_state above)
        # stream_cdc_state is NOT timed here: like the other staged
        # streaming driver queries (stream_topn, stream_funnel, ...)
        # its wall-clock is dominated by harness staging (parquet
        # write + availableNow micro-batch startup), not operator cost
    ]
    total = kelos_secs
    series: list[float] = []
    for i, name in enumerate(bench_queries):
        if i % 15 == 0:
            # mid-run throttle sentinel: re-time one cheap unchanged
            # query so drift WITHIN the run is visible in the artifact
            t0 = time.perf_counter()
            qs["token_stats"](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            series.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt
    control["control_series_token_stats"] = series

    # --- deployment-path (fast xxhash64) dedup/ANN variants -------------
    # The driver queries above run the PORTABLE md5-hash variants (the
    # oracle contract); production at scale runs these JVM-native hashes
    # instead — bench both so the scale story is measured, not claimed.
    from kelos_on_kafka_spark.operators import dedup as _dd
    from kelos_on_kafka_spark.operators import similarity as _sim

    docs_df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb_df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe_ids = [r["vec_id"] for r in emb_df.select("vec_id").limit(8).collect()]
    fast_variants = {
        "simhash_fast": lambda: _dd.simhash64(docs_df, portable=False),
        "minhash_lsh_pairs_fast": lambda: _dd.lsh_candidate_pairs(
            _dd.minhash_signatures(docs_df, fast=True),
            n_bands=4,
            rows_per_band=4,
            portable=False,
        ),
        "knn_lsh_fast": lambda: _sim.lsh_bucketed_topk(
            emb_df, probe_ids, k=5, n_planes=8
        ),
        "ngram_jaccard_fast": lambda: _dd.ngram_jaccard_pairs(
            docs_df, hash_shingles=True
        ),
        "containment_fast": lambda: _dd.containment_pairs(
            docs_df, min_containment_pct=30, hash_shingles=True
        ),
    }
    for name, make in fast_variants.items():
        t0 = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt

    end_readings = _time_controls()
    control.update(
        {f"control_end_{k}": v for k, v in end_readings.items()}
    )
    control["drift_end"] = _drift(end_readings)

    print(
        json.dumps(
            {
                "metric": "headline_query_set_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "control": control,
                "sf": _sf_label(SF_DIR),
                "cpus": CPUS,
                "bench_pages": N_PAGES,
                "shards": N_SHARDS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
