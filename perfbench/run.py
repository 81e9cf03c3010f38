"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 10 --trace 0

Workloads: pages_batch, gmm_stream, docs_near_dup (see README.md).  With
``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it carries the per-layer metrics, and the spans are written
to ``.perfbench_cache/traces/``.  Lines before it are a readable report.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("pages_batch", "gmm_stream", "docs_near_dup")

REPORT_UNITS = {
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "error_rate": "share",
    "samples": "count",
    "jvm_start_s": "s",
    "input_gen_s": "s",
    "warmup_s_median": "s",
    "generator_late_ms_p95": "ms",
    "generator_late_ms_max": "ms",
    "host.sentinel_ms": "ms",
    "host.loadavg": "load",
    "batch_ms_p50": "ms",
}


def _metric_units() -> tuple[dict, dict]:
    """Names and units of the end-to-end and per-layer metrics, as
    declared in BENCHMARK.json."""
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in bench[kind]}
        for kind in ("end_to_end", "per_layer")
    )


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(H.ROOT, "kelos_on_kafka_spark")):
        print(
            "perfbench: run from the repository root (kelos_on_kafka_spark/ "
            "not found in the working directory)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, H.ROOT)
    end_to_end, per_layer = _metric_units()
    H.confine_to_checkout()
    wl = importlib.import_module(args.workload)
    host = H.host_sentinel()
    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
    tracer = H.Tracer(run_id, enabled=False)

    t0 = time.perf_counter()
    spark = H.start_spark()
    jvm_s = time.perf_counter() - t0
    rss = H.RssSampler()
    try:
        # set-up is loading the cached inputs plus the warm-up, which runs
        # wl.WARMUPS times and counts with its median.  JVM start is left
        # out (it follows host speed more than the program) and reported
        # apart, as is one-time input generation.
        t0 = time.perf_counter()
        inputs, gen_s = wl.prepare(spark, args.seed, args.seconds)
        load_s = time.perf_counter() - t0 - gen_s
        rss.start()  # after generation: its worker pool is not the program
        warm = []
        for _ in range(wl.WARMUPS):
            t0 = time.perf_counter()
            wl.warmup(spark, inputs)
            warm.append(time.perf_counter() - t0)
        setup_s = load_s + H.median(warm)
        res = wl.measure(spark, inputs, args.seconds, rss)
        peak_mb = rss.stop()
        layer = None
        if args.trace:
            # a second application in the same JVM, with the event log on
            spark.stop()
            log_dir = H.work_dir(f"eventlog-{args.workload}")
            spark = H.start_spark(event_log=log_dir)
            tracer.enabled = True
            traced = wl.trace(spark, inputs, tracer)
            spark.stop()  # flushes the event log
            layer = wl.trace_metrics(traced, H.EventLog(log_dir))
    finally:
        rss.stop()
        H.stop_jvm(spark)

    e2e = {
        "setup_s": setup_s,
        "cpu_us_per_row": res["cpu_us_per_row"],
        "peak_rss_mb": peak_mb,
    }
    # wall-clock speed: printed, and a per-layer metric of the traced run,
    # but not bounded (see README.md, "Run-to-run spread")
    wall = {
        "rows_per_s": res["rows_per_s"],
        "latency_p50_ms": res["latency_p50_ms"],
        "latency_p95_ms": res["latency_p95_ms"],
    }
    correct = res["failed"] == 0
    report = {
        **e2e,
        **wall,
        "error_rate": res["failed"] / res["attempted"],
        "samples": res["samples"],
        "jvm_start_s": jvm_s,
        "input_gen_s": gen_s,
        "warmup_s_median": H.median(warm),
        **{k[len("extra."):]: v for k, v in res.items() if k.startswith("extra.")},
        **host,
    }
    print(f"workload {args.workload} seed {args.seed}: "
          f"{res['attempted']} attempted, {res['failed']} failed")
    for name, value in report.items():
        unit = end_to_end.get(name, REPORT_UNITS.get(name, ""))
        if args.workload == "gmm_stream" and name.startswith("latency_"):
            name = name.replace("latency_", "window_close_")
        print(f"  {name:34s} {value:16.4f} {unit}")

    if args.trace:
        layer.update(host)
        layer.update({f"wall.{k}": v for k, v in wall.items()})
        layer.update(
            {
                "setup.jvm_start_s": jvm_s,
                "setup.input_gen_s": gen_s,
                "setup.warmup_s": H.median(warm),
                "trace.overhead_share": layer.pop("traced_e2e_s")
                / res["e2e_s"] - 1.0,
            }
        )
        metrics = {}
        for name, unit in per_layer.items():
            metrics[name] = {"value": float(layer.get(name, 0.0)), "unit": unit}
            print(f"  {name:34s} {metrics[name]['value']:16.4f} {unit}")
        tracer.dump(
            os.path.join(H.CACHE, "traces", f"{run_id}.json"),
            {"metrics": {k: v["value"] for k, v in metrics.items()}},
        )
    else:
        metrics = {
            name: {"value": float(e2e[name]), "unit": unit}
            for name, unit in end_to_end.items()
        }
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
