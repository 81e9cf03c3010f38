"""Single-process replay of a point stream through ``core.run_stream``,
shard by shard.  Untraced it is the output oracle of both KELOS
workloads; traced, it times every call into ``core``'s public functions
(wrapped at module level, so ``run_stream`` and ``window_pipeline`` call
the wrappers) and yields the kernel's self-times."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from kelos_on_kafka_spark import core

OUTLIER_COLS = ["shard", "window_id", "rank", "point_id", "klome", "density"]
OUTLIER_TYPES = ["long", "long", "int", "long", "double", "double"]
OUTLIER_SCHEMA = ", ".join(f"{c} {t}" for c, t in zip(OUTLIER_COLS, OUTLIER_TYPES))

# the ``core.*`` per-layer metrics a workload reports
LAYER_CORE = (
    "core.cluster_pane_s", "core.aggregate_window_s", "core.knn_clusters_s",
    "core.cluster_kde_s", "core.prune_s", "core.point_stage_s",
    "core.window_points", "core.clusters_per_window", "core.candidate_share",
    "core.outliers", "core.replay_rows_per_s",
)

# span name -> core function, in run_stream's call order
TRACED = {
    "cluster_pane": "cluster_pane",
    "aggregate_window": "aggregate_window",
    "carry_from_window": "carry_from_window",
    "window_pipeline": "window_pipeline",
    "knn_clusters": "knn_clusters",
    "cluster_kde": "estimate_cluster_densities",
    "prune": "prune_clusters",
}


def _replay_shard(args):
    shard, ids, ts, X, cfg = args
    results = core.run_stream(
        ids, ts, X,
        pane_seconds=cfg.pane_seconds,
        panes_per_window=cfg.panes_per_window,
        threshold=cfg.distance_threshold,
        k=cfg.k,
        n=cfg.n,
        kernel=cfg.kernel,
    )
    rows = [
        (shard, r.pane_id, o.rank, o.point_id, o.klome, o.density)
        for r in results
        for o in r.outliers
    ]
    panes = np.floor(np.asarray(ts) / cfg.pane_seconds).astype(np.int64)
    per_pane = dict(zip(*np.unique(panes, return_counts=True)))
    window_points = sum(
        per_pane.get(p, 0)
        for r in results
        for p in range(r.pane_id - cfg.panes_per_window + 1, r.pane_id + 1)
    )
    stats = (
        window_points,
        sum(len(r.window_clusters) for r in results),
        sum(len(r.candidate_ids) for r in results),
        len(results),
    )
    return rows, stats


def _split(points: dict, cfg):
    shard = points["shard"]
    return [
        (int(s), points["id"][shard == s], points["ts"][shard == s],
         points["X"][shard == s], cfg)
        for s in np.unique(shard)
    ]


def oracle(points: dict, cfg, processes: int = 1) -> pd.DataFrame:
    """Expected outlier rows of every shard (``OUTLIER_COLS``)."""
    jobs = _split(points, cfg)
    if processes > 1:
        import multiprocessing as mp
        from multiprocessing import resource_tracker

        # spawn, not fork: the calling process runs threads (Py4J's)
        pool = mp.get_context("spawn").Pool(processes)
        try:
            parts = pool.map(_replay_shard, jobs)
        finally:
            pool.close()
            pool.join()
        del pool
        # the pool started a resource-tracker process that would outlive
        # it; stop it and wait for it
        resource_tracker._resource_tracker._stop()
    else:
        parts = [_replay_shard(j) for j in jobs]
    rows = [row for part, _ in parts for row in part]
    return pd.DataFrame(rows, columns=OUTLIER_COLS)


def traced(points: dict, cfg, tracer) -> dict[str, float]:
    """Replay all shards in this process with every core call in a span;
    returns the ``core.*`` per-layer metrics."""
    saved = {name: getattr(core, name) for name in TRACED.values()}
    for span, name in TRACED.items():
        setattr(core, name, tracer.wrap(f"core.{span}", saved[name]))
    totals = np.zeros(4)
    outliers = 0
    cpu0 = time.process_time()
    try:
        with tracer.span("core.replay"):
            for job in _split(points, cfg):
                rows, stats = _replay_shard(job)
                totals += stats
                outliers += len(rows)
    finally:
        for name, fn in saved.items():
            setattr(core, name, fn)
    cpu = time.process_time() - cpu0
    st = tracer.self_times()
    total = tracer.total("core.replay")
    n = len(points["id"])
    window_points, clusters, candidates, windows = totals
    return {
        "core.cluster_pane_s": st.get("core.cluster_pane", 0.0),
        "core.aggregate_window_s": st.get("core.aggregate_window", 0.0)
        + st.get("core.carry_from_window", 0.0),
        "core.knn_clusters_s": st.get("core.knn_clusters", 0.0),
        "core.cluster_kde_s": st.get("core.cluster_kde", 0.0),
        "core.prune_s": st.get("core.prune", 0.0),
        "core.point_stage_s": st.get("core.window_pipeline", 0.0),
        "core.replay_s": total,
        "core.replay_cpu_s": cpu,
        "core.replay_rows_per_s": n / total,
        "core.window_points": window_points / max(windows, 1),
        "core.clusters_per_window": clusters / max(windows, 1),
        "core.candidate_share": candidates / max(window_points, 1),
        "core.outliers": outliers,
    }
