"""Scalar oracles of ``core``'s array-native window kernels.

These are the loops ``core`` ran before its greedy pane clustering, KNN,
cluster KDE, pruning and candidate top-k were made array-native.  They
stay here, and only here, as the reference the property tests of
tests/test_core_kernels.py compare ``core`` against bit for bit.  One
float op differs from the old package code: ``prune_clusters`` squares
with ``x * x`` (what Java's ``Math.pow(x, 2.0)`` gives), where the old
loop's numpy scalar ``** 2`` called libm ``pow`` (SURVEY.md Q11)."""

from typing import Dict, List, Tuple

import numpy as np

from kelos_on_kafka_spark import core


def cluster_pane(
    point_ids: np.ndarray,
    points: np.ndarray,
    carry: dict,
    threshold: float,
    k: int,
) -> Tuple[np.ndarray, dict]:
    """Greedy pane clustering, one centroid row stacked per new cluster
    and min/max folded point by point."""
    point_ids = np.asarray(point_ids, dtype=np.int64)
    points = np.asarray(points, dtype=np.float64)
    order = np.argsort(point_ids, kind="stable")
    point_ids = point_ids[order]
    points = points[order]
    n, d = points.shape if points.size else (0, 0)

    # Seed from carry-over, ascending cluster id.  tempClusters iteration
    # order stays ascending because every new id is max+1 (appended last).
    cids: List[int] = []
    centroids: List[np.ndarray] = []
    sizes: List[int] = []
    linear_sums: List[np.ndarray] = []
    mins: List[np.ndarray] = []
    maxs: List[np.ndarray] = []
    old_sizes: List[int] = []
    old_linear_sums: List[np.ndarray] = []

    for cid in sorted(carry):
        c = carry[cid]
        dd = len(c.centroid)
        cids.append(cid)
        centroids.append(np.array(c.centroid, dtype=np.float64))
        sizes.append(int(c.size))
        linear_sums.append(np.array(c.linear_sums, dtype=np.float64))
        mins.append(np.zeros(dd))  # Q8: zero-initialised (Cluster.java:44-45)
        maxs.append(np.zeros(dd))
        old_sizes.append(int(c.size))
        old_linear_sums.append(np.array(c.linear_sums, dtype=np.float64))

    cent_mat = (
        np.array(centroids, dtype=np.float64) if cids else np.empty((0, d))
    )

    assignments = np.empty(n, dtype=np.int64)

    for i in range(n):
        x = points[i]
        if cent_mat.shape[0]:
            diff = cent_mat - x
            # d < 8 => NumPy sums sequentially, matching Java's dim loop
            # (Cluster.java:86-95).
            dists = np.sqrt((diff * diff).sum(axis=1))
            j = int(np.argmin(dists))  # first minimum == lowest cluster id
            min_dist = float(dists[j])
        else:
            min_dist = np.inf
            j = -1

        if min_dist < threshold:
            # Cluster.addRecord (Cluster.java:112-121)
            sizes[j] += 1
            linear_sums[j] = linear_sums[j] + x
            cent_mat[j] = linear_sums[j] / sizes[j]
            mins[j] = np.minimum(mins[j], x)
            maxs[j] = np.maximum(maxs[j], x)
            assignments[i] = cids[j]
        else:
            new_id = (cids[-1] if cids else 0) + 1
            cids.append(new_id)
            sizes.append(1)
            linear_sums.append(x.copy())
            mins.append(x.copy())
            maxs.append(x.copy())
            old_sizes.append(0)
            old_linear_sums.append(np.zeros(d))
            cent_mat = np.vstack([cent_mat, x[None, :]]) if cent_mat.size else x[None, :].copy()
            assignments[i] = new_id

    # updateMetrics: pane-delta size / linear sums; centroid untouched
    # (Cluster.java:146-152).  Emitted for EVERY temp cluster, including
    # carried ones that received no points this pane (size delta 0).
    pane_clusters: dict = {}
    for idx, cid in enumerate(cids):
        pane_clusters[cid] = core.PaneStats(
            size=sizes[idx] - old_sizes[idx],
            linear_sums=linear_sums[idx] - old_linear_sums[idx],
            mins=mins[idx],
            maxs=maxs[idx],
            centroid=cent_mat[idx].copy(),
        )
    return assignments, pane_clusters


def knn_clusters(window_clusters, k: int) -> None:
    """All-pairs KNN over centroids, one stable argsort per cluster."""
    cids = np.fromiter(window_clusters.keys(), dtype=np.int64)
    c = len(cids)
    if c == 0:
        return
    cent = np.stack([window_clusters[int(i)].centroid for i in cids])
    for idx, cid in enumerate(cids):
        diff = cent - cent[idx]
        dists = np.sqrt((diff * diff).sum(axis=1))
        mask = np.ones(c, dtype=bool)
        mask[idx] = False
        other_ids = cids[mask]
        other_d = dists[mask]
        order = np.argsort(other_d, kind="stable")  # ties -> lower id first
        sel = other_ids[order][:k]
        knn = np.zeros(k, dtype=np.int64)
        knn[: len(sel)] = sel
        window_clusters[int(cid)].knn_ids = knn


def estimate_cluster_densities(window_clusters, kernel_fn=core._kernel_raw):
    """Cluster KDE with neighbour buckets built by a per-cluster dict
    lookup."""
    ids = list(window_clusters.keys())
    if not ids:
        return {}
    pos = {cid: i for i, cid in enumerate(ids)}
    cent_all = np.stack([window_clusters[c].centroid for c in ids])
    sizes_all = np.array([window_clusters[c].size for c in ids], dtype=np.int64)
    mins_all = np.stack([window_clusters[c].mins for c in ids])
    maxs_all = np.stack([window_clusters[c].maxs for c in ids])

    buckets: Dict[int, List[Tuple[int, List[int]]]] = {}
    for row, cid in enumerate(ids):
        nbrs = [pos[int(i)] for i in window_clusters[cid].knn_ids if int(i) in pos]
        if len(nbrs) <= 1:
            continue
        buckets.setdefault(len(nbrs), []).append((row, nbrs))

    density = np.zeros(len(ids))
    min_bound = np.zeros(len(ids))
    max_bound = np.zeros(len(ids))
    survivor_rows = np.zeros(len(ids), dtype=bool)

    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for k, members in buckets.items():
            rows = np.array([m[0] for m in members])
            idxs = np.array([m[1] for m in members])
            ncent = cent_all[idxs]
            nsize = sizes_all[idxs]
            d = cent_all.shape[1]

            total = nsize.sum(axis=1)
            weights = nsize.astype(np.float64) / total[:, None].astype(np.float64)

            mean = np.zeros((len(rows), d))
            for m in range(k):
                mean = mean + ncent[:, m, :] * weights[:, m : m + 1]
            mean = mean / k

            var = np.zeros((len(rows), d))
            for m in range(k):
                diff = ncent[:, m, :] - mean
                var = var + diff * diff * weights[:, m : m + 1]
            std = np.sqrt(var)
            bw = 1.06 * std * np.float64(k) ** (-1.0 / (d + 1))

            own = cent_all[rows]
            radius = np.maximum(own - mins_all[rows], maxs_all[rows] - own)

            dens = np.zeros(len(rows))
            minb = np.zeros(len(rows))
            maxb = np.zeros(len(rows))
            for i in range(k):
                difference = np.abs(own - ncent[:, i, :])
                pk = core._product_cols(kernel_fn(difference, bw))
                min_pk = core._product_cols(kernel_fn(difference + radius, bw))
                max_pk = core._product_cols(
                    kernel_fn(np.maximum(difference - radius, 0.0), bw)
                )
                dens = dens + pk * weights[:, i]
                minb = minb + min_pk * weights[:, i]
                maxb = maxb + max_pk * weights[:, i]
            density[rows] = dens
            min_bound[rows] = minb
            max_bound[rows] = maxb
            survivor_rows[rows] = True

    survivors = {}
    for row, cid in enumerate(ids):
        if not survivor_rows[row]:
            continue
        cl = window_clusters[cid]
        cl.density = float(density[row])
        cl.min_density_bound = float(min_bound[row])
        cl.max_density_bound = float(max_bound[row])
        survivors[cid] = cl
    return survivors


def prune_clusters(survivors, n: int):
    """KLOME bounds one cluster at a time, then the dominance count."""
    ids = list(survivors.keys())
    lows: List[float] = []
    highs: List[float] = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for cid in ids:
            cl = survivors[cid]
            existing = [int(i) for i in cl.knn_ids if int(i) in survivors]
            mean = np.float64(0.0)
            for i in existing:
                mean = mean + survivors[i].density
            mean = mean / np.float64(len(existing))
            var = np.float64(0.0)
            for i in existing:
                dev = np.float64(survivors[i].density) - mean
                var = var + dev * dev
            std = np.sqrt(var)
            lows.append(float((cl.min_density_bound - mean) / std))
            highs.append(float((cl.max_density_bound - mean) / std))

    sizes = np.array([survivors[cid].size for cid in ids], dtype=np.int64)
    low_a = np.array(lows)
    high_a = np.array(highs)
    with np.errstate(invalid="ignore"):
        mask = high_a[:, None] < low_a[None, :]
    counts = (sizes[:, None] * mask).sum(axis=0)
    return {cid: bool(counts[j] < n) for j, cid in enumerate(ids)}


def knn_points_matrix(pids, X, cids, cent, k: int) -> np.ndarray:
    """Candidate -> cluster KNN with a full stable argsort per row."""
    n_cand = len(pids)
    knn = np.zeros((n_cand, k), dtype=np.int64)
    if n_cand == 0 or len(cids) == 0:
        return knn
    k_eff = min(k, len(cids))
    diff = cent[None, :, :] - X[:, None, :]
    dists = np.sqrt((diff * diff).sum(axis=2))
    dists[cids[None, :] == pids[:, None]] = np.inf
    order = np.argsort(dists, axis=1, kind="stable")[:, :k_eff]
    top_d = np.take_along_axis(dists, order, axis=1)
    knn[:, :k_eff] = np.where(np.isfinite(top_d), cids[order], 0)
    return knn
