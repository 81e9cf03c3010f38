"""Pure-NumPy kernel of the KELOS pipeline — the single numeric
implementation shared by the test oracle, the Spark batch engine and the
Spark streaming engine.

Every function replicates the reference Kafka Streams processors
(emanuel-metzenthin/KELOS-on-Kafka) operation-for-operation, including the
numerically load-bearing quirks catalogued in ``SURVEY.md §8`` (Q1-Q10).
Citations below are ``file:line`` into ``/root/reference``.

Float-op ordering: Java accumulates sums with a sequential left-to-right
loop.  NumPy's ``sum`` switches to unrolled/pairwise summation for arrays
of length >= 8, which changes the rounding.  All parity-critical
reductions therefore either (a) loop in Python over the <=K neighbor axis
while vectorizing over the <8-dim feature axis (NumPy is sequential below
8 elements), or (b) are exact-integer math (dominance counts).  Feature
vectors must keep d < 8 for bit-parity (the engine's built-in extractors
produce d=4; the reference's datasets are d=2 and d=3).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterable, List, Optional, Tuple

import numpy as np

DOUBLE_MAX = float(np.finfo(np.float64).max)  # Java Double.MAX_VALUE
_SQRT_2PI = float(np.sqrt(2.0 * np.pi))


# ---------------------------------------------------------------------------
# Data model (reference: Cluster.java:10-22)
# ---------------------------------------------------------------------------


@dataclass
class PaneStats:
    """Per-(pane, cluster) synopsis as forwarded by the clustering stage
    after ``updateMetrics`` (ClusteringProcessorSupplier.java:95-100,
    Cluster.java:146-152).

    ``size``/``linear_sums`` are pane-deltas; ``centroid`` is whatever the
    last ``addRecord`` left behind — for carried clusters that is the mixed
    full-history centroid, NOT the pane centroid (SURVEY.md Q8).  ``mins``/
    ``maxs`` of carried clusters are clamped to include 0 because the
    pane-carry copy-ctor zero-initialises them (Cluster.java:44-45,118-119).
    """

    size: int
    linear_sums: np.ndarray
    mins: np.ndarray
    maxs: np.ndarray
    centroid: np.ndarray


@dataclass
class WindowCluster:
    """Full-window cluster aggregate (AggregationProcessorSupplier.java:63-68
    via Cluster.merge, Cluster.java:123-144)."""

    cluster_id: int
    size: int
    linear_sums: np.ndarray
    centroid: np.ndarray
    mins: np.ndarray
    maxs: np.ndarray
    knn_ids: Optional[np.ndarray] = None  # int64[K], 0-padded (Q5)
    density: float = 0.0
    min_density_bound: float = 0.0
    max_density_bound: float = 0.0


@dataclass
class CarryCluster:
    """What the clustering stage re-seeds from the global store
    (ClusteringProcessorSupplier.java:111-117): the previous window's
    aggregate size / linear sums / centroid."""

    size: int
    linear_sums: np.ndarray
    centroid: np.ndarray


@dataclass
class ShardState:
    """All cross-pane state of one logical shard (the reference keeps the
    equivalent in the TempClusters carry-over + ClusterStates + global
    Clusters stores; single-partition, so the reference has exactly one
    shard)."""

    carry: Dict[int, CarryCluster] = field(default_factory=dict)
    pane_states: Dict[int, List[PaneStats]] = field(default_factory=dict)

    # NOTE on tombstones: the reference never deletes ClusterStates entries;
    # a tombstoned cluster leaves <=3 all-zero pane states behind.  If the
    # id is later reused, the merge path over all-zero stale states is
    # observationally identical to the fresh path (Cluster.merge skips
    # size-0 operands entirely, Cluster.java:123-144), so deleting the
    # entry on tombstone — which we do, to bound state size — is an exact
    # equivalence, not an approximation.


@dataclass
class Outlier:
    rank: int
    point_id: int
    klome: float
    density: float
    features: np.ndarray


@dataclass
class WindowResult:
    """Everything one window emits — top-N outliers plus the intermediate
    tables the reference exposes through its debug topics/CSV consumers
    (assignments, clusters+densities, candidates)."""

    pane_id: int
    outliers: List[Outlier]
    window_clusters: "OrderedMap[int, WindowCluster]"
    flags: Dict[int, bool]  # might_contain_outliers per surviving cluster
    candidate_ids: List[int]


# Plain dict preserves insertion order in py>=3.7; we rely on that plus the
# invariant that insertions happen in ascending-key order (the reference's
# stores are TreeMaps over big-endian-serialized non-negative int keys, so
# iteration is ascending).
OrderedMap = dict


# ---------------------------------------------------------------------------
# Gaussian product kernel (reference: GaussianKernel.java:11-16)
# ---------------------------------------------------------------------------


def _kernel_raw(x, h):
    """Gaussian kernel without errstate management — callers wrap a whole
    stage in one ``np.errstate`` block (the per-call context manager was
    the profiling hotspot)."""
    exp = np.exp(-(x * x) / (2.0 * h * h))
    return exp / (_SQRT_2PI * h)


def gaussian_kernel(x: np.ndarray, h: np.ndarray) -> np.ndarray:
    """``exp(-x²/(2h²)) / (sqrt(2π)·h)`` elementwise.

    h == 0 yields NaN exactly like Java (0/0 after exp underflow or
    exp(NaN)); warnings are suppressed to mirror Java's silent IEEE754.
    Kept for tests: the density oracle of tests/test_core_density.py.
    """
    x = np.asarray(x, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        return _kernel_raw(x, h)


def _epanechnikov_raw(x, h):
    """Epanechnikov kernel ``0.75·(1-(x/h)²)/h`` for |x| <= h, else 0 —
    the compact-support alternative the KELOS paper also admits (the
    reference ships only the Gaussian product kernel,
    GaussianKernel.java:11-16; this is an extension, selected via
    ``KelosConfig.kernel``).  Like the Gaussian it is non-increasing in
    |x|, so the KLOME min/max bound construction (kernel at
    difference ± radius) remains valid unchanged.  h == 0 yields 0
    contribution (the NaN-propagation quirk is Gaussian-parity-specific
    and not replicated here)."""
    u = x / h
    val = 0.75 * (1.0 - u * u) / h
    return np.where(np.abs(u) <= 1.0, val, 0.0)


# Canonical-bandwidth rescaling: the density stages compute Silverman's
# rule-of-thumb bandwidth for a GAUSSIAN kernel (1.06·σ·k^(-1/(d+1)),
# Q3).  Equivalent smoothing under the Epanechnikov kernel needs
# h_E = (δ0(E)/δ0(G))·h_G with δ0(K) = (R(K)/μ2(K)²)^(1/5):
# R(E)=3/5, μ2(E)=1/5, R(G)=1/(2√π), μ2(G)=1 → factor = (30·√π)^(1/5).
# Folding the factor into the registered kernel keeps the shared
# bandwidth computation untouched (measured: without it the compact
# support starves the KDE and Precision@|O| drops 0.75 → 0.66 on the
# HTTP-like protocol, tests/test_effectiveness.py).
_EPAN_BW_FACTOR = float((30.0 * np.sqrt(np.pi)) ** 0.2)


def _epanechnikov_scaled(x, h):
    return _epanechnikov_raw(x, _EPAN_BW_FACTOR * h)


#: Kernel registry for ``KelosConfig.kernel`` / ``window_pipeline``.
KERNELS = {"gaussian": _kernel_raw, "epanechnikov": _epanechnikov_scaled}


# ---------------------------------------------------------------------------
# P1 — greedy pane clustering (ClusteringProcessorSupplier.java:35-124)
# ---------------------------------------------------------------------------


def cluster_pane(
    point_ids: np.ndarray,
    points: np.ndarray,
    carry: Dict[int, CarryCluster],
    threshold: float,
    k: int,
) -> Tuple[np.ndarray, "OrderedMap[int, PaneStats]"]:
    """Greedy sequential micro-clustering of one pane.

    Points are processed in ascending point-id order (the reference's
    ClusteringBuffer is a TreeMap; ClusteringProcessorSupplier.java:87-93).
    For each point the nearest current cluster wins (strict ``<`` over
    ascending-cluster-id iteration => ties go to the lowest id,
    ClusteringProcessorSupplier.java:42-56); below-threshold joins it,
    otherwise a new cluster with id ``max(current ids)+1`` is created
    (ClusteringProcessorSupplier.java:58-74; id 0 is never assigned).

    Carried clusters are seeded from the previous window's aggregates with
    zeroed mins/maxs and the aggregate centroid (Q8;
    ClusteringProcessorSupplier.java:111-117, Cluster.java:39-51).

    Returns ``(assignments, pane_clusters)`` where ``assignments[i]`` is the
    cluster id of ``point_ids_sorted[i]`` and ``pane_clusters`` maps cluster
    id -> pane-delta PaneStats in ascending-id order (the forward order of
    the punctuator loop, ClusteringProcessorSupplier.java:95-103).
    """
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
    pane_clusters: OrderedMap[int, PaneStats] = {}
    for idx, cid in enumerate(cids):
        pane_clusters[cid] = PaneStats(
            size=sizes[idx] - old_sizes[idx],
            linear_sums=linear_sums[idx] - old_linear_sums[idx],
            mins=mins[idx],
            maxs=maxs[idx],
            centroid=cent_mat[idx].copy(),
        )
    return assignments, pane_clusters


# ---------------------------------------------------------------------------
# P2 — sliding-window synthesis (AggregationProcessorSupplier.java:34-82)
# ---------------------------------------------------------------------------


def _merge(acc: Optional[WindowCluster], pane: PaneStats, cid: int) -> Optional[WindowCluster]:
    """Cluster.merge fold step (Cluster.java:123-144): size-0 accumulator
    copies the operand wholesale (even a size-0 operand); size-0 operands
    are otherwise skipped."""
    if acc is None or acc.size == 0:
        return WindowCluster(
            cluster_id=cid,
            size=pane.size,
            linear_sums=pane.linear_sums.copy(),
            centroid=pane.centroid.copy(),
            mins=pane.mins.copy(),
            maxs=pane.maxs.copy(),
        )
    if pane.size != 0:
        acc.size += pane.size
        acc.linear_sums = acc.linear_sums + pane.linear_sums
        acc.centroid = acc.linear_sums / acc.size
        acc.mins = np.minimum(acc.mins, pane.mins)
        acc.maxs = np.maximum(acc.maxs, pane.maxs)
    return acc


def aggregate_window(
    state: ShardState,
    pane_clusters: "OrderedMap[int, PaneStats]",
    max_panes: int,
) -> "OrderedMap[int, WindowCluster]":
    """Merge the new pane with the last <=max_panes-1 retained pane states
    per cluster; evict the oldest; tombstone clusters whose window
    aggregate is empty (AggregationProcessorSupplier.java:34-82).

    Merge order (Q9): new pane first, then previous panes oldest->newest
    (AggregationProcessorSupplier.java:63-68).  First-ever non-empty pane
    of a cluster is forwarded as-is (:45-53).

    Mutates ``state.pane_states`` and returns the emitted window aggregates
    in forward (ascending cluster id) order; tombstoned ids are removed
    from state (exactly equivalent to the reference, see ShardState note).
    """
    emitted: OrderedMap[int, WindowCluster] = {}
    for cid, pane in pane_clusters.items():
        prev = state.pane_states.get(cid)
        if not prev:
            if pane.size > 0:
                state.pane_states[cid] = [pane]
                emitted[cid] = WindowCluster(
                    cluster_id=cid,
                    size=pane.size,
                    linear_sums=pane.linear_sums.copy(),
                    centroid=pane.centroid.copy(),
                    mins=pane.mins.copy(),
                    maxs=pane.maxs.copy(),
                )
            # size==0 with no history: dropped entirely (:46 guard)
            continue
        if len(prev) >= max_panes:
            prev.pop(0)  # evict oldest (:58-60)
        acc: Optional[WindowCluster] = _merge(None, pane, cid)
        for old in prev:
            acc = _merge(acc, old, cid)
        prev.append(pane)
        if acc.size == 0:
            # tombstone: deletes from global store => drops out of carry
            del state.pane_states[cid]
        else:
            emitted[cid] = acc
    return emitted


def carry_from_window(window_clusters: "OrderedMap[int, WindowCluster]") -> Dict[int, CarryCluster]:
    """The global Clusters store after a pane == exactly the aggregates
    emitted for that pane (every store entry is re-seeded and re-emitted
    each pane; Main.java:53-64, ClusteringProcessorSupplier.java:111-117).

    Deviation Q7 (documented, deterministic-by-construction): the reference
    populates the global store asynchronously via the clusters topic; we
    define carry-over as the fully-caught-up store.
    """
    return {
        cid: CarryCluster(
            size=wc.size,
            linear_sums=wc.linear_sums.copy(),
            centroid=wc.centroid.copy(),
        )
        for cid, wc in window_clusters.items()
    }


# ---------------------------------------------------------------------------
# P3 — K-nearest clusters (KNearestClusterProcessorSupplier.java:29-51,
#       Cluster.java:154-191)
# ---------------------------------------------------------------------------


def knn_clusters(window_clusters: "OrderedMap[int, WindowCluster]", k: int) -> None:
    """All-pairs Euclidean KNN over cluster centroids; fills
    ``knn_ids`` in-place: the K nearest other clusters sorted by
    (distance, id) — Java's List.sort is stable over ascending-id
    insertion, pinning the tie order — zero-padded when fewer than K
    neighbors exist (Q5, Cluster.java:30)."""
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


# ---------------------------------------------------------------------------
# P4 — cluster-level KDE (DensityEstimationProcessorSupplier.java:41-132)
# ---------------------------------------------------------------------------


def estimate_cluster_densities(
    window_clusters: "OrderedMap[int, WindowCluster]",
    kernel_fn=_kernel_raw,
) -> "OrderedMap[int, WindowCluster]":
    """KDE density + min/max bounds at each cluster's centroid from its KNN
    clusters.  Clusters with <=1 existing neighbors are dropped (never
    forwarded; :49-51).  Quirks: weighted mean divided by k again (Q1,
    :76), bandwidth ``1.06·σ·k^(-1/(d+1))`` (Q3, :101).

    Vectorized across clusters, bucketed by effective neighbor count k';
    within a bucket every float op is elementwise, so the per-cluster
    operation sequence is identical to the reference's scalar loops.

    Returns the surviving clusters (same objects, densities filled) in
    iteration order.
    """
    ids = list(window_clusters.keys())
    if not ids:
        return {}
    pos = {cid: i for i, cid in enumerate(ids)}
    cent_all = np.stack([window_clusters[c].centroid for c in ids])
    sizes_all = np.array([window_clusters[c].size for c in ids], dtype=np.int64)
    mins_all = np.stack([window_clusters[c].mins for c in ids])
    maxs_all = np.stack([window_clusters[c].maxs for c in ids])

    # resolve neighbor positions (id 0 / dropped ids absent -> skipped)
    buckets: Dict[int, List[Tuple[int, List[int]]]] = {}
    for row, cid in enumerate(ids):
        nbrs = [
            pos[int(i)]
            for i in window_clusters[cid].knn_ids
            if int(i) in pos
        ]
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
            idxs = np.array([m[1] for m in members])  # (B, k)
            ncent = cent_all[idxs]  # (B, k, d)
            nsize = sizes_all[idxs]  # (B, k)
            d = cent_all.shape[1]

            total = nsize.sum(axis=1)  # exact int
            weights = nsize.astype(np.float64) / total[:, None].astype(np.float64)

            mean = np.zeros((len(rows), d))
            for m in range(k):
                mean = mean + ncent[:, m, :] * weights[:, m : m + 1]
            mean = mean / k  # Q1

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
                pk = _product_cols(kernel_fn(difference, bw))
                min_pk = _product_cols(kernel_fn(difference + radius, bw))
                max_pk = _product_cols(
                    kernel_fn(np.maximum(difference - radius, 0.0), bw)
                )
                dens = dens + pk * weights[:, i]
                minb = minb + min_pk * weights[:, i]
                maxb = maxb + max_pk * weights[:, i]
            density[rows] = dens
            min_bound[rows] = minb
            max_bound[rows] = maxb
            survivor_rows[rows] = True

    survivors: OrderedMap[int, WindowCluster] = {}
    for row, cid in enumerate(ids):
        if not survivor_rows[row]:
            continue
        cl = window_clusters[cid]
        cl.density = float(density[row])
        cl.min_density_bound = float(min_bound[row])
        cl.max_density_bound = float(max_bound[row])
        survivors[cid] = cl
    return survivors


def _product_cols(values: np.ndarray) -> np.ndarray:
    """Sequential left-to-right product over the last axis starting at 1.0
    (Java's ``productKernel *=`` dim loop), vectorized over rows."""
    if values.ndim == 1:
        acc = np.float64(1.0)
        for v in values:
            acc = acc * v
        return acc
    acc = np.ones(values.shape[0])
    for j in range(values.shape[1]):
        acc = acc * values[:, j]
    return acc


# ---------------------------------------------------------------------------
# P5 — KLOME bounds + dominance pruning (PruningProcessorSupplier.java:37-109)
# ---------------------------------------------------------------------------


def prune_clusters(
    survivors: "OrderedMap[int, WindowCluster]", n: int
) -> "OrderedMap[int, bool]":
    """Per cluster: klome_low/high = (min/max density bound - mean of
    existing-KNN densities) / sqrt(Σ(dens-mean)²) — note NO /count in the
    'stddev' (Q2, :58-62) and 0/0 -> NaN when no KNN exists.  Then the
    dominance count: cluster j survives iff the total size of clusters i
    with high_i < low_j stays below N (:74-96; NaN comparisons are false,
    so NaN-klome clusters are always kept).

    Returns {cluster_id: might_contain_outliers} in forward order.
    """
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
            mean = mean / np.float64(len(existing))  # 0/0 -> NaN
            var = np.float64(0.0)
            for i in existing:
                var = var + (np.float64(survivors[i].density) - mean) ** 2
            std = np.sqrt(var)
            lows.append(float((cl.min_density_bound - mean) / std))
            highs.append(float((cl.max_density_bound - mean) / std))

    sizes = np.array([survivors[cid].size for cid in ids], dtype=np.int64)
    low_a = np.array(lows)
    high_a = np.array(highs)
    # counts[j] = Σ size_i over i with high_i < low_j  (exact int math)
    with np.errstate(invalid="ignore"):
        mask = high_a[:, None] < low_a[None, :]
    counts = (sizes[:, None] * mask).sum(axis=0)
    return {cid: bool(counts[j] < n) for j, cid in enumerate(ids)}


# ---------------------------------------------------------------------------
# P6 — candidate filter (FilterProcessorSupplier.java:39-76)
# ---------------------------------------------------------------------------


def flagged_candidates(
    flags: "OrderedMap[int, bool]",
    point_ids: np.ndarray,
    point_cluster_ids: np.ndarray,
    point_features: np.ndarray,
) -> Tuple[np.ndarray, np.ndarray]:
    """Semi-join: points of the window whose assigned cluster is flagged
    might_contain_outliers become single-point candidate 'clusters'
    (:45-59).  Points whose cluster was dropped upstream (<=1 KNN) or
    tombstoned are silently skipped (null store lookup).

    Returns (point ids, features) in ascending point-id order (downstream
    stores are TreeMaps, so only the set matters)."""
    pids = np.asarray(point_ids, dtype=np.int64)
    cids = np.asarray(point_cluster_ids, dtype=np.int64)
    flagged = np.array(
        sorted(c for c, f in flags.items() if f), dtype=np.int64
    )
    sel = np.isin(cids, flagged)
    cand_pids = pids[sel]
    cand_X = np.asarray(point_features, dtype=np.float64)[sel]
    order = np.argsort(cand_pids, kind="stable")
    return cand_pids[order], (cand_X[order] if cand_X.size else cand_X)


# ---------------------------------------------------------------------------
# P7-P9 — K-nearest clusters per candidate point, point-level KDE, KLOME
#       scoring + top-N (KNearestPointsProcessorSupplier.java:35-71,
#       PointDensityEstimationProcessorSupplier.java:41-136,
#       PointPruningProcessorSupplier.java:41-106)
# ---------------------------------------------------------------------------


def _knn_points_matrix(
    pids: np.ndarray,
    X: np.ndarray,
    cids: np.ndarray,
    cent: np.ndarray,
    k: int,
) -> np.ndarray:
    """Vectorized candidate->cluster KNN: returns an (n_cand, k) int64
    matrix of neighbor cluster ids, zero-padded (Q5).  A cluster whose id
    equals the candidate's point id is excluded (ownIndex, Q6) by setting
    its distance to +inf — it then sorts last and is masked to padding."""
    n_cand = len(pids)
    knn = np.zeros((n_cand, k), dtype=np.int64)
    if n_cand == 0 or len(cids) == 0:
        return knn
    k_eff = min(k, len(cids))
    chunk = max(1, 4_000_000 // max(len(cids), 1))
    for s in range(0, n_cand, chunk):
        e = min(s + chunk, n_cand)
        diff = cent[None, :, :] - X[s:e, None, :]
        dists = np.sqrt((diff * diff).sum(axis=2))  # (B, C)
        excl = cids[None, :] == pids[s:e, None]
        dists[excl] = np.inf
        order = np.argsort(dists, axis=1, kind="stable")[:, :k_eff]
        top_d = np.take_along_axis(dists, order, axis=1)
        knn[s:e, :k_eff] = np.where(np.isfinite(top_d), cids[order], 0)
    return knn


def _resolve(keys_sorted: np.ndarray, id_matrix: np.ndarray):
    """Resolve raw knn-id matrices against a sorted unique key table:
    returns (positions clipped, found mask).  Duplicate ids (incl. the
    0 padding, Q5) resolve repeatedly, exactly like the reference's
    repeated store.get() loop."""
    m = len(keys_sorted)
    if m == 0 or id_matrix.size == 0:
        return (
            np.zeros_like(id_matrix),
            np.zeros(id_matrix.shape, dtype=bool),
        )
    pos = np.searchsorted(keys_sorted, id_matrix)
    posc = np.clip(pos, 0, m - 1)
    found = keys_sorted[posc] == id_matrix
    return posc, found


def _point_densities(
    keys: np.ndarray,
    cent_table: np.ndarray,
    cand_rows: np.ndarray,
    knn_matrix: np.ndarray,
    kernel_fn=_kernel_raw,
):
    """Stage-1 point KDE (P8): density per candidate from its resolved
    mixed-store neighbors with uniform weights 1/k and the /k² mean (Q2);
    candidates with <=1 resolved neighbors are dropped (:62-64).

    Returns (densities (B,), keep mask (B,)); bucketed by resolved
    neighbor count so every float op keeps the reference's scalar-loop
    ordering."""
    posc, found = _resolve(keys, knn_matrix)
    counts = found.sum(axis=1)
    b = len(cand_rows)
    dens_out = np.zeros(b)
    keep = counts > 1
    d = cent_table.shape[1] if cent_table.size else 0
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for kk in np.unique(counts[keep]):
            sel = counts == kk
            nbr = posc[sel][found[sel]].reshape(-1, int(kk))  # (B', kk)
            ncent = cent_table[nbr]
            w = np.float64(1.0) / int(kk)
            mean = np.zeros((nbr.shape[0], d))
            for m in range(int(kk)):
                mean = mean + ncent[:, m, :] * w
            mean = mean / int(kk)  # Q2: Σc/k²
            var = np.zeros((nbr.shape[0], d))
            for m in range(int(kk)):
                diff = ncent[:, m, :] - mean
                var = var + diff * diff * w
            std = np.sqrt(var)
            bw = 1.06 * std * np.float64(int(kk)) ** (-1.0 / (d + 1))
            own = cent_table[cand_rows[sel]]
            dens = np.zeros(nbr.shape[0])
            for i in range(int(kk)):
                difference = np.abs(own - ncent[:, i, :])
                dens = dens + _product_cols(kernel_fn(difference, bw)) * w
            dens_out[sel] = dens
    return dens_out, keep


def _klome_scores(
    dens_table: np.ndarray,
    own_dens: np.ndarray,
    posc: np.ndarray,
    found: np.ndarray,
) -> np.ndarray:
    """Stage-2 KLOME (P9): (density - mean(knn dens)) / sqrt(Σ(x-mean)²)
    with no /n (Q2); Double.MAX_VALUE when the 'stddev' is 0, including
    the empty-lookup case (mean 0/0 -> NaN but var loop never runs)."""
    counts = found.sum(axis=1)
    klome = np.empty(len(own_dens))
    with np.errstate(divide="ignore", invalid="ignore"):
        for kk in np.unique(counts):
            sel = counts == kk
            if kk == 0:
                klome[sel] = DOUBLE_MAX
                continue
            nbr = posc[sel][found[sel]].reshape(-1, int(kk))
            nd = dens_table[nbr]
            mean = np.zeros(nbr.shape[0])
            for m in range(int(kk)):
                mean = mean + nd[:, m]
            mean = mean / np.float64(int(kk))
            var = np.zeros(nbr.shape[0])
            for m in range(int(kk)):
                var = var + (nd[:, m] - mean) ** 2
            std = np.sqrt(var)
            ratio = (own_dens[sel] - mean) / std
            klome[sel] = np.where(std == 0.0, DOUBLE_MAX, ratio)
    return klome


def _topn(
    pids: np.ndarray,
    klome: np.ndarray,
    dens: np.ndarray,
    feats: np.ndarray,
    n: int,
) -> List[Outlier]:
    """Top-N lowest KLOME; ties broken by (klome, point_id) ascending
    (documented deviation Q10); NaN sorts last (Java Double.compareTo)."""
    if len(pids) == 0:
        return []
    nan_mask = np.isnan(klome)
    sort_key = np.where(nan_mask, 0.0, klome)
    order = np.lexsort((pids, sort_key, nan_mask.astype(np.int8)))[:n]
    return [
        Outlier(
            rank=r + 1,
            point_id=int(pids[i]),
            klome=float(klome[i]),
            density=float(dens[i]),
            features=np.array(feats[i], dtype=np.float64),
        )
        for r, i in enumerate(order)
    ]


def _point_stage(
    cand_pids: np.ndarray,
    cand_X: np.ndarray,
    surv_cids: np.ndarray,
    surv_cent: np.ndarray,
    surv_dens: np.ndarray,
    k: int,
    n: int,
    kernel_fn=_kernel_raw,
) -> List[Outlier]:
    """P7+P8+P9 fused, array-native: candidate KNN -> mixed-store point
    KDE -> KLOME top-N.  The mixed store (PointDensityBuffer,
    PointsWithDensities) holds candidates keyed by point id and clusters
    by cluster id in ONE map: on an id collision the cluster wins (Q6),
    and padded knn id 0 can resolve to candidate point 0 (Q5)."""
    if len(cand_pids) == 0:
        return []
    knn = _knn_points_matrix(cand_pids, cand_X, surv_cids, surv_cent, k)

    # PointDensityBuffer: union of candidate/cluster keys, cluster wins
    # on collision (Q6: clusters are put after candidates)
    keys = np.union1d(cand_pids, surv_cids)
    m = len(keys)
    d = cand_X.shape[1]
    cent_table = np.zeros((m, d))
    dens_table = np.zeros(m)
    is_cluster = np.zeros(m, dtype=bool)
    cpos = np.searchsorted(keys, cand_pids)
    cent_table[cpos] = cand_X
    if len(surv_cids):
        spos = np.searchsorted(keys, surv_cids)
        cent_table[spos] = surv_cent
        dens_table[spos] = surv_dens
        is_cluster[spos] = True

    cand_mask = ~is_cluster[cpos]  # collided candidates are gone (Q6)
    act_rows = cpos[cand_mask]
    act_knn = knn[cand_mask]
    act_pids = cand_pids[cand_mask]
    act_X = cand_X[cand_mask]

    dens_cand, keep = _point_densities(
        keys, cent_table, act_rows, act_knn, kernel_fn
    )

    # PointsWithDensities: dropped candidates vanish from the table
    keep_key = np.ones(m, dtype=bool)
    keep_key[act_rows[~keep]] = False
    keys2 = keys[keep_key]
    dens_table[act_rows] = dens_cand
    dens2 = dens_table[keep_key]

    act2_knn = act_knn[keep]
    act2_pids = act_pids[keep]
    act2_dens = dens_cand[keep]
    act2_X = act_X[keep]
    posc2, found2 = _resolve(keys2, act2_knn)
    klome = _klome_scores(dens2, act2_dens, posc2, found2)
    return _topn(act2_pids, klome, act2_dens, act2_X, n)


# ---------------------------------------------------------------------------
# Whole-window pipeline (P3..P9) — pure function of the window's clusters
# and point assignments; this is what the Spark engine fans out per window.
# ---------------------------------------------------------------------------


def window_pipeline(
    window_clusters: "OrderedMap[int, WindowCluster]",
    point_ids: np.ndarray,
    point_cluster_ids: np.ndarray,
    point_features: np.ndarray,
    k: int,
    n: int,
    kernel: str = "gaussian",
) -> Tuple[List[Outlier], "OrderedMap[int, bool]", List[int]]:
    """Run KNN -> KDE -> pruning -> filter -> point KNN -> point KDE ->
    top-N for one closed window.  Returns (outliers, flags, candidate_ids).

    ``kernel`` selects the KDE kernel (``KERNELS``): 'gaussian' is the
    reference-parity default; 'epanechnikov' is the compact-support
    extension (same bound construction, see ``_epanechnikov_raw``).
    """
    knn_clusters(window_clusters, k)
    survivors = estimate_cluster_densities(window_clusters, KERNELS[kernel])
    flags = prune_clusters(survivors, n)
    cand_pids, cand_X = flagged_candidates(
        flags, point_ids, point_cluster_ids, point_features
    )

    surv_cids = np.fromiter(survivors.keys(), dtype=np.int64, count=len(survivors))
    if len(surv_cids):
        surv_cent = np.stack([survivors[int(c)].centroid for c in surv_cids])
        surv_dens = np.array([survivors[int(c)].density for c in surv_cids])
    else:
        surv_cent = np.empty((0, cand_X.shape[1] if cand_X.size else 0))
        surv_dens = np.empty(0)

    outliers = _point_stage(
        cand_pids, cand_X, surv_cids, surv_cent, surv_dens, k, n,
        KERNELS[kernel],
    )
    return outliers, flags, [int(p) for p in cand_pids]


# ---------------------------------------------------------------------------
# Pane close — the one pane-close state machine (cluster -> window
# synthesis -> carry -> ring -> window pipeline) every engine calls
# ---------------------------------------------------------------------------


def window_points(
    ring: List[Tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A window's points as ``(ids, cluster ids, features)``: the
    ``(ids, assignments, X)`` of the ring's panes, oldest first."""
    w_ids = np.concatenate([r[0] for r in ring])
    w_cids = np.concatenate([r[1] for r in ring])
    # an empty pane's features may be (0, 0)-shaped: leave them out
    populated = [r[2] for r in ring if len(r[0])]
    w_X = np.concatenate(populated) if populated else np.empty((0, 0))
    return w_ids, w_cids, w_X


def close_pane(
    state: ShardState,
    ring: List[Tuple[np.ndarray, np.ndarray, np.ndarray]],
    pane: int,
    ids: np.ndarray,
    X: np.ndarray,
    threshold: float,
    k: int,
    n: int,
    panes_per_window: int,
    kernel: str = "gaussian",
) -> Tuple[WindowResult, int]:
    """Close one pane of a shard: greedy clustering against the carried
    clusters, sliding-window synthesis and carry-over update, then the
    window pipeline over the ring of the last ``panes_per_window``
    panes' ``(ids, assignments, X)`` — the Filter stage's window store
    (retention = panes_per_window panes, Main.java:142-148).  The pane's
    entry, last in the ring, has its points sorted by id, the order of
    its assignments.  Mutates ``state`` and ``ring``; returns the
    window's result and its point count."""
    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]
    assignments, pane_clusters = cluster_pane(
        ids, X, state.carry, threshold, k
    )
    window_clusters = aggregate_window(state, pane_clusters, panes_per_window)
    state.carry = carry_from_window(window_clusters)
    ring.append((ids, assignments, X))
    if len(ring) > panes_per_window:
        ring.pop(0)
    w_ids, w_cids, w_X = window_points(ring)
    outliers, flags, cand_ids = window_pipeline(
        window_clusters, w_ids, w_cids, w_X, k, n, kernel
    )
    result = WindowResult(
        pane_id=pane,
        outliers=outliers,
        window_clusters=window_clusters,
        flags=flags,
        candidate_ids=cand_ids,
    )
    return result, len(w_ids)


class PaneSequence:
    """One shard's panes in stream-time order: the cross-pane state, the
    ring ``close_pane`` keeps, and the points of panes not closed yet.

    Panes close in order from the shard's first buffered pane, empty gap
    panes too (the reference's catch-up punctuation, SURVEY.md §3.1),
    except a stretch of empty panes while the sequence is ``quiet``:
    with no carry there are no pane states either, so closing an empty
    pane then only adds an empty ring entry, which no later window sees.
    The streaming engine keeps one pickled sequence per shard as its
    state; the batch walkers keep one per shard of their sorted input."""

    __slots__ = ("algo", "ring", "pending", "last_closed")

    def __init__(self) -> None:
        self.algo = ShardState()
        self.ring: List[Tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        self.pending: Dict[int, Tuple[List[np.ndarray], List[np.ndarray]]] = {}
        self.last_closed: Optional[int] = None

    def add(self, pane: int, ids: np.ndarray, X: np.ndarray) -> None:
        """Buffer points of a pane that is not closed yet; a pane at or
        below ``last_closed`` raises, as its points would never close."""
        if self.last_closed is not None and pane <= self.last_closed:
            raise ValueError(
                f"pane {pane} is already closed (last closed: {self.last_closed})"
            )
        ids_l, X_l = self.pending.setdefault(int(pane), ([], []))
        ids_l.append(ids)
        X_l.append(X)

    def quiet(self) -> bool:
        """True when closing an empty pane is a provable no-op: no live
        clusters to carry or tombstone, no points left in the ring."""
        return not self.algo.carry and not any(len(r[0]) for r in self.ring)

    def close_before(self, bound: int, close: Callable[..., Any]) -> list:
        """Close every pane below ``bound`` that is not closed yet, in
        order, through ``close(algo, ring, pane, ids, X)``, which calls
        ``close_pane``; returns its results."""
        if self.last_closed is None:
            self.last_closed = min(self.pending, default=bound) - 1
        out = []
        pane = self.last_closed + 1
        while pane < bound:
            nxt = min(self.pending, default=bound)
            if pane < nxt and self.quiet():
                pane = min(nxt, bound)
                continue
            ids_l, X_l = self.pending.pop(pane, ([], []))
            ids = np.concatenate(ids_l) if ids_l else np.empty(0, dtype=np.int64)
            X = np.concatenate(X_l) if X_l else np.empty((0, 0))
            out.append(close(self.algo, self.ring, pane, ids, X))
            pane += 1
        self.last_closed = pane - 1
        return out


# ---------------------------------------------------------------------------
# Streaming oracle — the full reference topology over a bounded stream
# ---------------------------------------------------------------------------


def run_stream(
    point_ids: Iterable[int],
    timestamps: Iterable[float],
    features: np.ndarray,
    pane_seconds: float = 10.0,
    panes_per_window: int = 3,
    threshold: float = 0.25,
    k: int = 20,
    n: int = 100,
    kernel: str = "gaussian",
) -> List[WindowResult]:
    """Golden oracle: run the whole KELOS dataflow pane by pane.

    Pane membership: ``pane_id = floor(ts / pane_seconds)`` (epoch-aligned;
    equivalent to the reference's stream-time punctuation for pane-aligned
    in-order inputs — see SURVEY.md §3.2).  Every pane in
    [min_pane, max_pane] closes, including empty ones (Kafka catch-up
    punctuation), and each close emits one sliding-window result.
    """
    pid_a = np.asarray(list(point_ids), dtype=np.int64)
    ts_a = np.asarray(list(timestamps), dtype=np.float64)
    feat_a = np.asarray(features, dtype=np.float64)
    pane_ids = np.floor(ts_a / pane_seconds).astype(np.int64)
    if len(pid_a) == 0:
        return []

    state = ShardState()
    ring: List[Tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    results: List[WindowResult] = []
    for pane in range(int(pane_ids.min()), int(pane_ids.max()) + 1):
        sel = pane_ids == pane
        result, _ = close_pane(
            state, ring, pane, pid_a[sel], feat_a[sel],
            threshold, k, n, panes_per_window, kernel,
        )
        results.append(result)
    return results
