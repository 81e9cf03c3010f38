"""Pure-NumPy kernel of the KELOS pipeline — the single numeric
implementation shared by the test oracle, the Spark batch engine and the
Spark streaming engine.

Every function replicates the reference Kafka Streams processors
(emanuel-metzenthin/KELOS-on-Kafka) operation-for-operation, including the
numerically load-bearing quirks catalogued in ``SURVEY.md §8`` (Q1-Q11).
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
    n = len(points) if points.size else 0
    carried = sorted(carry)
    m = len(carried)
    d = points.shape[1] if n else (len(carry[carried[0]].centroid) if m else 0)

    # One row per cluster, carried ones first in ascending id; a new
    # cluster takes the next row.  tempClusters iteration order stays
    # ascending because every new id is max+1 (appended last).
    cids: List[int] = carried.copy()
    sizes: List[int] = [int(carry[c].size) for c in carried]
    cent = np.empty((m + n, d))
    linear_sums = np.empty((m + n, d))
    old_linear_sums = np.zeros((m + n, d))
    if m:
        cent[:m] = [carry[c].centroid for c in carried]
        linear_sums[:m] = [carry[c].linear_sums for c in carried]
        old_linear_sums[:m] = linear_sums[:m]
    old_sizes = sizes + [0] * n
    first = np.zeros(m + n, dtype=np.int64)  # a new cluster's first point

    assignments = np.empty(n, dtype=np.int64)
    rows = np.empty(n, dtype=np.int64)

    for i in range(n):
        x = points[i]
        if m:
            diff = cent[:m] - x
            # d < 8 => NumPy sums sequentially, matching Java's dim loop
            # (Cluster.java:86-95).
            dists = np.sqrt((diff * diff).sum(axis=1))
            j = int(dists.argmin())  # first minimum == lowest cluster id
            join = dists[j] < threshold
        else:
            join = False

        if join:
            # Cluster.addRecord (Cluster.java:112-121); min/max below
            sizes[j] += 1
            lsj = linear_sums[j]
            np.add(lsj, x, out=lsj)
            np.divide(lsj, sizes[j], out=cent[j])
        else:
            j = m
            cids.append((cids[-1] if cids else 0) + 1)
            sizes.append(1)
            linear_sums[j] = x
            cent[j] = x
            first[j] = i
            m += 1
        rows[i] = j
        assignments[i] = cids[j]

    # Per-cluster min/max: they never steer the assignment, so fold them
    # after the loop, in point order.  Carried clusters start at 0 (Q8,
    # Cluster.java:44-45), new ones at their first point.
    mins = np.zeros((m, d))
    maxs = np.zeros((m, d))
    if n:
        new = np.arange(len(carried), m)
        mins[new] = maxs[new] = points[first[new]]
        np.minimum.at(mins, rows, points)
        np.maximum.at(maxs, rows, points)

    # updateMetrics: pane-delta size / linear sums; centroid untouched
    # (Cluster.java:146-152).  Emitted for EVERY temp cluster, including
    # carried ones that received no points this pane (size delta 0).
    delta = linear_sums[:m] - old_linear_sums[:m]
    return assignments, {
        cid: PaneStats(
            size=sizes[j] - old_sizes[j],
            linear_sums=delta[j],
            mins=mins[j],
            maxs=maxs[j],
            centroid=cent[j],
        )
        for j, cid in enumerate(cids)
    }


# ---------------------------------------------------------------------------
# P2 — sliding-window synthesis (AggregationProcessorSupplier.java:34-82)
# ---------------------------------------------------------------------------


def _merge(acc: Optional[WindowCluster], pane: PaneStats, cid: int) -> Optional[WindowCluster]:
    """Cluster.merge fold step (Cluster.java:123-144): size-0 accumulator
    copies the operand wholesale (even a size-0 operand); size-0 operands
    are otherwise skipped.  Arrays are shared, never written in place: a
    merge binds new ones."""
    if acc is None or acc.size == 0:
        return WindowCluster(
            cluster_id=cid,
            size=pane.size,
            linear_sums=pane.linear_sums,
            centroid=pane.centroid,
            mins=pane.mins,
            maxs=pane.maxs,
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
    pane_states = state.pane_states
    for cid, pane in pane_clusters.items():
        prev = pane_states.get(cid)
        if not prev:
            if pane.size > 0:
                pane_states[cid] = [pane]
                emitted[cid] = _merge(None, pane, cid)
            # size==0 with no history: dropped entirely (:46 guard)
            continue
        if len(prev) >= max_panes:
            del prev[0]  # evict oldest (:58-60)
        acc = _merge(None, pane, cid)
        for old in prev:
            acc = _merge(acc, old, cid)
        prev.append(pane)
        if acc.size == 0:
            # tombstone: deletes from global store => drops out of carry
            del pane_states[cid]
        else:
            emitted[cid] = acc
    return emitted


def carry_from_window(window_clusters: "OrderedMap[int, WindowCluster]") -> Dict[int, CarryCluster]:
    """The global Clusters store after a pane == exactly the aggregates
    emitted for that pane (every store entry is re-seeded and re-emitted
    each pane; Main.java:53-64, ClusteringProcessorSupplier.java:111-117).
    It shares the aggregates' arrays: ``cluster_pane`` copies what it
    seeds from.

    Deviation Q7 (documented, deterministic-by-construction): the reference
    populates the global store asynchronously via the clusters topic; we
    define carry-over as the fully-caught-up store.
    """
    return {
        cid: CarryCluster(size=wc.size, linear_sums=wc.linear_sums, centroid=wc.centroid)
        for cid, wc in window_clusters.items()
    }


# ---------------------------------------------------------------------------
# P3 — K-nearest clusters (KNearestClusterProcessorSupplier.java:29-51,
#       Cluster.java:154-191)
# ---------------------------------------------------------------------------

# Rows of a distance matrix per chunk: a chunk holds at most this many
# (row, column) cells.
_CHUNK_CELLS = 4_000_000


def _distances(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(len(A), len(B)) Euclidean distances from A's rows to B's rows:
    ``np.sqrt(((B[None] - A[:, None]) ** 2).sum(axis=2))`` bit for bit,
    one feature column at a time.  With d < 8 NumPy sums the feature
    axis left to right, which is the order of this loop and of Java's
    dim loop (Cluster.java:86-95)."""
    acc = np.zeros((len(A), len(B)))
    for j in range(A.shape[1]):
        t = B[None, :, j] - A[:, None, j]
        t *= t
        acc = t if j == 0 else np.add(acc, t, out=acc)
    return np.sqrt(acc, out=acc)


def _topk_stable(dists: np.ndarray, k: int) -> np.ndarray:
    """Column indices of each row's ``k`` smallest entries, ordered by
    (value, column): ``np.argsort(dists, axis=1, kind="stable")[:, :k]``
    without a stable sort of whole rows.  A row whose k-th and
    (k+1)-th smallest values differ has exactly k entries at or below
    its k-th value; they are ordered by a stable sort of their values,
    taken in column order.  Any other row (a tie across the cut, a NaN
    among its k+1 smallest) is sorted in full."""
    rows, cols = dists.shape
    if k >= cols:
        return np.argsort(dists, axis=1, kind="stable")
    if k <= 0:
        return np.empty((rows, 0), dtype=np.intp)
    srt = np.sort(dists, axis=1)
    kth = srt[:, k - 1]
    with np.errstate(invalid="ignore"):
        exact = srt[:, k] > kth
    if exact.all():
        ok, sub = slice(None), dists
    else:
        ok = np.flatnonzero(exact)
        sub = dists[ok]
    out = np.empty((rows, k), dtype=np.intp)
    sel = (np.flatnonzero(sub <= kth[ok, None]) % cols).reshape(-1, k)
    vals = np.take_along_axis(sub, sel, axis=1)
    out[ok] = np.take_along_axis(sel, np.argsort(vals, axis=1, kind="stable"), axis=1)
    if not isinstance(ok, slice):
        redo = ~exact
        out[redo] = np.argsort(dists[redo], axis=1, kind="stable")[:, :k]
    return out


def _knn_cluster_matrix(cids: np.ndarray, cent: np.ndarray, k: int) -> np.ndarray:
    """(C, k) ids of each cluster's k nearest other clusters by (distance,
    position), 0-padded (Q5).  Positions are the ascending-id insertion
    order, so ties go to the lower id, as Java's stable List.sort over
    that order does.  A row's own column is cut out before the top-k, so
    a +inf or NaN distance to another cluster sorts as it would among
    the others alone."""
    c = len(cids)
    knn = np.zeros((c, k), dtype=np.int64)
    k_eff = min(k, c - 1)
    if k_eff <= 0:
        return knn
    chunk = max(1, _CHUNK_CELLS // c)
    for s in range(0, c, chunk):
        e = min(s + chunk, c)
        dists = _distances(cent[s:e], cent)  # (B, C)
        own = np.arange(s, e)
        keep = np.ones(dists.shape, dtype=bool)
        keep[own - s, own] = False
        top = _topk_stable(dists[keep].reshape(e - s, c - 1), k_eff)
        knn[s:e, :k_eff] = cids[top + (top >= own[:, None])]
    return knn


def knn_clusters(window_clusters: "OrderedMap[int, WindowCluster]", k: int) -> None:
    """All-pairs Euclidean KNN over cluster centroids; fills
    ``knn_ids`` in-place: the K nearest other clusters sorted by
    (distance, id) — Java's List.sort is stable over ascending-id
    insertion, pinning the tie order — zero-padded when fewer than K
    neighbors exist (Q5, Cluster.java:30)."""
    clusters = list(window_clusters.values())
    if not clusters:
        return
    cids = np.fromiter(window_clusters.keys(), dtype=np.int64, count=len(clusters))
    cent = np.stack([wc.centroid for wc in clusters])
    for wc, row in zip(clusters, _knn_cluster_matrix(cids, cent, k)):
        wc.knn_ids = row


def _resolve_ids(ids: np.ndarray, id_matrix: np.ndarray):
    """``_resolve`` against keys in any order: (positions in ``ids``,
    found mask)."""
    sorter = np.argsort(ids, kind="stable")
    posc, found = _resolve(ids[sorter], id_matrix)
    return sorter[posc] if len(ids) else posc, found


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
    clusters = list(window_clusters.values())
    if not clusters:
        return {}
    ids = np.fromiter(window_clusters.keys(), dtype=np.int64, count=len(clusters))
    cent_all = np.stack([wc.centroid for wc in clusters])
    sizes_all = np.fromiter((wc.size for wc in clusters), np.int64, len(clusters))
    mins_all = np.stack([wc.mins for wc in clusters])
    maxs_all = np.stack([wc.maxs for wc in clusters])

    # neighbor positions, knn order kept; id 0 / dropped ids are skipped
    pos, found = _resolve_ids(ids, np.stack([wc.knn_ids for wc in clusters]))
    counts = found.sum(axis=1)

    density = np.zeros(len(ids))
    min_bound = np.zeros(len(ids))
    max_bound = np.zeros(len(ids))
    d = cent_all.shape[1]

    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for k in np.unique(counts[counts > 1]).tolist():
            rows = np.flatnonzero(counts == k)
            idxs = pos[rows][found[rows]].reshape(-1, k)  # (B, k)
            ncent = cent_all[idxs]  # (B, k, d)
            nsize = sizes_all[idxs]  # (B, k)

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

    survivors: OrderedMap[int, WindowCluster] = {}
    rows = np.flatnonzero(counts > 1)
    for row, dens, lo, hi in zip(
        rows.tolist(), density[rows].tolist(), min_bound[rows].tolist(),
        max_bound[rows].tolist(),
    ):
        cl = clusters[row]
        cl.density = dens
        cl.min_density_bound = lo
        cl.max_density_bound = hi
        survivors[int(ids[row])] = cl
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


def _knn_mean_std(values: np.ndarray, found: np.ndarray):
    """Per row, the mean of the found neighbours' values and the KLOME
    'stddev' ``sqrt(Σ(x - mean)²)`` with no /n (Q2): both sums run in
    knn order, as the reference's loops do; 0/0 -> NaN mean for a row
    with none found.  A missing neighbour adds 0.0 to both sums, which
    is exact: a sum that starts at +0.0 is never -0.0.  The square is
    ``x * x``, which is what Java's ``Math.pow(x, 2.0)`` gives, in both
    pruning stages (SURVEY.md Q11)."""
    vals = np.where(found, values, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = np.zeros(len(vals))
        for m in range(vals.shape[1]):
            mean = mean + vals[:, m]
        mean = mean / found.sum(axis=1).astype(np.float64)
        var = np.zeros(len(vals))
        for m in range(vals.shape[1]):
            dev = vals[:, m] - mean
            var = var + np.where(found[:, m], dev * dev, 0.0)
    return mean, np.sqrt(var)


def prune_clusters(
    survivors: "OrderedMap[int, WindowCluster]", n: int
) -> "OrderedMap[int, bool]":
    """Per cluster: klome_low/high = (min/max density bound - mean of
    existing-KNN densities) / sqrt(Σ(dens-mean)²) — note NO /count in the
    'stddev' (Q2, :58-62) and 0/0 -> NaN when no KNN exists.  Then the
    dominance count: cluster j survives iff the total size of clusters i
    with high_i < low_j stays below N (:74-96; NaN comparisons are false,
    so NaN-klome clusters are always kept).

    Vectorized across clusters (``_knn_mean_std``, shared with the point
    stage's ``_klome_scores``).

    Returns {cluster_id: might_contain_outliers} in forward order.
    """
    clusters = list(survivors.values())
    if not clusters:
        return {}
    c = len(clusters)
    ids = np.fromiter(survivors.keys(), dtype=np.int64, count=c)
    dens = np.fromiter((cl.density for cl in clusters), np.float64, c)
    pos, found = _resolve_ids(ids, np.stack([cl.knn_ids for cl in clusters]))
    mean, std = _knn_mean_std(dens[pos], found)
    with np.errstate(divide="ignore", invalid="ignore"):
        low_a = (np.fromiter((cl.min_density_bound for cl in clusters), np.float64, c) - mean) / std
        high_a = (np.fromiter((cl.max_density_bound for cl in clusters), np.float64, c) - mean) / std

    sizes = np.fromiter((cl.size for cl in clusters), np.int64, c)
    # counts[j] = Σ size_i over i with high_i < low_j  (exact int math)
    with np.errstate(invalid="ignore"):
        mask = high_a[:, None] < low_a[None, :]
    counts = (sizes[:, None] * mask).sum(axis=0)
    return dict(zip(ids.tolist(), (counts < n).tolist()))


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
    chunk = max(1, _CHUNK_CELLS // len(cids))
    for s in range(0, n_cand, chunk):
        e = min(s + chunk, n_cand)
        dists = _distances(X[s:e], cent)  # (B, C)
        excl = cids[None, :] == pids[s:e, None]
        dists[excl] = np.inf
        order = _topk_stable(dists, k_eff)
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
    values = dens_table[posc] if len(dens_table) else np.zeros(posc.shape)
    mean, std = _knn_mean_std(values, found)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = (own_dens - mean) / std
    return np.where(std == 0.0, DOUBLE_MAX, ratio)


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
    The streaming engine keeps one encoded sequence per shard as its
    state (``encode``/``decode``); the batch walkers keep one per shard
    of their sorted input."""

    __slots__ = ("algo", "ring", "pending", "last_closed")

    #: An encoded sequence starts with this tag, then its format version.
    TAG = b"KELOSPSQ"
    VERSION = 1

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


    def encode(self) -> bytes:
        """The sequence as bytes: ``TAG``, ``VERSION`` and flat int64 and
        float64 arrays (``_pack``), in the order ``decode`` reads them.
        No pickle and no package class: the bytes do not depend on how
        Python lays out ``PaneStats``, ``CarryCluster`` or this class."""
        pane_states = self.algo.pane_states
        stats = [ps for states in pane_states.values() for ps in states]
        carry = self.algo.carry
        chunks = [
            (ids, X) for ids_l, X_l in self.pending.values() for ids, X in zip(ids_l, X_l)
        ]
        last = self.last_closed
        return _pack([
            np.array([last is not None, last or 0], dtype=np.int64),
            np.fromiter(pane_states, np.int64, len(pane_states)),
            np.fromiter(map(len, pane_states.values()), np.int64, len(pane_states)),
            np.fromiter((ps.size for ps in stats), np.int64, len(stats)),
            *(_matrix([getattr(ps, f) for ps in stats]) for f in _STAT_FIELDS),
            np.fromiter(carry, np.int64, len(carry)),
            np.fromiter((c.size for c in carry.values()), np.int64, len(carry)),
            _matrix([c.linear_sums for c in carry.values()]),
            _matrix([c.centroid for c in carry.values()]),
            *_pack_points([(ids, X) for ids, _, X in self.ring]),
            np.concatenate([a for _, a, _ in self.ring] or [np.empty(0)]).astype(np.int64),
            np.fromiter(self.pending, np.int64, len(self.pending)),
            np.fromiter((len(i) for i, _ in self.pending.values()), np.int64, len(self.pending)),
            *_pack_points(chunks),
        ])

    @classmethod
    def decode(cls, blob: bytes) -> "PaneSequence":
        """The sequence ``encode`` wrote.  A blob of another format
        version raises ``ValueError`` naming it."""
        (last, stat_ids, stat_counts, sizes, *a) = _unpack(blob)
        ls, mins, maxs, cent, carry_ids, carry_sizes, carry_ls, carry_cent = a[:8]
        ring_points, ring_assign = a[8:12], a[12]
        pend_panes, pend_counts, pend_points = a[13], a[14], a[15:]
        seq = cls()
        seq.last_closed = int(last[1]) if last[0] else None
        stats = [
            PaneStats(size=n, linear_sums=l, mins=lo, maxs=hi, centroid=c)
            for n, l, lo, hi, c in zip(sizes.tolist(), ls, mins, maxs, cent)
        ]
        ends = np.cumsum(stat_counts).tolist()
        seq.algo.pane_states = {
            cid: stats[end - n:end]
            for cid, n, end in zip(stat_ids.tolist(), stat_counts.tolist(), ends)
        }
        seq.algo.carry = {
            cid: CarryCluster(size=n, linear_sums=l, centroid=c)
            for cid, n, l, c in zip(carry_ids.tolist(), carry_sizes.tolist(), carry_ls, carry_cent)
        }
        ring = _unpack_points(*ring_points)
        starts = np.cumsum([0] + [len(ids) for ids, _ in ring]).tolist()
        seq.ring = [
            (ids, ring_assign[s:e], X) for (ids, X), s, e in zip(ring, starts, starts[1:])
        ]
        chunks = _unpack_points(*pend_points)
        ends = np.cumsum(pend_counts).tolist()
        for pane, n, end in zip(pend_panes.tolist(), pend_counts.tolist(), ends):
            part = chunks[end - n:end]
            seq.pending[pane] = ([ids for ids, _ in part], [X for _, X in part])
        return seq


_STAT_FIELDS = ("linear_sums", "mins", "maxs", "centroid")
_LE = {np.dtype(np.int64): "<i8", np.dtype(np.float64): "<f8"}


def _matrix(rows: List[np.ndarray]) -> np.ndarray:
    """Equal-length float rows as one (n, d) matrix; (0, 0) when none."""
    return np.array(rows, dtype=np.float64) if rows else np.empty((0, 0))


def _pack_points(parts: List[Tuple[np.ndarray, np.ndarray]]) -> List[np.ndarray]:
    """``(ids, X)`` pairs as flat arrays: lengths, feature widths, ids,
    features.  A width is kept per pair: an empty pane's X may be (0, 0)."""
    return [
        np.fromiter((len(ids) for ids, _ in parts), np.int64, len(parts)),
        np.fromiter((X.shape[1] if X.ndim == 2 else 0 for _, X in parts), np.int64, len(parts)),
        np.concatenate([ids for ids, _ in parts] or [np.empty(0)]).astype(np.int64),
        np.concatenate([np.ravel(X) for _, X in parts] or [np.empty(0)]).astype(np.float64),
    ]


def _unpack_points(lens, widths, ids, flat) -> List[Tuple[np.ndarray, np.ndarray]]:
    starts = np.cumsum(np.concatenate([[0], lens])).tolist()
    offs = np.cumsum(np.concatenate([[0], lens * widths])).tolist()
    return [
        (ids[s:e], flat[o:p].reshape(e - s, w))
        for s, e, o, p, w in zip(starts, starts[1:], offs, offs[1:], widths.tolist())
    ]


def _pack(arrays: List[np.ndarray]) -> bytes:
    """``PaneSequence.TAG``, then little-endian int64s: the version, the
    array count and (float?, rows, columns or -1 for a vector) per
    array; then each array's little-endian bytes."""
    head = [PaneSequence.VERSION, len(arrays)]
    for a in arrays:
        head += [a.dtype == np.float64, a.shape[0], a.shape[1] if a.ndim == 2 else -1]
    return b"".join(
        [PaneSequence.TAG, np.array(head, dtype="<i8").tobytes()]
        + [np.ascontiguousarray(a, dtype=_LE[a.dtype]).tobytes() for a in arrays]
    )


def _unpack(blob: bytes) -> List[np.ndarray]:
    """The arrays ``_pack`` wrote, as writable arrays over one copy of
    ``blob``; ``ValueError`` for another tag or format version."""
    tag = PaneSequence.TAG
    if blob[:len(tag)] != tag:
        raise ValueError("not an encoded pane sequence")
    buf = bytearray(blob)
    version, n = np.frombuffer(buf, "<i8", 2, len(tag)).tolist()
    if version != PaneSequence.VERSION:
        raise ValueError(
            f"pane sequence state of format version {version} "
            f"(this release reads version {PaneSequence.VERSION})"
        )
    off = len(tag) + 16
    head = np.frombuffer(buf, "<i8", 3 * n, off).reshape(n, 3).tolist()
    off += 24 * n
    out = []
    for is_float, rows, cols in head:
        count = rows if cols < 0 else rows * cols
        a = np.frombuffer(buf, "<f8" if is_float else "<i8", count, off)
        out.append(a if cols < 0 else a.reshape(rows, cols))
        off += 8 * count
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
