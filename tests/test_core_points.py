"""Unit tests for the point-level stages (reference:
FilterProcessorSupplier.java, KNearestPointsProcessorSupplier.java,
PointDensityEstimationProcessorSupplier.java,
PointPruningProcessorSupplier.java)."""

import math

import numpy as np

from kelos_on_kafka_spark.core import (
    DOUBLE_MAX,
    _klome_scores,
    _knn_points_matrix,
    _point_densities,
    _point_stage,
    _resolve,
    _topn,
    flagged_candidates,
)


def _klome_topn(clusters, cands, n):
    """P9 over a mixed store: ``clusters`` {id: density}, ``cands``
    {point id: (feature, density, knn ids)}; clusters are put after
    candidates, so a cluster wins an id collision (Q6)."""
    dens = {pid: c[1] for pid, c in cands.items()}
    dens.update(clusters)
    keys = np.array(sorted(dens), dtype=np.int64)
    pids = np.array(sorted(cands), dtype=np.int64)
    own = np.array([cands[p][1] for p in pids])
    posc, found = _resolve(
        keys, np.array([cands[p][2] for p in pids], dtype=np.int64)
    )
    klome = _klome_scores(np.array([dens[k] for k in keys]), own, posc, found)
    feats = np.array([[cands[p][0]] for p in pids])
    return _topn(pids, klome, own, feats, n)


def _kernel(x, h):
    return math.exp(-(x * x) / (2 * h * h)) / (math.sqrt(2 * math.pi) * h)


def test_filter_semi_join_on_flags():
    pids = np.array([10, 11, 12, 13])
    cids = np.array([1, 2, 1, 3])  # cluster 3 was dropped upstream
    X = np.array([[0.0], [1.0], [0.1], [9.0]])
    flags = {1: True, 2: False}
    cand_pids, cand_X = flagged_candidates(flags, pids, cids, X)
    assert list(cand_pids) == [10, 12]
    np.testing.assert_array_equal(cand_X[1], [0.1])


def test_point_knn_excludes_cluster_with_same_id():
    # Q6: a cluster whose id equals the candidate's point id is skipped
    # (ownIndex in calculateKNearestNeighbors).
    knn = _knn_points_matrix(
        np.array([7]), np.array([[0.0]]),
        np.array([1, 2, 7]), np.array([[0.0], [0.5], [0.1]]), k=3,
    )
    assert list(knn[0]) == [1, 2, 0]  # cluster 7 excluded, zero-padded


def test_point_density_hand_computed_q2():
    # candidate at 0.0 with 2 neighbor clusters at 1.0 and 3.0; its knn
    # ids are [1, 2, 0, 0]
    out = _point_stage(
        np.array([50]), np.array([[0.0]]),
        np.array([1, 2]), np.array([[1.0], [3.0]]), np.array([0.9, 0.8]),
        k=4, n=5,
    )
    # k=2 (padding 0 not in store), pointWeight=1/2
    # mean = ((1+3)/2)/2 = 1.0                     (Q2: /k twice)
    # var = ((1-1)^2 + (3-1)^2)/2 = 2 ; std=sqrt(2)
    h = 1.06 * math.sqrt(2.0) * 2 ** (-0.5)
    dens = (_kernel(1.0, h) + _kernel(3.0, h)) * 0.5
    assert out[0].point_id == 50
    assert out[0].density == dens
    # clusters pass through untouched: KLOME reads their densities
    mean = (0.9 + 0.8) / 2
    std = math.sqrt((0.9 - mean) ** 2 + (0.8 - mean) ** 2)
    assert out[0].klome == (dens - mean) / std


def test_point_density_phantom_point_zero_q5():
    # Candidate with id 0 exists; another candidate's zero-padded knn ids
    # resolve to it — and each duplicate padding slot counts once.
    # mixed store keys: candidate 0, cluster 1, candidate 60
    keys = np.array([0, 1, 60])
    cent = np.array([[0.2], [1.0], [0.0]])
    knn = np.array([[1, 0, 0], [1, 0, 0]])  # 0s -> candidate 0 twice
    dens_out, keep = _point_densities(keys, cent, np.array([0, 2]), knn)
    # candidate 60's kNNs = [c1, cand0, cand0] -> k=3
    # (sequential accumulation in kNN order, mirroring the Java loops)
    k = 3
    w = 1.0 / k
    cents = [1.0, 0.2, 0.2]
    mean = 0.0
    for c in cents:
        mean += c * w
    mean /= k
    var = 0.0
    for c in cents:
        var += (c - mean) ** 2 * w
    h = 1.06 * math.sqrt(var) * k ** (-0.5)
    dens = 0.0
    for c in cents:
        dens += _kernel(abs(0.0 - c), h) * w
    # np.exp (SIMD) vs math.exp (libm) may differ by 1 ULP — transcendental
    # bit-parity is unattainable across libms (Java's Math.exp is a third
    # implementation); assert to within 4 ULP.
    np.testing.assert_allclose(dens_out[1], dens, rtol=1e-15)
    # candidate 0's own knn = [c1, itself, itself] (lookup of id 0 finds
    # candidate 0 in the mixed buffer) -> k=3 as well
    assert keep[0]


def test_mixed_store_collision_cluster_wins_q6():
    # Candidate point id 1 collides with cluster id 1: cluster overwrites
    # (clusters are put after candidates).
    out = _point_stage(
        np.array([1, 30]), np.array([[0.0], [5.5]]),
        np.array([1, 2]), np.array([[5.0], [6.0]]), np.array([0.7, 0.6]),
        k=2, n=5,
    )
    # candidate 1 was overwritten by cluster 1 -> no longer a candidate
    assert [o.point_id for o in out] == [30]
    # ... and candidate 30's KLOME reads cluster 1's density 0.7
    mean = (0.7 + 0.6) / 2
    std = math.sqrt((0.7 - mean) ** 2 + (0.6 - mean) ** 2)
    assert out[0].klome == (out[0].density - mean) / std


def test_candidate_with_one_neighbor_dropped():
    keys = np.array([1, 40])  # cluster 1, candidate 40
    knn = np.array([[1, 0, 0]])
    _dens, keep = _point_densities(
        keys, np.array([[1.0], [0.0]]), np.array([1]), knn
    )
    assert not keep[0]  # kNNs.size() <= 1 -> continue (:62-64)
    out = _point_stage(
        np.array([40]), np.array([[0.0]]),
        np.array([1]), np.array([[1.0]]), np.array([0.9]), k=3, n=5,
    )
    assert out == []


def test_point_pruning_klome_and_topn():
    out = _klome_topn(
        {1: 0.50, 2: 0.40},
        {10: (0.1, 0.01, [1, 2]), 11: (0.9, 0.45, [1, 2]), 12: (0.5, 0.30, [1, 2])},
        n=2,
    )
    # mean = (.5+.4)/2 = .45 ; std = sqrt((.5-.45)^2+(.4-.45)^2) (no /n, Q2)
    # computed with the exact float ops of the Java loop
    mean = (0.50 + 0.40) / 2
    std = math.sqrt((0.50 - mean) ** 2 + (0.40 - mean) ** 2)
    kl = {pid: (d - mean) / std for pid, d in [(10, 0.01), (11, 0.45), (12, 0.30)]}
    assert [o.point_id for o in out] == [10, 12]
    assert out[0].klome == kl[10]
    assert out[1].klome == kl[12]
    assert out[0].rank == 1 and out[1].rank == 2
    np.testing.assert_array_equal(out[0].features, [0.1])


def test_point_pruning_zero_stddev_gives_double_max():
    out = _klome_topn({1: 0.5, 2: 0.5}, {10: (0.1, 0.3, [1, 2])}, n=5)
    assert out[0].klome == DOUBLE_MAX


def test_point_pruning_no_existing_knn_gives_double_max():
    # empty lookup -> mean NaN but variance loop never runs -> std 0 -> MAX
    out = _klome_topn({}, {10: (0.1, 0.3, [99])}, n=5)
    assert out[0].klome == DOUBLE_MAX


def test_point_pruning_tiebreak_by_point_id():
    out = _klome_topn(
        {1: 0.5, 2: 0.4},
        {21: (0.3, 0.2, [1, 2]), 20: (0.3, 0.2, [1, 2])},
        n=1,
    )
    assert out[0].point_id == 20  # documented deviation Q10
