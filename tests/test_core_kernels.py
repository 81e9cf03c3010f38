"""``core``'s array-native window kernels against their scalar oracles
(tests/scalar_kernels.py), bit for bit, and the pane sequence's state
encoding.

The kernels: the stable row top-k, cluster KNN, cluster KDE under both
kernels, KLOME pruning, candidate KNN and the greedy pane clustering.
The cases force what the vectorized code has to get right: ties at the
k-th distance, C <= K, C = 1, a candidate id equal to a cluster id (Q6),
knn padding id 0 resolving to candidate point 0 (Q5), NaN klome (0/0),
empty panes with carried clusters."""

import pickle

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.streaming import engine
from tests import scalar_kernels as oracle
from tests.test_stream_state_compat import CFG, _close, _fields

SETTINGS = settings(max_examples=60, deadline=None)


def _matrix(draw_seed: int, rows: int, cols: int, levels: int) -> np.ndarray:
    """Distances drawn from ``levels`` values, so rows hold ties; with
    some +inf and NaN entries."""
    rng = np.random.default_rng(draw_seed)
    m = rng.integers(0, levels, (rows, cols)).astype(np.float64) / 4
    m[rng.random((rows, cols)) < 0.05] = np.inf
    m[rng.random((rows, cols)) < 0.05] = np.nan
    return m


@SETTINGS
@given(
    seed=st.integers(0, 2**32 - 1),
    rows=st.integers(0, 12),
    cols=st.integers(1, 30),
    levels=st.sampled_from([2, 5, 1000]),
    k=st.integers(0, 32),
)
def test_topk_is_stable_argsort_prefix(seed, rows, cols, levels, k):
    m = _matrix(seed, rows, cols, levels)
    expected = np.argsort(m, axis=1, kind="stable")[:, :k]
    np.testing.assert_array_equal(core._topk_stable(m, k), expected)


def _clusters(seed: int, c: int, d: int, levels: int) -> dict:
    """``c`` window clusters with ascending ids from 1; coordinates on a
    grid of ``levels`` values, so distances tie."""
    rng = np.random.default_rng(seed)
    out = {}
    for cid in np.cumsum(rng.integers(1, 4, c)).tolist():
        cent = rng.integers(0, levels, d) / 3.0
        spread = rng.random(d) * 0.3
        size = int(rng.integers(1, 6))
        out[cid] = core.WindowCluster(
            cluster_id=cid,
            size=size,
            linear_sums=cent * size,
            centroid=cent,
            mins=cent - spread,
            maxs=cent + spread,
        )
    return out


def _copy(clusters: dict) -> dict:
    return {
        cid: core.WindowCluster(**{f: getattr(wc, f) for f in wc.__dataclass_fields__})
        for cid, wc in clusters.items()
    }


def _r(x: float) -> str:
    """A float by its shortest repr, so that NaN equals NaN and -0.0
    differs from 0.0."""
    return repr(float(x))


def _cluster_fields(clusters: dict) -> list:
    return [
        (cid, list(wc.knn_ids), _r(wc.density), _r(wc.min_density_bound),
         _r(wc.max_density_bound))
        for cid, wc in clusters.items()
    ]


def _outliers(outliers) -> list:
    return [(o.rank, o.point_id, _r(o.klome), _r(o.density)) for o in outliers]


cluster_cases = dict(
    seed=st.integers(0, 2**32 - 1),
    c=st.integers(1, 40),
    d=st.integers(1, 4),
    levels=st.sampled_from([2, 4, 1000]),
    k=st.integers(1, 25),
)


@SETTINGS
@given(**cluster_cases)
def test_knn_clusters_match_oracle(seed, c, d, levels, k):
    got, want = _clusters(seed, c, d, levels), _clusters(seed, c, d, levels)
    core.knn_clusters(got, k)
    oracle.knn_clusters(want, k)
    assert _cluster_fields(got) == _cluster_fields(want)


@SETTINGS
@given(kernel=st.sampled_from(sorted(core.KERNELS)), drop=st.floats(0, 0.5), **cluster_cases)
def test_cluster_densities_and_pruning_match_oracle(seed, c, d, levels, k, kernel, drop):
    """KDE, then pruning of its survivors; some neighbours are removed
    from the window first, so knn lists hold ids that resolve to nothing."""
    clusters = _clusters(seed, c, d, levels)
    core.knn_clusters(clusters, k)
    rng = np.random.default_rng(seed)
    window = {cid: wc for cid, wc in clusters.items() if rng.random() >= drop}
    got_in, want_in = _copy(window), _copy(window)
    got = core.estimate_cluster_densities(got_in, core.KERNELS[kernel])
    want = oracle.estimate_cluster_densities(want_in, core.KERNELS[kernel])
    assert _cluster_fields(got) == _cluster_fields(want)
    for n in (1, 3, 100):
        assert core.prune_clusters(got, n) == oracle.prune_clusters(want, n)


def test_pruning_keeps_a_cluster_with_nan_klome():
    """No neighbour is a survivor: the mean is 0/0, both bounds NaN, and
    no comparison holds, so the cluster is kept for N >= 1."""
    wcs = _clusters(3, 3, 2, 1000)
    for wc in wcs.values():
        wc.knn_ids = np.array([0, 999, 0], dtype=np.int64)
        wc.density, wc.min_density_bound, wc.max_density_bound = 1.0, 0.5, 1.5
    for n in (0, 1, 5):
        assert core.prune_clusters(wcs, n) == oracle.prune_clusters(wcs, n)
    assert all(core.prune_clusters(wcs, 1).values())


def test_pruning_squares_with_multiplication():
    """Both pruning stages square a deviation as ``x * x``, Java's
    ``Math.pow(x, 2.0)``; numpy's scalar ``** 2`` (libm ``pow``) rounds
    this one differently."""
    v = 2.588751428691878
    assert np.float64(v) ** 2 != np.float64(v) * np.float64(v)
    # neighbours 0 and 2v: mean v, deviations -v and v
    mean, std = core._knn_mean_std(np.array([[0.0, 2 * v]]), np.ones((1, 2), bool))
    assert mean[0] == v
    assert std[0] == np.sqrt(v * v + v * v)
    assert std[0] != np.sqrt(np.float64(v) ** 2 + np.float64(v) ** 2)


@SETTINGS
@given(
    seed=st.integers(0, 2**32 - 1),
    n_cand=st.integers(0, 30),
    c=st.integers(0, 30),
    d=st.integers(1, 4),
    levels=st.sampled_from([2, 4, 1000]),
    k=st.integers(1, 25),
)
def test_knn_points_match_oracle(seed, n_cand, c, d, levels, k):
    """Candidate ids 0..n_cand overlap the cluster ids 1..c (Q6)."""
    rng = np.random.default_rng(seed)
    pids = np.sort(rng.choice(max(n_cand, c) + 5, n_cand, replace=False)).astype(np.int64)
    cids = np.arange(1, c + 1, dtype=np.int64)
    X = rng.integers(0, levels, (n_cand, d)) / 3.0
    cent = rng.integers(0, levels, (c, d)) / 3.0
    np.testing.assert_array_equal(
        core._knn_points_matrix(pids, X, cids, cent, k),
        oracle.knn_points_matrix(pids, X, cids, cent, k),
    )


@SETTINGS
@given(
    seed=st.integers(0, 2**32 - 1),
    n_cand=st.integers(0, 25),
    c=st.integers(0, 25),
    k=st.integers(1, 25),
    kernel=st.sampled_from(sorted(core.KERNELS)),
)
def test_point_stage_matches_oracle(seed, n_cand, c, k, kernel):
    """The whole point stage with the oracle KNN patched in.
    Point 0 is a candidate, so knn padding id 0 resolves to it (Q5)."""
    rng = np.random.default_rng(seed)
    pids = np.unique(np.concatenate([[0], rng.choice(60, n_cand)])).astype(np.int64)
    X = rng.integers(0, 6, (len(pids), 2)) / 3.0
    cids = np.arange(1, c + 1, dtype=np.int64)
    cent = rng.integers(0, 6, (c, 2)) / 3.0
    dens = rng.random(c)
    args = (pids, X, cids, cent, dens, k, 10, core.KERNELS[kernel])
    got = core._point_stage(*args)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(core, "_knn_points_matrix", oracle.knn_points_matrix)
        want = core._point_stage(*args)
    assert _outliers(got) == _outliers(want)


def _pane_stats(panes: dict) -> list:
    return [
        (cid, p.size, p.linear_sums.tolist(), p.mins.tolist(), p.maxs.tolist(),
         p.centroid.tolist())
        for cid, p in panes.items()
    ]


@SETTINGS
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(0, 60),
    n_carry=st.integers(0, 12),
    d=st.integers(1, 4),
    threshold=st.sampled_from([0.1, 0.25, 1.0]),
)
def test_cluster_pane_matches_oracle(seed, n, n_carry, d, threshold):
    rng = np.random.default_rng(seed)
    carry = {}
    for cid in np.cumsum(rng.integers(1, 4, n_carry)).tolist():
        size = int(rng.integers(1, 5))
        cent = rng.normal(size=d)
        carry[cid] = core.CarryCluster(size=size, linear_sums=cent * size, centroid=cent)
    ids = rng.permutation(n).astype(np.int64)
    X = rng.normal(size=(n, d)) if n else np.empty((0, 0))
    got_a, got_p = core.cluster_pane(ids, X, carry, threshold, 20)
    want_a, want_p = oracle.cluster_pane(ids, X, carry, threshold, 20)
    np.testing.assert_array_equal(got_a, want_a)
    assert _pane_stats(got_p) == _pane_stats(want_p)


@pytest.mark.parametrize("kernel", sorted(core.KERNELS))
def test_run_stream_matches_scalar_kernels(monkeypatch, kernel):
    """A whole stream with gap panes, the scalar kernels patched in."""
    rng = np.random.default_rng(11)
    n = 900
    ts = np.sort(rng.choice([0, 1, 2, 5, 6, 7, 8], n) * 10.0 + rng.random(n))
    X = rng.normal(size=(n, 2)) * np.where(rng.random((n, 1)) < 0.03, 6.0, 1.0)
    ids = rng.permutation(n)

    def run():
        return [
            (r.pane_id, _outliers(r.outliers),
             r.flags, r.candidate_ids, _cluster_fields(r.window_clusters))
            for r in core.run_stream(ids, ts, X, n=20, kernel=kernel)
        ]

    got = run()
    with monkeypatch.context() as mp:
        for name in ("cluster_pane", "knn_clusters", "estimate_cluster_densities",
                     "prune_clusters"):
            mp.setattr(core, name, getattr(oracle, name))
        mp.setattr(core, "_knn_points_matrix", oracle.knn_points_matrix)
        want = run()
    assert got == want
    assert any(r[1] for r in got)


def _compat_sequence() -> core.PaneSequence:
    """The sequence of tests/test_stream_state_compat.py: GMM points,
    panes 0-3 closed, pane 4 buffered in two chunks."""
    from kelos_on_kafka_spark.sources.points import gmm_points

    pdf = gmm_points(n=1500, seed=21, elements_per_window=300)
    panes = (pdf["ts"].to_numpy() // CFG.pane_seconds).astype(np.int64)
    ids = pdf["id"].to_numpy(dtype=np.int64)
    X = np.stack([np.asarray(f, dtype=np.float64) for f in pdf["features"]])
    seq = core.PaneSequence()
    for pane in range(5):
        sel = panes == pane
        seq.add(pane, ids[sel][:40], X[sel][:40])
        seq.add(pane, ids[sel][40:], X[sel][40:])
    seq.close_before(4, _close)
    assert seq.algo.carry and seq.ring and seq.pending
    return seq


def test_state_encoding_round_trips():
    seq = _compat_sequence()
    back = core.PaneSequence.decode(seq.encode())
    assert _fields(back) == _fields(seq)
    # the decoded state closes the next pane as the original does
    assert back.close_before(5, _close) == seq.close_before(5, _close)
    assert _fields(back) == _fields(seq)

    empty = core.PaneSequence()
    assert _fields(core.PaneSequence.decode(empty.encode())) == _fields(empty)


def test_state_blob_loading():
    """The engine reads the encoding and, from older checkpoints, a
    pickled sequence; an unknown format version fails, naming it and
    the shard."""
    seq = _compat_sequence()
    blob = seq.encode()
    assert blob.startswith(core.PaneSequence.TAG)
    assert _fields(engine._load_state(blob, 3)) == _fields(seq)
    assert _fields(engine._load_state(pickle.dumps(seq), 3)) == _fields(seq)

    tag = core.PaneSequence.TAG
    future = tag + np.int64(core.PaneSequence.VERSION + 1).tobytes() + blob[len(tag) + 8:]
    with pytest.raises(ValueError, match=r"shard 3: .*version 2"):
        engine._load_state(future, 3)
