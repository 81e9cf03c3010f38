"""End-to-end oracle test: a deterministic 2-D micro fixture with planted
outliers, streamed through three panes (SURVEY.md §5 'windowed top-N')."""

import numpy as np
import pytest

from kelos_on_kafka_spark.core import PaneSequence, run_stream


def micro_fixture():
    """~36 points, 2-D, 3 panes: two dense blobs (at (0,0) and (1,1),
    sigma 0.05) plus one clear planted outlier per pane.  Deterministic.
    Returns (ids, timestamps, features, outlier_ids)."""
    rng = np.random.default_rng(7)
    ids, ts, feats, planted = [], [], [], []
    next_id = 0
    for pane in range(3):
        base_t = pane * 10.0
        pts = []
        for cx, cy in [(0.0, 0.0), (1.0, 1.0)]:
            pts.append(
                rng.normal([cx, cy], 0.05, size=(5, 2))
            )
        pane_pts = np.concatenate(pts)
        outlier = np.array([[5.0 + pane, -5.0]])
        pane_pts = np.concatenate([pane_pts, outlier])
        for p in pane_pts:
            ids.append(next_id)
            ts.append(base_t + 1.0)
            feats.append(p)
            next_id += 1
        planted.append(next_id - 1)  # last id of the pane = the outlier
    return (
        np.array(ids, dtype=np.int64),
        np.array(ts),
        np.array(feats),
        planted,
    )


def test_planted_outliers_rank_first():
    ids, ts, X, planted = micro_fixture()
    results = run_stream(
        ids, ts, X, pane_seconds=10.0, panes_per_window=3,
        threshold=0.25, k=20, n=3,
    )
    assert len(results) == 3  # one window per pane close
    # Window 2 (full 3-pane window) must rank the planted outliers as the
    # lowest-KLOME candidates.
    w2 = results[2]
    top_ids = [o.point_id for o in w2.outliers]
    for pid in planted:
        assert pid in top_ids, (planted, top_ids)
    # ranks are 1..n ascending by (klome, point_id)
    assert [o.rank for o in w2.outliers] == list(
        range(1, len(w2.outliers) + 1)
    )
    klomes = [o.klome for o in w2.outliers]
    assert klomes == sorted(klomes)


def test_window_results_are_per_pane_and_deterministic():
    ids, ts, X, _ = micro_fixture()
    r1 = run_stream(ids, ts, X, 10.0, 3, 0.25, 20, 3)
    r2 = run_stream(ids, ts, X, 10.0, 3, 0.25, 20, 3)
    for a, b in zip(r1, r2):
        assert a.pane_id == b.pane_id
        assert [o.point_id for o in a.outliers] == [
            o.point_id for o in b.outliers
        ]
        assert [o.klome for o in a.outliers] == [o.klome for o in b.outliers]
        assert set(a.window_clusters) == set(b.window_clusters)


def test_sliding_window_carries_points_across_panes():
    ids, ts, X, planted = micro_fixture()
    results = run_stream(ids, ts, X, 10.0, 3, 0.25, 20, n=100)
    # window 1 (panes 0-1) contains candidates from pane 0 as well
    w1_outlier_ids = {o.point_id for o in results[1].outliers}
    assert planted[0] in w1_outlier_ids or planted[1] in w1_outlier_ids
    # cluster ids grow monotonically across panes (carry-over)
    c0 = max(results[0].window_clusters)
    c2 = max(results[2].window_clusters)
    assert c2 >= c0


def test_empty_panes_close_windows():
    ids = np.array([0, 1, 2], dtype=np.int64)
    ts = np.array([1.0, 1.5, 41.0])  # gap: panes 1,2,3 are empty
    X = np.array([[0.0, 0.0], [0.1, 0.0], [5.0, 5.0]])
    results = run_stream(ids, ts, X, 10.0, 3, 0.25, 20, 10)
    assert [r.pane_id for r in results] == [0, 1, 2, 3, 4]
    # after 3 empty panes the pane-0 clusters are tombstoned
    assert results[3].window_clusters == {}
    assert 0 not in {
        cid for cid in results[4].window_clusters
    } and len(results[4].window_clusters) == 1


def test_pane_sequence_refuses_a_closed_pane():
    """Points added to a pane at or below ``last_closed`` would sit in
    ``pending`` for ever: ``add`` raises instead, and buffers nothing."""
    seq = PaneSequence()
    X = np.array([[0.0, 0.0], [0.1, 0.0]])
    seq.add(5, np.array([0, 1], dtype=np.int64), X)
    closed = seq.close_before(7, lambda algo, ring, pane, ids, X: pane)
    assert closed == [5] and seq.last_closed == 6  # empty pane 6 skipped: quiet
    for pane in (6, 2):
        with pytest.raises(ValueError, match=f"pane {pane} is already closed"):
            seq.add(pane, np.array([2], dtype=np.int64), X[:1])
    assert seq.pending == {}
    seq.add(7, np.array([2], dtype=np.int64), X[:1])
    assert list(seq.pending) == [7]
