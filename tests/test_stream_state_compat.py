"""The streaming engine checkpoints each shard's ``core.PaneSequence``,
pickled.  Checkpoints written while the engine kept its own
``_StreamShard`` class pickle that name with the same four slots, so the
name stays an alias and those checkpoints resume as the new class."""

import pickle

import numpy as np

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.sources.points import gmm_points
from kelos_on_kafka_spark.streaming import engine

CFG = KelosConfig(n=15)


class _LegacyStreamShard:
    """The engine's per-shard state class before the pane sequence moved
    to ``core``: the same slots, pickled under the engine's name."""

    __slots__ = ("algo", "ring", "pending", "last_closed")

    def __init__(self) -> None:
        self.algo = core.ShardState()
        self.ring = []
        self.pending = {}
        self.last_closed = None


_LegacyStreamShard.__module__ = engine.__name__
_LegacyStreamShard.__qualname__ = "_StreamShard"


def _close(algo, ring, pane, ids, X):
    result, n_window_points = core.close_pane(
        algo, ring, pane, ids, X, CFG.distance_threshold, CFG.k, CFG.n,
        CFG.panes_per_window, CFG.kernel,
    )
    outliers = [(o.rank, o.point_id, o.klome, o.density) for o in result.outliers]
    return outliers, n_window_points


def _plain(x):
    """``x`` as nested tuples of plain values, arrays by dtype, shape and
    bytes, so that two states compare by value."""
    if isinstance(x, np.ndarray):
        return (x.dtype.str, x.shape, x.tobytes())
    if isinstance(x, dict):
        return tuple((k, _plain(v)) for k, v in x.items())
    if isinstance(x, (list, tuple)):
        return tuple(_plain(v) for v in x)
    if hasattr(x, "__dict__"):
        return (type(x).__name__, _plain(vars(x)))
    return x


def _fields(st):
    return _plain((st.algo, st.ring, st.pending, st.last_closed))


def test_legacy_checkpoint_state_resumes_as_pane_sequence(monkeypatch):
    pdf = gmm_points(n=1500, seed=21, elements_per_window=300)
    panes = (pdf["ts"].to_numpy() // CFG.pane_seconds).astype(np.int64)
    ids = pdf["id"].to_numpy(dtype=np.int64)
    X = np.stack([np.asarray(f, dtype=np.float64) for f in pdf["features"]])

    # the parent engine's state after closing panes 0-3, pane 4 buffered
    old = _LegacyStreamShard()
    for pane in range(4):
        _close(old.algo, old.ring, pane, ids[panes == pane], X[panes == pane])
    old.last_closed = 3
    old.pending = {4: ([ids[panes == 4]], [X[panes == 4]])}
    assert old.algo.carry and old.ring

    monkeypatch.setattr(engine, "_StreamShard", _LegacyStreamShard)
    blob = pickle.dumps(old)
    monkeypatch.undo()
    assert b"_StreamShard" in blob and engine._StreamShard is core.PaneSequence

    seq = pickle.loads(blob)
    assert type(seq) is core.PaneSequence
    assert _fields(seq) == _fields(old)

    # closing the next pane gives what the pickled state gives
    ids_l, X_l = old.pending.pop(4)
    expected = _close(old.algo, old.ring, 4, np.concatenate(ids_l), np.concatenate(X_l))
    old.last_closed = 4
    assert seq.close_before(5, _close) == [expected]
    assert expected[0] and seq.last_closed == 4 and not seq.pending
    assert _fields(seq) == _fields(old)
