"""Structured Streaming KELOS engine.

Event-time semantics replace the reference's stream-time punctuation
tokens (SURVEY.md §2.2 P10): a pane closes when the watermark passes its
end, window results are emitted exactly once in append mode, and state
(carry-over clusters, pane ring, buffered open panes) lives in Spark's
checkpointed state store keyed by shard — so the query is
kill-and-resume safe.  Late rows beyond the watermark are dropped by
Spark; the output-parity contract is defined for a fixed input stream +
watermark (north_rule).

Per-window lineage/metrics columns (n_window_points, n_clusters,
n_candidates) ride along with every outlier row.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import DEFAULT_CONFIG, KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import outliers_frame

STREAM_OUTLIER_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("window_id", LongType()),
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
        StructField("rank", IntegerType()),
        StructField("point_id", LongType()),
        StructField("klome", DoubleType()),
        StructField("density", DoubleType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("n_window_points", LongType()),
        StructField("n_clusters", LongType()),
        StructField("n_candidates", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


class _StreamShard:
    """Per-shard streaming state: the cross-pane algorithm state plus the
    buffer of not-yet-closed panes."""

    __slots__ = ("algo", "ring", "pending", "last_closed")

    def __init__(self) -> None:
        self.algo = core.ShardState()
        self.ring: List[Tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        self.pending: dict = {}  # pane_id -> (list[ids], list[X])
        self.last_closed: Optional[int] = None

    def algo_quiet(self) -> bool:
        """True when closing an empty pane is a provable no-op: no live
        clusters to carry/tombstone, no points left in the window ring."""
        return not self.algo.carry and not any(
            len(r[0]) for r in self.ring
        )

    def is_trivial(self) -> bool:
        return not self.pending and self.algo_quiet()


def _close_pane(
    shard: int, pane: int, st: _StreamShard, cfg: KelosConfig
) -> Optional[pd.DataFrame]:
    ids_l, X_l = st.pending.pop(pane, ([], []))
    ids = np.concatenate(ids_l) if ids_l else np.empty(0, dtype=np.int64)
    X = np.concatenate(X_l) if X_l else np.empty((0, 0))
    result, n_window_points = core.close_pane(
        st.algo, st.ring, pane, ids, X, cfg.distance_threshold, cfg.k,
        cfg.n, cfg.panes_per_window, cfg.kernel,
    )
    st.last_closed = pane
    if not result.outliers:
        return None
    frame = outliers_frame(shard, pane, result.outliers, cfg)
    frame["n_window_points"] = np.int64(n_window_points)
    frame["n_clusters"] = np.int64(len(result.window_clusters))
    frame["n_candidates"] = np.int64(len(result.candidate_ids))
    return frame


def _make_stateful_fn(cfg: KelosConfig):
    pane_ms = cfg.pane_seconds * 1000

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        shard = int(key[0])
        st: _StreamShard
        if state.exists:
            st = pickle.loads(state.get[0])
        else:
            st = _StreamShard()

        if not state.hasTimedOut:
            for pdf in batches:
                if pdf.empty:
                    continue
                panes = pdf["pane_id"].to_numpy()
                pids = pdf["point_id"].to_numpy(dtype=np.int64)
                feats = np.stack(
                    [np.asarray(f, dtype=np.float64) for f in pdf["features"]]
                )
                for pane in np.unique(panes):
                    sel = panes == pane
                    ids_l, X_l = st.pending.setdefault(int(pane), ([], []))
                    ids_l.append(pids[sel])
                    X_l.append(feats[sel])

        # Close every pane whose end <= watermark (event-time pane
        # punctuation; empty gap panes close too, like the reference's
        # catch-up punctuation).  When the algorithm state is already
        # empty, fast-forward over the gap instead of iterating it.
        wm = state.getCurrentWatermarkMs()
        out_frames: List[pd.DataFrame] = []
        if wm > 0:
            wm_pane = int(wm // pane_ms)  # panes < wm_pane have end <= wm
            if st.last_closed is None:
                st.last_closed = (
                    min(st.pending) - 1 if st.pending else wm_pane
                )
            pane = st.last_closed + 1
            while pane < wm_pane:
                if st.algo_quiet() and (
                    not st.pending or pane < min(st.pending)
                ):
                    # fast-forward over an empty stretch
                    nxt = min(st.pending) if st.pending else wm_pane
                    pane = min(int(nxt), wm_pane)
                    st.last_closed = pane - 1
                    if pane >= wm_pane:
                        break
                frame = _close_pane(shard, int(pane), st, cfg)
                if frame is not None:
                    out_frames.append(frame)
                pane += 1

        if st.is_trivial():
            # no buffered points, no live clusters: drop the state
            if state.exists:
                state.remove()
        else:
            state.update((pickle.dumps(st),))
            # wake when the watermark passes the next closeable pane end
            if st.algo_quiet() and st.pending:
                wake = (int(min(st.pending)) + 1) * pane_ms
            elif st.last_closed is not None:
                wake = (st.last_closed + 2) * pane_ms
            elif st.pending:
                wake = (int(min(st.pending)) + 1) * pane_ms
            else:
                wake = None
            if wake is not None:
                state.setTimeoutTimestamp(max(wake, wm + 1))

        if out_frames:
            yield pd.concat(out_frames, ignore_index=True)

    return fn


def kelos_stream(
    points: DataFrame,
    cfg: KelosConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming flagship query: per-shard KELOS over a streaming points
    DataFrame.  Returns an append-mode streaming DataFrame of per-window
    top-N outliers with lineage columns.

    The shuffle to shard groups is the engine's one stateful exchange;
    everything upstream (source scan, feature extraction) is stateless
    and fully parallel.
    """
    pane_us = cfg.pane_seconds * 1_000_000
    shard = (
        F.col(shard_col).cast("long") if shard_col else F.lit(0).cast("long")
    )
    prepared = (
        points.withWatermark(ts_col, watermark_delay)
        .select(
            shard.alias("shard"),
            F.col(id_col).cast("long").alias("point_id"),
            F.floor(F.unix_micros(F.col(ts_col)) / F.lit(pane_us))
            .cast("long")
            .alias("pane_id"),
            F.col(features_col).cast("array<double>").alias("features"),
            # the watermarked event-time column must stay in the plan for
            # EventTimeTimeout; the stateful fn ignores it
            F.col(ts_col).alias("_event_ts"),
        )
    )
    return prepared.groupBy("shard").applyInPandasWithState(
        _make_stateful_fn(cfg),
        outputStructType=STREAM_OUTLIER_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
