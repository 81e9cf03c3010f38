"""Structured Streaming KELOS engine.

Event-time semantics replace the reference's stream-time punctuation
tokens (SURVEY.md §2.2 P10): a pane closes when the watermark passes its
end, window results are emitted exactly once in append mode, and each
shard's ``core.PaneSequence`` (carry-over clusters, pane ring, buffered
open panes) lives in Spark's checkpointed state store keyed by shard —
so the query is kill-and-resume safe.  The state is the sequence's
versioned array encoding (``PaneSequence.encode``: a tag, a format
version, flat int64/float64 arrays; no pickle), in the one ``blob``
column of ``STATE_SCHEMA``.  A blob without the tag was written by an
older release as a pickled sequence; it still loads, through
``pickle``, for one release.  A blob of an unknown version fails the
query, naming the version and the shard.  The sequence closes the
panes below the watermark's pane, as the batch walkers' sequences close
a shard's panes.  Late rows beyond the watermark are dropped by
Spark; the output-parity contract is defined for a fixed input stream +
watermark (north_rule).

Per-window lineage/metrics columns (n_window_points, n_clusters,
n_candidates) ride along with every outlier row.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator, List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import DEFAULT_CONFIG, KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import (
    OUTLIER_SCHEMA,
    _features,
    outlier_columns,
    point_columns,
)

STREAM_OUTLIER_SCHEMA = StructType(
    OUTLIER_SCHEMA.fields
    + [
        StructField("n_window_points", LongType()),
        StructField("n_clusters", LongType()),
        StructField("n_candidates", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def outliers_frame(
    shard: int,
    window_id: int,
    outliers: List[core.Outlier],
    cfg: KelosConfig,
    n_window_points: int,
    n_clusters: int,
    n_candidates: int,
) -> pd.DataFrame:
    """``STREAM_OUTLIER_SCHEMA`` rows of one window's (non-empty) top-N
    outliers, with its lineage columns: every column is built first,
    then one frame from them."""
    cols = outlier_columns(shard, window_id, outliers, cfg)
    n = len(outliers)
    for bound in ("window_start", "window_end"):
        cols[bound] = pd.DatetimeIndex(
            cols[bound].astype("datetime64[us]"), tz="UTC"
        )
    cols["features"] = list(cols["features"])  # row views, no copies
    cols["n_window_points"] = np.full(n, n_window_points, dtype=np.int64)
    cols["n_clusters"] = np.full(n, n_clusters, dtype=np.int64)
    cols["n_candidates"] = np.full(n, n_candidates, dtype=np.int64)
    return pd.DataFrame(cols)


# Checkpoints written before the pane sequence moved to ``core`` pickle
# their state as this module's ``_StreamShard``, with the same four slots:
# the name stays so that they resume (``_load_state``).
_StreamShard = core.PaneSequence


def _load_state(blob: bytes, shard: int) -> core.PaneSequence:
    """A shard's pane sequence from its state blob: ``PaneSequence.decode``,
    or ``pickle`` for a blob an older release wrote (no tag)."""
    if not blob.startswith(core.PaneSequence.TAG):
        return pickle.loads(blob)
    try:
        return core.PaneSequence.decode(blob)
    except ValueError as e:
        raise ValueError(f"state of shard {shard}: {e}") from None


def _make_stateful_fn(cfg: KelosConfig):
    pane_ms = cfg.pane_seconds * 1000

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        shard = int(key[0])
        seq = _load_state(state.get[0], shard) if state.exists else core.PaneSequence()

        if not state.hasTimedOut:
            for pdf in batches:
                if pdf.empty:
                    continue
                panes = pdf["pane_id"].to_numpy()
                pids = pdf["point_id"].to_numpy(dtype=np.int64)
                feats = _features(pa.array(pdf["features"], pa.list_(pa.float64())))
                for pane in np.unique(panes):
                    sel = panes == pane
                    seq.add(pane, pids[sel], feats[sel])

        def close(algo, ring, pane, ids, X) -> Optional[pd.DataFrame]:
            result, n_window_points = core.close_pane(
                algo, ring, pane, ids, X, cfg.distance_threshold, cfg.k,
                cfg.n, cfg.panes_per_window, cfg.kernel,
            )
            if not result.outliers:
                return None
            return outliers_frame(
                shard, pane, result.outliers, cfg, n_window_points,
                len(result.window_clusters), len(result.candidate_ids),
            )

        # Close every pane whose end <= watermark (event-time pane
        # punctuation): the panes below the watermark's pane.
        wm = state.getCurrentWatermarkMs()
        frames = seq.close_before(int(wm // pane_ms), close) if wm > 0 else []

        quiet = seq.quiet()
        if quiet and not seq.pending:
            # no buffered points, no live clusters: drop the state
            if state.exists:
                state.remove()
        else:
            state.update((seq.encode(),))
            # wake when the watermark passes the next closeable pane end
            nxt = min(seq.pending) if quiet else seq.last_closed + 1
            state.setTimeoutTimestamp(max((nxt + 1) * pane_ms, wm + 1))

        frames = [f for f in frames if f is not None]
        if frames:
            yield pd.concat(frames, ignore_index=True)

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
    and fully parallel.  Its state partitions are the session's
    ``spark.sql.shuffle.partitions`` at the query's first start, kept by
    the checkpoint; each costs fixed CPU per micro-batch, shard or not.
    """
    prepared = points.withWatermark(ts_col, watermark_delay).select(
        *point_columns(cfg, id_col, ts_col, features_col, shard_col),
        # the watermarked event-time column must stay in the plan for
        # EventTimeTimeout; the stateful fn ignores it
        F.col(ts_col).alias("_event_ts"),
    )
    return prepared.groupBy("shard").applyInPandasWithState(
        _make_stateful_fn(cfg),
        outputStructType=STREAM_OUTLIER_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
