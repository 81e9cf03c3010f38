"""Batch KELOS engine — Spark-first orchestration of the shared NumPy
kernel (``kelos_on_kafka_spark.core``).

Physical plan, designed for the 100 TB target:

1. **Stage A — pane clustering** (the only inherently sequential part,
   reference: ClusteringProcessorSupplier + AggregationProcessor).  Input
   is hash-partitioned by shard and sorted ``(shard, pane_id, point_id)``
   within partitions; a ``mapInArrow`` iterator walks the sorted Arrow
   batches pane-by-pane with **bounded memory** (one pane at a time — the
   whole group is never materialized), maintaining carry-over cluster
   state per shard exactly like the reference's
   TempClusters/ClusterStates/global store.  Emits a union-typed stream
   of per-point assignments and per-window cluster aggregates, one Arrow
   batch of numpy-built columns per input batch.  Parallelism = #shards: the greedy
   clustering is order-dependent (SURVEY.md §7.3), so within a shard it
   cannot be parallelized without changing results — the reference is
   single-partition for the same reason (InputProducer.java:67).

2. **Stage B — per-window detection** (everything from
   KNearestClusterProcessor to PointPruningProcessor).  Cluster aggregates
   and (window-exploded) assignments are cogrouped by ``(shard,
   window_id)`` and each window runs the vectorized KNN→KDE→KLOME→top-N
   pipeline independently — **embarrassingly parallel across windows**,
   which is where the compute lives (O(C²) KNN + KDE).  The ×panes
   assignment duplication is the same cost Spark's own sliding
   ``window()`` pays.

The shuffle between A and B is the deliberate repartition to window
groups; everything upstream (feature extraction) is embarrassingly
parallel and everything inside stages is Arrow-vectorized NumPy.

``detect_outliers_streamwise`` runs the whole dataflow in stage A's
walker instead (one shuffle, no cogroup), also Arrow batch in, Arrow
batch out.
"""

from __future__ import annotations

import functools
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.storagelevel import StorageLevel

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import DEFAULT_CONFIG, KelosConfig

# Stage-A caches created by detect_outliers / kelos_debug_tables.  The
# returned DataFrames are lazy, so the operators cannot unpersist before
# the caller's action runs — callers own the lifecycle: call
# release_persisted() (or spark.catalog.clearCache()) once results are
# materialized, or repeated invocations in a long-lived session
# accumulate cached partitions until storage eviction kicks in.
_PERSISTED: list = []


def _persist_stage(df: DataFrame) -> DataFrame:
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(out)
    return out


def release_persisted() -> int:
    """Unpersist every stage cache this module created; returns how many
    were released."""
    n = len(_PERSISTED)
    for df in _PERSISTED:
        df.unpersist(False)
    _PERSISTED.clear()
    return n


STAGE_A_SCHEMA = StructType(
    [
        StructField("row_type", StringType()),  # 'a'=assignment, 'w'=window cluster
        StructField("shard", LongType()),
        StructField("pane_id", LongType()),
        StructField("cluster_id", LongType()),
        StructField("point_id", LongType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("size", LongType()),
        StructField("linear_sums", ArrayType(DoubleType())),
        StructField("mins", ArrayType(DoubleType())),
        StructField("maxs", ArrayType(DoubleType())),
    ]
)

OUTLIER_SCHEMA = StructType(
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
    ]
)


def _features(col: pa.ListArray) -> np.ndarray:
    """A batch's ``features`` list column as an (n, d) matrix, read from
    the list's flat values and offsets.  A null or ragged list would
    shift every later point onto another point's features, so either
    one raises."""
    offsets = col.offsets.to_numpy()
    lengths = np.diff(offsets)
    if col.null_count or (lengths != lengths[0]).any():
        raise ValueError(
            "features column: every point needs a non-null feature list "
            f"of one length; a batch has {col.null_count} null list(s) "
            f"and list lengths {sorted(set(lengths.tolist()))}"
        )
    values = col.values.to_numpy(zero_copy_only=False)
    return values[offsets[0]:offsets[-1]].reshape(len(col), lengths[0])


def _walk_panes(
    batches: Iterator[pa.RecordBatch], close
) -> Iterator[list]:
    """Walk Arrow batches sorted by ``(shard, pane_id, point_id)`` with
    bounded memory: each shard gets a fresh ``core.PaneSequence``, which
    holds one pane at a time and closes the shard's panes in order.
    ``close(shard, state, ring, pane, ids, X)`` returns a list of
    outputs; they are yielded once per input batch that closed a pane,
    and once more after the last batch."""
    # the last segment's shard, its pane sequence and its pane
    shard: Optional[int] = None
    seq, pane = core.PaneSequence(), 0
    out: list = []

    def close_before(bound: int) -> None:
        for parts in seq.close_before(bound, functools.partial(close, shard)):
            out.extend(parts)

    for batch in batches:
        if batch.num_rows == 0:
            continue
        shards = batch.column("shard").to_numpy()
        panes = batch.column("pane_id").to_numpy()
        pids = batch.column("point_id").to_numpy()
        feats = _features(batch.column("features"))
        # split the sorted batch at (shard, pane) boundaries
        change = np.nonzero(
            (shards[1:] != shards[:-1]) | (panes[1:] != panes[:-1])
        )[0]
        starts = np.concatenate([[0], change + 1])
        ends = np.concatenate([change + 1, [batch.num_rows]])
        for s, e in zip(starts, ends):
            if int(shards[s]) != shard:
                close_before(pane + 1)
                shard, seq = int(shards[s]), core.PaneSequence()
            pane = int(panes[s])
            close_before(pane)
            seq.add(pane, pids[s:e], feats[s:e])
        if out:
            yield out
            out = []
    close_before(pane + 1)
    if out:
        yield out


def _record_batch(parts: List[dict], schema: pa.Schema) -> pa.RecordBatch:
    """One Arrow batch of ``schema`` from column parts.  A part maps field
    names to numpy columns of one length (a list field: a 2-D array, one
    list per row); a field a part leaves out is null in its rows."""
    sizes = [len(next(iter(p.values()))) for p in parts]
    arrays = []
    for field in schema:
        cols = [p.get(field.name) for p in parts]
        valid = np.concatenate(
            [np.full(n, c is not None) for n, c in zip(sizes, cols)]
        )
        if not valid.any():
            arrays.append(pa.nulls(len(valid), field.type))
            continue
        mask = None if valid.all() else ~valid
        if pa.types.is_list(field.type):
            rows = [np.empty((n, 0)) if c is None else c for n, c in zip(sizes, cols)]
            lengths = np.concatenate(
                [np.full(n, r.shape[1], dtype=np.int32) for n, r in zip(sizes, rows)]
            )
            offsets = np.concatenate([[0], np.cumsum(lengths, dtype=np.int32)])
            values = pa.array(
                np.concatenate([r.ravel() for r in rows]), type=field.type.value_type
            )
            arrays.append(pa.ListArray.from_arrays(
                offsets, values, mask=None if mask is None else pa.array(mask)
            ))
        else:
            dtype = next(c.dtype for c in cols if c is not None)
            values = np.concatenate(
                [np.zeros(n, dtype) if c is None else c for n, c in zip(sizes, cols)]
            )
            arrays.append(pa.array(values, type=field.type, mask=mask))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _make_stage_a_fn(cfg: KelosConfig):
    schema = to_arrow_schema(STAGE_A_SCHEMA)

    def close(shard, state, ring, pane, ids, X) -> List[dict]:
        """Column parts of one closed pane: its point assignments, then
        its window's cluster aggregates."""
        ids, X, assignments, window_clusters = core.advance_pane(
            state, ids, X, cfg.distance_threshold, cfg.k, cfg.panes_per_window
        )

        def keys(row_type: str, n: int) -> dict:
            return {
                "row_type": np.full(n, row_type),
                "shard": np.full(n, shard, dtype=np.int64),
                "pane_id": np.full(n, pane, dtype=np.int64),
            }

        parts = [
            {
                **keys("a", len(ids)),
                "cluster_id": np.asarray(assignments, dtype=np.int64),
                "point_id": ids,
                "features": X,
            }
        ]
        if window_clusters:
            wcs = list(window_clusters.values())
            parts.append(
                {
                    **keys("w", len(wcs)),
                    "cluster_id": np.fromiter(window_clusters, np.int64, len(wcs)),
                    "features": np.stack([wc.centroid for wc in wcs]),
                    "size": np.fromiter((wc.size for wc in wcs), np.int64, len(wcs)),
                    "linear_sums": np.stack([wc.linear_sums for wc in wcs]),
                    "mins": np.stack([wc.mins for wc in wcs]),
                    "maxs": np.stack([wc.maxs for wc in wcs]),
                }
            )
        return parts

    def stage_a(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for parts in _walk_panes(batches, close):
            yield _record_batch(parts, schema)

    return stage_a


def outlier_columns(
    shard: int, window_id: int, outliers: List[core.Outlier], cfg: KelosConfig
) -> dict:
    """``OUTLIER_SCHEMA`` columns of one window's (non-empty) top-N
    outliers as numpy arrays: window bounds in epoch microseconds,
    features as an (n, d) matrix."""
    n = len(outliers)
    pane_us = cfg.pane_seconds * 1_000_000
    start_us = (window_id + 1 - cfg.panes_per_window) * pane_us
    return {
        "shard": np.full(n, shard, dtype=np.int64),
        "window_id": np.full(n, window_id, dtype=np.int64),
        "window_start": np.full(n, start_us, dtype=np.int64),
        "window_end": np.full(n, (window_id + 1) * pane_us, dtype=np.int64),
        "rank": np.fromiter((o.rank for o in outliers), np.int32, n),
        "point_id": np.fromiter((o.point_id for o in outliers), np.int64, n),
        "klome": np.fromiter((o.klome for o in outliers), np.float64, n),
        "density": np.fromiter((o.density for o in outliers), np.float64, n),
        "features": np.stack([o.features for o in outliers]),
    }


def outliers_frame(
    shard: int, window_id: int, outliers: List[core.Outlier], cfg: KelosConfig
) -> pd.DataFrame:
    """``OUTLIER_SCHEMA`` rows of one window's (non-empty) top-N outliers."""
    cols = outlier_columns(shard, window_id, outliers, cfg)
    for bound in ("window_start", "window_end"):
        cols[bound] = pd.to_datetime(cols[bound], unit="us", utc=True)
    cols["features"] = cols["features"].tolist()
    return pd.DataFrame(cols)


def _window_clusters(
    clusters_pdf: pd.DataFrame,
) -> "core.OrderedMap[int, core.WindowCluster]":
    """One window's stage-A cluster rows as ``WindowCluster``s in
    ascending cluster-id order."""
    wcs: "core.OrderedMap[int, core.WindowCluster]" = {}
    for row in clusters_pdf.sort_values("cluster_id").itertuples(index=False):
        cid = int(row.cluster_id)
        wcs[cid] = core.WindowCluster(
            cluster_id=cid,
            size=int(row.size),
            linear_sums=np.asarray(row.linear_sums, dtype=np.float64),
            centroid=np.asarray(row.features, dtype=np.float64),
            mins=np.asarray(row.mins, dtype=np.float64),
            maxs=np.asarray(row.maxs, dtype=np.float64),
        )
    return wcs


def _window_points(
    assigns_pdf: pd.DataFrame,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One window's exploded assignment rows as (point ids, cluster ids,
    features)."""
    if assigns_pdf.empty:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.empty((0, 0))
    return (
        assigns_pdf["point_id"].to_numpy(dtype=np.int64),
        assigns_pdf["p_cluster_id"].to_numpy(dtype=np.int64),
        np.stack(
            [np.asarray(f, dtype=np.float64) for f in assigns_pdf["p_features"]]
        ),
    )


def _make_window_fn(cfg: KelosConfig):
    def window_fn(
        key: tuple, clusters_pdf: pd.DataFrame, assigns_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        if not clusters_pdf.empty:
            outliers, _flags, _cands = core.window_pipeline(
                _window_clusters(clusters_pdf),
                *_window_points(assigns_pdf),
                cfg.k, cfg.n, cfg.kernel,
            )
            if outliers:
                return outliers_frame(int(key[0]), int(key[1]), outliers, cfg)
        return pd.DataFrame(columns=OUTLIER_SCHEMA.fieldNames())

    return window_fn


def point_columns(
    cfg: KelosConfig,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
) -> list:
    """The engine's point model ``(shard, point_id, pane_id, features)``
    as columns over an input DataFrame.  Pane assignment is
    epoch-aligned: ``pane_id = floor(unix_micros(ts) / pane_micros)``."""
    pane_us = cfg.pane_seconds * 1_000_000
    shard = F.col(shard_col).cast("long") if shard_col else F.lit(0).cast("long")
    return [
        shard.alias("shard"),
        F.col(id_col).cast("long").alias("point_id"),
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(pane_us))
        .cast("long")
        .alias("pane_id"),
        F.col(features_col).cast("array<double>").alias("features"),
    ]


def prepare_points(
    df: DataFrame,
    cfg: KelosConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
) -> DataFrame:
    """Normalize an input DataFrame to the engine's point model
    (``point_columns``)."""
    return df.select(*point_columns(cfg, id_col, ts_col, features_col, shard_col))


def _sorted_by_shard(points: DataFrame) -> DataFrame:
    """Give each task a contiguous, pane-ordered view of its shards, the
    input the pane walker needs.

    Hash repartition on shard: single-pass (repartitionByRange's sampler
    re-evaluates the whole upstream — incl. the feature UDF — once more,
    doubling e2e cost).  Balance comes from shards >> partitions (hash
    collisions average out)."""
    n_part = points.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return points.repartition(int(n_part), "shard").sortWithinPartitions(
        "shard", "pane_id", "point_id"
    )


def run_stage_a(points: DataFrame, cfg: KelosConfig = DEFAULT_CONFIG) -> DataFrame:
    """Sequential-per-shard pane clustering + window synthesis; the
    mapInArrow iterator holds only one pane in memory at a time."""
    return _sorted_by_shard(points).mapInArrow(
        _make_stage_a_fn(cfg), STAGE_A_SCHEMA
    )


def _make_streamwise_fn(cfg: KelosConfig):
    """Whole KELOS dataflow per shard inside one sorted pass: pane close ->
    clustering -> window synthesis -> KNN/KDE/KLOME -> top-N, emitting
    outlier rows directly.  One shuffle total (the shard sort), no
    assignment explode, no cogroup — the right physical plan when
    #shards >= #cores."""

    schema = to_arrow_schema(OUTLIER_SCHEMA)

    def close(shard, state, ring, pane, ids, X) -> List[dict]:
        result, _ = core.close_pane(
            state, ring, pane, ids, X, cfg.distance_threshold, cfg.k,
            cfg.n, cfg.panes_per_window, cfg.kernel,
        )
        if not result.outliers:
            return []
        return [outlier_columns(shard, pane, result.outliers, cfg)]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for parts in _walk_panes(batches, close):
            yield _record_batch(parts, schema)

    return fn


def detect_outliers_streamwise(
    df: DataFrame,
    cfg: KelosConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
) -> DataFrame:
    """Flagship query, shard-streamwise physical plan (one shuffle; use
    when #shards >= #cores — see detect_outliers for the window-parallel
    plan used when shards are few)."""
    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    return _sorted_by_shard(points).mapInArrow(
        _make_streamwise_fn(cfg), OUTLIER_SCHEMA
    )


CLUSTER_DEBUG_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("window_id", LongType()),
        StructField("cluster_id", LongType()),
        StructField("size", LongType()),
        StructField("centroid", ArrayType(DoubleType())),
        StructField("density", DoubleType()),
        StructField("min_density_bound", DoubleType()),
        StructField("max_density_bound", DoubleType()),
        StructField("might_contain_outliers", BooleanType()),
    ]
)

CANDIDATE_DEBUG_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("window_id", LongType()),
        StructField("point_id", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


# Union of both debug tables, split by ``kelos_debug_tables``:
# 'c' = scored cluster (CLUSTER_DEBUG_SCHEMA), 'p' = candidate point
# (CANDIDATE_DEBUG_SCHEMA).
DEBUG_SCHEMA = StructType(
    [StructField("row_type", StringType())]
    + CLUSTER_DEBUG_SCHEMA.fields
    + CANDIDATE_DEBUG_SCHEMA.fields[2:]
)


def _make_debug_window_fn(cfg: KelosConfig):
    """Debug taps mirroring the reference's densities/candidates topics
    (ClusterConsumer.java reads `densities`; CandidatesConsumer filters
    flag=true — SURVEY.md §2.1 S4), both from one pass per window."""

    def fn(key, clusters_pdf, assigns_pdf):
        shard, window_id = int(key[0]), int(key[1])
        if clusters_pdf.empty:
            return pd.DataFrame(columns=DEBUG_SCHEMA.fieldNames())
        survivors, flags = core.score_clusters(
            _window_clusters(clusters_pdf), cfg.k, cfg.n, cfg.kernel
        )
        cand_pids, cand_X = core.flagged_candidates(
            flags, *_window_points(assigns_pdf)
        )
        rows = [
            ("c", shard, window_id, int(cid), int(wc.size),
             [float(v) for v in wc.centroid], wc.density,
             wc.min_density_bound, wc.max_density_bound, flags[cid],
             None, None)
            for cid, wc in survivors.items()
        ]
        rows.extend(
            ("p", shard, window_id, None, None, None, None, None, None, None,
             int(pid), [float(v) for v in x])
            for pid, x in zip(cand_pids, cand_X)
        )
        return pd.DataFrame(rows, columns=DEBUG_SCHEMA.fieldNames())

    return fn


def _window_groups(stage_a: DataFrame, cfg: KelosConfig):
    """Stage A's window clusters cogrouped with its assignments exploded
    to every window their pane belongs to, keyed by (shard, window_id)."""
    wdf = stage_a.filter(F.col("row_type") == "w").select(
        "shard",
        F.col("pane_id").alias("window_id"),
        "cluster_id",
        "features",
        "size",
        "linear_sums",
        "mins",
        "maxs",
    )
    offsets = F.array(*[F.lit(i) for i in range(cfg.panes_per_window)])
    # Fresh aliases on the assignment side: both cogroup branches derive
    # from the same stage-A plan, so same-named attributes share exprIds
    # and Spark's cogroup dedup can prune them from one side under AQE.
    adf = (
        stage_a.filter(F.col("row_type") == "a")
        .withColumn("off", F.explode(offsets))
        .withColumn("window_id", F.col("pane_id") + F.col("off"))
        .select(
            "shard",
            "window_id",
            F.col("cluster_id").alias("p_cluster_id"),
            "point_id",
            F.col("features").alias("p_features"),
        )
    )
    return wdf.groupBy("shard", "window_id").cogroup(
        adf.groupBy("shard", "window_id")
    )


def kelos_debug_tables(
    df: DataFrame,
    cfg: KelosConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
) -> dict:
    """The reference's debug topic surfaces as DataFrames
    (cluster-assignments / densities / candidates; SURVEY.md §2.1 S3-S4):
    returns {'assignments': ..., 'clusters': ..., 'candidates': ...}."""
    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    stage_a = _persist_stage(run_stage_a(points, cfg))
    assignments = stage_a.filter(F.col("row_type") == "a").select(
        "shard", "pane_id", "point_id", "cluster_id", "features"
    )
    debug = _persist_stage(
        _window_groups(stage_a, cfg).applyInPandas(
            _make_debug_window_fn(cfg), DEBUG_SCHEMA
        )
    )
    return {
        "assignments": assignments,
        "clusters": debug.filter(F.col("row_type") == "c").select(
            *CLUSTER_DEBUG_SCHEMA.fieldNames()
        ),
        "candidates": debug.filter(F.col("row_type") == "p").select(
            *CANDIDATE_DEBUG_SCHEMA.fieldNames()
        ),
    }


def detect_outliers(
    df: DataFrame,
    cfg: KelosConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
) -> DataFrame:
    """Top-N outliers per sliding window — the engine's flagship query.

    Returns a DataFrame with schema ``OUTLIER_SCHEMA`` ordered by
    (shard, window_id, rank) semantics (call ``orderBy`` for display).
    """
    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    stage_a = _persist_stage(run_stage_a(points, cfg))
    return _window_groups(stage_a, cfg).applyInPandas(
        _make_window_fn(cfg), OUTLIER_SCHEMA
    )
