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
   KNearestClusterProcessor to PointPruningProcessor).  Stage A's rows
   are grouped by ``(shard, window_id)`` — a window cluster on the
   window its pane closes, an assignment on each window that holds its
   pane — and an ``applyInArrow`` function runs the vectorized
   KNN→KDE→KLOME→top-N pipeline on each window independently —
   **embarrassingly parallel across windows**, which is where the
   compute lives (O(C²) KNN + KDE).  The ×panes assignment duplication
   is the same cost Spark's own sliding ``window()`` pays.

The shuffle between A and B is the deliberate repartition to window
groups; everything upstream (feature extraction) is embarrassingly
parallel and everything inside stages is Arrow-vectorized NumPy.

``detect_outliers_streamwise`` runs the whole dataflow in stage A's
walker instead (one shuffle, no window groups), also Arrow batch in,
Arrow batch out.  Which plan is faster depends on the points per window
(ROADMAP direction G).
"""

from __future__ import annotations

import functools
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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
    if not len(col):
        return np.empty((0, 0))
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

        # Assignments carry empty, not null, aggregate lists: Arrow Java's
        # ListVector refills a run of null lists on every size check, and
        # the window stage's input writer checks its batch size per row,
        # so null runs cost JVM time quadratic in a window's points.
        no_list = np.empty((len(ids), 0))
        parts = [
            {
                **keys("a", len(ids)),
                "cluster_id": np.asarray(assignments, dtype=np.int64),
                "point_id": ids,
                "features": X,
                "linear_sums": no_list,
                "mins": no_list,
                "maxs": no_list,
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


def _table(parts: List[dict], schema: pa.Schema) -> pa.Table:
    """``_record_batch`` of the parts as a table; no parts, no rows."""
    if not parts:
        return schema.empty_table()
    return pa.Table.from_batches([_record_batch(parts, schema)])


def _window_input(
    table: pa.Table,
) -> Tuple["core.OrderedMap[int, core.WindowCluster]", np.ndarray, np.ndarray, np.ndarray]:
    """One window group's stage-A rows as its ``WindowCluster``s in
    ascending cluster-id order, then its points' (ids, cluster ids,
    features)."""
    batch = table.combine_chunks().to_batches()[0]
    is_w = pc.equal(batch.column("row_type"), "w")
    clusters = batch.filter(is_w).sort_by("cluster_id")
    points = batch.filter(pc.invert(is_w))
    lin, cent, mins, maxs = (
        _features(clusters.column(name))
        for name in ("linear_sums", "features", "mins", "maxs")
    )
    sizes = clusters.column("size").to_pylist()
    return (
        {
            cid: core.WindowCluster(cid, sizes[i], lin[i], cent[i], mins[i], maxs[i])
            for i, cid in enumerate(clusters.column("cluster_id").to_pylist())
        },
        points.column("point_id").to_numpy(),
        points.column("cluster_id").to_numpy(),
        _features(points.column("features")),
    )


def _make_window_fn(cfg: KelosConfig):
    schema = to_arrow_schema(OUTLIER_SCHEMA)

    def window_fn(key: tuple, table: pa.Table) -> pa.Table:
        wcs, *points = _window_input(table)
        if not wcs:
            return schema.empty_table()
        outliers, _flags, _cands = core.window_pipeline(
            wcs, *points, cfg.k, cfg.n, cfg.kernel
        )
        shard, window_id = key[0].as_py(), key[1].as_py()
        parts = [outlier_columns(shard, window_id, outliers, cfg)] if outliers else []
        return _table(parts, schema)

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
    doubling e2e cost).  Hash placement: ``pages_batch``'s 8 shards land
    3/3/2/0 on 4 partitions; exact placement measured flat (ROADMAP)."""
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
    assignment explode, no window groups."""

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
    """Flagship query, shard-streamwise physical plan (one shuffle, one
    task per shard).  Whether it beats the window-parallel
    ``detect_outliers`` depends on the points per window, not on shards
    against cores: on 4 cores it was slower at 3,000-point windows even
    with 8 shards, and faster only at light windows on a small input
    (ROADMAP direction G has the measurements)."""
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
    schema = to_arrow_schema(DEBUG_SCHEMA)

    def fn(key: tuple, table: pa.Table) -> pa.Table:
        wcs, *points = _window_input(table)
        if not wcs:
            return schema.empty_table()
        survivors, flags = core.score_clusters(wcs, cfg.k, cfg.n, cfg.kernel)
        cand_pids, cand_X = core.flagged_candidates(flags, *points)

        def keys(row_type: str, n: int) -> dict:
            return {
                "row_type": np.full(n, row_type),
                "shard": np.full(n, key[0].as_py(), dtype=np.int64),
                "window_id": np.full(n, key[1].as_py(), dtype=np.int64),
            }

        parts = []
        if survivors:
            kept = list(survivors.values())
            n = len(kept)
            parts.append({
                **keys("c", n),
                "cluster_id": np.fromiter(survivors, np.int64, n),
                "size": np.fromiter((wc.size for wc in kept), np.int64, n),
                "centroid": np.stack([wc.centroid for wc in kept]),
                **{
                    name: np.fromiter((getattr(wc, name) for wc in kept), np.float64, n)
                    for name in ("density", "min_density_bound", "max_density_bound")
                },
                "might_contain_outliers": np.fromiter(
                    (flags[cid] for cid in survivors), bool, n
                ),
            })
        if len(cand_pids):
            parts.append({
                **keys("p", len(cand_pids)), "point_id": cand_pids, "features": cand_X,
            })
        return _table(parts, schema)

    return fn


def _window_groups(stage_a: DataFrame, cfg: KelosConfig):
    """Stage A's rows grouped by (shard, window_id): a window cluster on
    the window its pane closes, an assignment on each of the
    ``panes_per_window`` windows that hold its pane."""
    pane = F.col("pane_id")
    window_ids = F.when(
        F.col("row_type") == "a",
        F.sequence(pane, pane + F.lit(cfg.panes_per_window - 1)),
    ).otherwise(F.array(pane))
    return stage_a.select(
        *(c for c in STAGE_A_SCHEMA.fieldNames() if c != "pane_id"),
        F.explode(window_ids).alias("window_id"),
    ).groupBy("shard", "window_id")


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
    returns {'assignments': ..., 'clusters': ..., 'candidates': ...}.
    Stage A and the window stage are cached so that reading all three
    tables runs each once; the caller may ``unpersist`` them, or
    ``spark.catalog.clearCache()``, when done."""
    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    stage_a = run_stage_a(points, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    assignments = stage_a.filter(F.col("row_type") == "a").select(
        "shard", "pane_id", "point_id", "cluster_id", "features"
    )
    debug = (
        _window_groups(stage_a, cfg)
        .applyInArrow(_make_debug_window_fn(cfg), DEBUG_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
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
    Stage A feeds the window stage directly; nothing is cached.
    """
    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    return _window_groups(run_stage_a(points, cfg), cfg).applyInArrow(
        _make_window_fn(cfg), OUTLIER_SCHEMA
    )
