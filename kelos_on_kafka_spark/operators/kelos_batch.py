"""Batch KELOS engine — Spark-first orchestration of the shared NumPy
kernel (``kelos_on_kafka_spark.core``).

One physical plan, the reference's: each shard's whole KELOS dataflow
runs in one partition (InputProducer.java:67), because the greedy pane
clustering is order-dependent (SURVEY.md §7.3) and cannot be split
within a shard without changing results.  Input is hash-partitioned by
shard and sorted ``(shard, pane_id, point_id)`` within partitions; one
``mapInArrow`` iterator walks the sorted Arrow batches pane by pane with
**bounded memory** (a ``core.PaneSequence`` per shard buffers one pane
at a time) and closes each pane through ``core.close_pane``: clustering
with carried clusters, window synthesis, KNN → KDE → KLOME → top-N.
Arrow batch in, Arrow batch out; one shuffle (the shard sort), and
parallelism = #shards.

``detect_outliers`` emits each window's top-N outliers; ``debug_walk``
runs the same walk and emits the window's intermediate tables instead,
which ``debug_tables`` splits apart.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
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
    batches: Iterator[pa.RecordBatch], cfg: KelosConfig, emit
) -> Iterator[list]:
    """Walk Arrow batches sorted by ``(shard, pane_id, point_id)`` with
    bounded memory: each shard gets a fresh ``core.PaneSequence``, which
    holds one pane at a time and closes the shard's panes in order
    through ``core.close_pane``.  ``emit(shard, result, ring)`` returns a
    closed pane's list of outputs; they are yielded once per input batch
    that closed a pane, and once more after the last batch."""
    # the last segment's shard, its pane sequence and its pane
    shard: Optional[int] = None
    seq, pane = core.PaneSequence(), 0
    out: list = []

    def close(state, ring, pane_id, ids, X) -> list:
        result, _ = core.close_pane(
            state, ring, pane_id, ids, X, cfg.distance_threshold, cfg.k,
            cfg.n, cfg.panes_per_window, cfg.kernel,
        )
        return emit(shard, result, ring)

    def close_before(bound: int) -> None:
        for parts in seq.close_before(bound, close):
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


def _walk(points: DataFrame, cfg: KelosConfig, emit, schema: StructType) -> DataFrame:
    """``_walk_panes`` over ``points`` in one ``mapInArrow``: the column
    parts ``emit`` returns, written as batches of ``schema``."""
    arrow_schema = to_arrow_schema(schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for parts in _walk_panes(batches, cfg, emit):
            yield _record_batch(parts, arrow_schema)

    return _sorted_by_shard(points).mapInArrow(fn, schema)


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

    def emit(shard, result, ring) -> List[dict]:
        if not result.outliers:
            return []
        return [outlier_columns(shard, result.pane_id, result.outliers, cfg)]

    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    return _walk(points, cfg, emit, OUTLIER_SCHEMA)


# The plan's name before it was the only one.
detect_outliers_streamwise = detect_outliers


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


# The walker's output for ``debug_walk``, one union of ``debug_tables``' three
# tables: 'a' = a pane's point assignment (its pane in ``window_id``: a
# window has the id of the pane that closes it), 'c' = scored cluster
# (CLUSTER_DEBUG_SCHEMA), 'p' = candidate point (CANDIDATE_DEBUG_SCHEMA).
DEBUG_SCHEMA = StructType(
    [StructField("row_type", StringType())]
    + CLUSTER_DEBUG_SCHEMA.fields
    + CANDIDATE_DEBUG_SCHEMA.fields[2:]
)


def _debug_parts(shard: int, result: core.WindowResult, ring) -> List[dict]:
    """Column parts of one closed pane: its point assignments, then its
    window's scored clusters and candidates.  Mirrors the reference's
    cluster-assignments, densities and candidates topics
    (ClusterConsumer.java reads `densities`; CandidatesConsumer filters
    flag=true — SURVEY.md §2.1 S3-S4)."""

    def keys(row_type: str, n: int) -> dict:
        return {
            "row_type": np.full(n, row_type),
            "shard": np.full(n, shard, dtype=np.int64),
            "window_id": np.full(n, result.pane_id, dtype=np.int64),
        }

    parts = []
    ids, assignments, X = ring[-1]  # this pane's points, sorted by id
    if len(ids):
        parts.append({
            **keys("a", len(ids)), "cluster_id": assignments, "point_id": ids,
            "features": X,
        })
    flags = result.flags  # one flag per surviving cluster
    if flags:
        kept = [result.window_clusters[cid] for cid in flags]
        n = len(kept)
        parts.append({
            **keys("c", n),
            "cluster_id": np.fromiter(flags, np.int64, n),
            "size": np.fromiter((wc.size for wc in kept), np.int64, n),
            "centroid": np.stack([wc.centroid for wc in kept]),
            **{
                name: np.fromiter((getattr(wc, name) for wc in kept), np.float64, n)
                for name in ("density", "min_density_bound", "max_density_bound")
            },
            "might_contain_outliers": np.fromiter(flags.values(), bool, n),
        })
    cand_pids, cand_X = core.flagged_candidates(flags, *core.window_points(ring))
    if len(cand_pids):
        parts.append({
            **keys("p", len(cand_pids)), "point_id": cand_pids, "features": cand_X,
        })
    return parts


def debug_walk(
    df: DataFrame,
    cfg: KelosConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    ts_col: str = "ts",
    features_col: str = "features",
    shard_col: Optional[str] = None,
) -> DataFrame:
    """The pane walk behind ``debug_tables``, persisted: its
    ``DEBUG_SCHEMA`` rows.  ``unpersist`` it when its tables are read."""
    points = prepare_points(df, cfg, id_col, ts_col, features_col, shard_col)
    return _walk(points, cfg, _debug_parts, DEBUG_SCHEMA).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def debug_tables(debug: DataFrame) -> dict:
    """The reference's debug topic surfaces as DataFrames
    (cluster-assignments / densities / candidates; SURVEY.md §2.1 S3-S4):
    {'assignments': ..., 'clusters': ..., 'candidates': ...} of one
    ``debug_walk``.  All three read its persisted rows, so reading them
    runs the walk once."""
    row_type = F.col("row_type")
    return {
        "assignments": debug.filter(row_type == "a").select(
            "shard", F.col("window_id").alias("pane_id"), "point_id",
            "cluster_id", "features",
        ),
        "clusters": debug.filter(row_type == "c").select(
            *CLUSTER_DEBUG_SCHEMA.fieldNames()
        ),
        "candidates": debug.filter(row_type == "p").select(
            *CANDIDATE_DEBUG_SCHEMA.fieldNames()
        ),
    }

