"""Deterministic point-stream fixtures mirroring the reference's
evaluation data (gmm_generator.py:7-31) and its producer's pane-stepped
timestamping (InputProducer.java:46,63-67): every
``elements_per_window / panes_per_window`` records the timestamp advances
by one pane, so each pane's points share one timestamp."""

from __future__ import annotations

import numpy as np
import pandas as pd

GMM_WEIGHTS = [0.6, 0.3, 0.1]
GMM_MEANS = [[0.0, 0.0], [5.0, 0.0], [3.0, 4.0]]
GMM_COVS = [
    [[1.0, -0.5], [-0.5, 1.0]],
    [[1.0, 0.2], [0.2, 1.0]],
    [[2.0, 0.0], [0.0, 2.0]],
]


def gmm_points(
    n: int = 3000,
    seed: int = 42,
    elements_per_window: int = 3000,
    panes_per_window: int = 3,
    pane_seconds: int = 10,
    decimals: int = 5,
) -> pd.DataFrame:
    """Sample the reference's 3-component 2-D Gaussian mixture, shuffle,
    round to 5 decimals (the reference writes ``float_format='%.5f'``),
    and assign pane-stepped timestamps.

    Returns a pandas DataFrame ``(id:int64, ts:float seconds,
    features:list[float])``.
    """
    rng = np.random.default_rng(seed)
    counts = rng.multinomial(n, GMM_WEIGHTS)
    parts = [
        rng.multivariate_normal(GMM_MEANS[i], GMM_COVS[i], counts[i])
        for i in range(len(GMM_WEIGHTS))
    ]
    data = np.concatenate(parts, axis=0)
    rng.shuffle(data)
    data = np.round(data, decimals)

    per_pane = max(1, elements_per_window // panes_per_window)
    ids = np.arange(n, dtype=np.int64)
    ts = (ids // per_pane).astype(np.float64) * pane_seconds
    return pd.DataFrame(
        {"id": ids, "ts": ts, "features": [list(row) for row in data]}
    )


def to_spark_points(spark, pdf: pd.DataFrame):
    """Convert a fixture frame to the engine's Spark input shape
    ``(id:long, ts:timestamp, features:array<double>)``.  Kept for
    tests: the fixture builder of test_spark_batch and test_epanechnikov."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        pdf, schema="id long, ts double, features array<double>"
    )
    return sdf.select(
        "id",
        F.timestamp_seconds(F.col("ts")).alias("ts"),
        "features",
    )
