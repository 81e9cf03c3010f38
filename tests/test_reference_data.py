"""End-to-end compatibility with the reference's OWN evaluation data:
read gmm_test_data_unlabeled.csv exactly like InputProducer.java and run
the flagship query with the reference's default parameters; validate
against the NumPy oracle and the labeled file's LOF ground truth."""

import os

import numpy as np
import pandas as pd
import pytest

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import (
    detect_outliers_streamwise,
)
from kelos_on_kafka_spark.sources.csv_points import read_reference_csv

REF_CSV = "/root/reference/gmm_test_data_unlabeled.csv"
REF_LABELED = "/root/reference/gmm_test_data_labeled.csv"
CFG = KelosConfig()  # the reference's defaults (Main.java:29-36)
N_ROWS = 6000  # first 2 windows' worth keeps the test fast

pytestmark = pytest.mark.skipif(
    not (os.path.exists(REF_CSV) and os.path.exists(REF_LABELED)),
    reason="reference evaluation data not present in this checkout",
)


@pytest.fixture(scope="module")
def ref_points():
    pdf = pd.read_csv(REF_CSV, header=None, nrows=N_ROWS)
    return pdf


def test_csv_source_matches_reference_parsing(spark, ref_points):
    df = read_reference_csv(spark, REF_CSV, elements_per_window=3000)
    rows = df.where(f"id < {N_ROWS}").orderBy("id").collect()
    assert len(rows) == N_ROWS
    for i in (0, 1, 2999, 3000, N_ROWS - 1):
        assert rows[i].id == i
        np.testing.assert_allclose(
            rows[i].features, ref_points.iloc[i].to_numpy(), rtol=0
        )
    # pane stepping: 1000 rows per pane (3000/3, InputProducer.java:63-65)
    t0 = rows[0].ts
    assert rows[999].ts == t0
    assert (rows[1000].ts - t0).total_seconds() == 10


def test_engine_on_reference_gmm_matches_oracle(spark, ref_points):
    df = read_reference_csv(spark, REF_CSV, elements_per_window=3000).where(
        f"id < {N_ROWS}"
    )
    got_rows = detect_outliers_streamwise(df, CFG).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.window_id - 170_000_000, []).append(
            (r["rank"], r.point_id, r.klome)
        )

    X = ref_points.to_numpy(dtype=np.float64)
    ids = np.arange(N_ROWS, dtype=np.int64)
    ts = (ids // 1000) * 10.0
    oracle = core.run_stream(
        ids, ts, X,
        pane_seconds=CFG.pane_seconds,
        panes_per_window=CFG.panes_per_window,
        threshold=CFG.distance_threshold,
        k=CFG.k, n=CFG.n,
    )
    for res in oracle:
        exp = [(o.rank, o.point_id, o.klome) for o in res.outliers]
        assert got.get(res.pane_id, []) == exp, res.pane_id


def test_detected_outliers_overlap_lof_labels(spark):
    """Sanity vs the file's sklearn-LOF labels (the reference's own
    protocol, evaluate_gmm.py:22-39): detected outliers should overlap
    the LOF-labeled outliers far more than chance (~1%)."""
    labeled = pd.read_csv(REF_LABELED, header=None, nrows=N_ROWS)
    lof_out = set(labeled.index[labeled[2] == -1].tolist())
    df = read_reference_csv(
        spark, REF_CSV, elements_per_window=3000, cfg=KelosConfig(k=100)
    ).where(f"id < {N_ROWS}")
    rows = detect_outliers_streamwise(df, KelosConfig(k=100)).collect()
    full = [r for r in rows if (r.window_id - 170_000_000) >= 2]
    assert full
    hits = sum(1 for r in full if r.point_id in lof_out)
    overlap = hits / len(full)
    # measured 0.245 — ~25x the ~0.01 chance level; the reference
    # publishes no numeric LOF-similarity target (README.md:176-180)
    assert overlap >= 0.2, overlap
