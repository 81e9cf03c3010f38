"""Spark batch engine vs the pure-NumPy oracle: the engine must reproduce
the oracle's windows, outlier ids, ranks and KLOME scores exactly (both
paths call the same kernel; the assertion checks the Spark plumbing —
pane grouping, window explode, the grouped window stage, Arrow
round-trips)."""

import numpy as np
import pytest

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import (
    detect_outliers,
    detect_outliers_streamwise,
)
from kelos_on_kafka_spark.sources.points import gmm_points, to_spark_points

CFG = KelosConfig(
    pane_seconds=10, panes_per_window=3, distance_threshold=0.25, k=20, n=20
)


def oracle_outliers(pdf, cfg):
    feats = np.stack([np.asarray(f) for f in pdf["features"]])
    results = core.run_stream(
        pdf["id"].to_numpy(),
        pdf["ts"].to_numpy(),
        feats,
        pane_seconds=cfg.pane_seconds,
        panes_per_window=cfg.panes_per_window,
        threshold=cfg.distance_threshold,
        k=cfg.k,
        n=cfg.n,
    )
    return {
        r.pane_id: [(o.rank, o.point_id, o.klome, o.density) for o in r.outliers]
        for r in results
    }


@pytest.mark.parametrize(
    "n_points,epw,gap_panes,arrow_batch",
    [
        pytest.param(600, 600, 0, None, id="600-600"),
        pytest.param(1500, 600, 0, None, id="1500-600"),
        # the second half of the points 20 panes later: the shard goes
        # quiet in between, a stretch the walkers skip and the oracle
        # closes pane by pane
        pytest.param(1200, 600, 20, None, id="gap"),
        # 37-row Arrow batches: panes split across walker input batches,
        # and each window group arrives in several Arrow chunks
        pytest.param(1500, 600, 0, 37, id="small-arrow-batches"),
    ],
)
def test_batch_engine_matches_oracle(spark, n_points, epw, gap_panes, arrow_batch):
    pdf = gmm_points(
        n=n_points,
        seed=42,
        elements_per_window=epw,
        panes_per_window=CFG.panes_per_window,
        pane_seconds=CFG.pane_seconds,
    )
    pdf.loc[n_points // 2:, "ts"] += gap_panes * CFG.pane_seconds
    expected = oracle_outliers(pdf, CFG)
    expected_nonempty = {w: v for w, v in expected.items() if v}

    sdf = to_spark_points(spark, pdf)
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_conf)
    try:
        if arrow_batch is not None:
            spark.conf.set(batch_conf, str(arrow_batch))
        for operator in (detect_outliers, detect_outliers_streamwise):
            got_rows = operator(sdf, CFG).orderBy("window_id", "rank").collect()
            got = {}
            for row in got_rows:
                got.setdefault(row.window_id, []).append(
                    (row["rank"], row.point_id, row.klome, row.density)
                )

            assert set(got) == set(expected_nonempty), operator.__name__
            for w in expected_nonempty:
                assert got[w] == expected_nonempty[w], (operator.__name__, w)
    finally:
        spark.conf.set(batch_conf, old_batch)


def test_window_parallel_plan_has_no_cogroup_or_cache(spark):
    """``detect_outliers`` reads stage A's rows in one grouped Arrow
    window stage: no cogroup of two stage-A branches, and no cached
    stage A for that cogroup to read twice."""
    sdf = to_spark_points(spark, gmm_points(n=300, seed=3, elements_per_window=300))
    plan = detect_outliers(sdf, CFG)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    assert plan.count("FlatMapGroupsInArrow") == 1, plan


def test_streamwise_plan_matches_window_parallel_plan(spark):
    from kelos_on_kafka_spark.operators.kelos_batch import (
        detect_outliers_streamwise,
    )

    pdf = gmm_points(n=900, seed=13, elements_per_window=600)
    sdf = to_spark_points(spark, pdf)
    a = detect_outliers(sdf, CFG).orderBy("window_id", "rank").collect()
    b = (
        detect_outliers_streamwise(sdf, CFG)
        .orderBy("window_id", "rank")
        .collect()
    )
    assert [(r.window_id, r["rank"], r.point_id, r.klome, r.density) for r in a] == [
        (r.window_id, r["rank"], r.point_id, r.klome, r.density) for r in b
    ]
    assert len(a) > 0


def test_debug_tables_match_oracle_intermediates(spark):
    from kelos_on_kafka_spark.operators.kelos_batch import kelos_debug_tables

    pdf = gmm_points(n=600, seed=42, elements_per_window=600)
    feats = np.stack([np.asarray(f) for f in pdf["features"]])
    oracle = core.run_stream(
        pdf["id"].to_numpy(), pdf["ts"].to_numpy(), feats,
        pane_seconds=10, panes_per_window=3,
        threshold=0.25, k=20, n=20,
    )
    tabs = kelos_debug_tables(to_spark_points(spark, pdf), CFG)

    # assignments: every point assigned once per pane, cluster ids match
    arows = tabs["assignments"].collect()
    assert len(arows) == len(pdf)

    # clusters: densities/bounds/flags per window match the oracle
    crows = tabs["clusters"].collect()
    got = {
        (r.window_id, r.cluster_id): (
            r.size, r.density, r.min_density_bound,
            r.max_density_bound, r.might_contain_outliers,
        )
        for r in crows
    }
    for res in oracle:
        survivors = {
            cid: wc
            for cid, wc in res.window_clusters.items()
            if cid in res.flags
        }
        for cid, wc in survivors.items():
            assert got[(res.pane_id, cid)] == (
                wc.size, wc.density, wc.min_density_bound,
                wc.max_density_bound, res.flags[cid],
            ), (res.pane_id, cid)

    # candidates: the flagged-cluster semi-join matches
    krows = tabs["candidates"].collect()
    got_c = {}
    for r in krows:
        got_c.setdefault(r.window_id, set()).add(r.point_id)
    for res in oracle:
        assert got_c.get(res.pane_id, set()) == set(res.candidate_ids)


def test_batch_engine_sharding_isolates_streams(spark):
    # Two shards with identical data must produce identical, independent
    # results (per-shard sequential consistency).
    pdf = gmm_points(n=300, seed=7, elements_per_window=300)
    import pandas as pd

    # identical point ids in both shards: the algorithm is id-sensitive
    # (Q5 phantom id-0 neighbor, Q6 mixed-store collisions), so only
    # identical ids are expected to reproduce identical outputs
    two = pd.concat(
        [pdf.assign(shard=0), pdf.assign(shard=1)], ignore_index=True
    )

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        two, schema="id long, ts double, features array<double>, shard long"
    ).select(
        "id", F.timestamp_seconds("ts").alias("ts"), "features", "shard"
    )
    out = detect_outliers(sdf, CFG, shard_col="shard").collect()
    by_shard = {0: [], 1: []}
    for r in out:
        by_shard[r.shard].append((r.window_id, r["rank"], r.point_id, r.klome))
    assert sorted(by_shard[0]) == sorted(by_shard[1])
    assert len(by_shard[0]) > 0


def test_window_bounds_session_timezone_independent(spark):
    """Window bounds cross the Arrow boundary as tz-aware UTC instants,
    so a non-UTC session timezone must not shift the emitted epochs."""
    from pyspark.sql import functions as F

    pts = to_spark_points(
        spark, gmm_points(n=300, seed=3, elements_per_window=100)
    )

    def bounds():
        rows = (
            detect_outliers(pts, CFG)
            .select(
                F.unix_micros("window_start").alias("s"),
                F.unix_micros("window_end").alias("e"),
            )
            .distinct()
            .collect()
        )
        return sorted((r.s, r.e) for r in rows)

    utc = bounds()
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = bounds()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert utc == shifted and len(utc) > 0


@pytest.mark.parametrize("operator", ["detect_outliers", "detect_outliers_streamwise"])
@pytest.mark.parametrize(
    "features",
    [
        [[0.1, 0.2], None, [0.3, 0.4]],
        # 6 values = 3 points x 2 dims: a reshape alone would pass
        [[0.1, 0.2], [0.3], [0.4, 0.5, 0.6]],
    ],
    ids=["null", "ragged"],
)
def test_malformed_feature_lists_raise(spark, operator, features):
    """The pane walker reads features from the Arrow list's flat values;
    a null or ragged list must fail loudly, naming the column, instead of
    pairing points with another point's features."""
    import datetime

    from kelos_on_kafka_spark.operators import kelos_batch

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    sdf = spark.createDataFrame(
        [(i, ts, f) for i, f in enumerate(features, start=1)],
        schema="id long, ts timestamp, features array<double>",
    )
    # a worker error reaches the driver as a PythonException, possibly
    # wrapped in a Py4JJavaError
    with pytest.raises(Exception, match="ValueError: features column"):
        getattr(kelos_batch, operator)(sdf, CFG).collect()
