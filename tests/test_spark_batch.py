"""Spark batch engine vs the pure-NumPy oracle: the engine must reproduce
the oracle's windows, outlier ids, ranks and KLOME scores exactly (both
paths call the same kernel; the assertion checks the Spark plumbing —
shard sort, the pane walk across Arrow batches, Arrow round-trips)."""

import contextlib

import numpy as np
import pytest

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.operators.kelos_batch import (
    debug_tables,
    debug_walk,
    detect_outliers,
)
from kelos_on_kafka_spark.sources.points import gmm_points, to_spark_points

CFG = KelosConfig(
    pane_seconds=10, panes_per_window=3, distance_threshold=0.25, k=20, n=20
)


def oracle_results(pdf, cfg):
    feats = np.stack([np.asarray(f) for f in pdf["features"]])
    return core.run_stream(
        pdf["id"].to_numpy(),
        pdf["ts"].to_numpy(),
        feats,
        pane_seconds=cfg.pane_seconds,
        panes_per_window=cfg.panes_per_window,
        threshold=cfg.distance_threshold,
        k=cfg.k,
        n=cfg.n,
    )


def oracle_outliers(pdf, cfg):
    return {
        r.pane_id: [(o.rank, o.point_id, o.klome, o.density) for o in r.outliers]
        for r in oracle_results(pdf, cfg)
    }


CASES = {
    "600-600": (600, 600, 0, None),
    "1500-600": (1500, 600, 0, None),
    # the second half of the points 20 panes later: the shard goes
    # quiet in between, a stretch the walker skips and the oracle
    # closes pane by pane
    "gap": (1200, 600, 20, None),
    # 37-row Arrow batches: panes split across walker input batches
    "small-arrow-batches": (1500, 600, 0, 37),
}


def case_points(n_points, epw, gap_panes):
    pdf = gmm_points(
        n=n_points,
        seed=42,
        elements_per_window=epw,
        panes_per_window=CFG.panes_per_window,
        pane_seconds=CFG.pane_seconds,
    )
    pdf.loc[n_points // 2:, "ts"] += gap_panes * CFG.pane_seconds
    return pdf


@contextlib.contextmanager
def arrow_batch_rows(spark, arrow_batch):
    """Arrow batches of ``arrow_batch`` rows (None: the session's) for
    the block."""
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_conf)
    try:
        if arrow_batch is not None:
            spark.conf.set(batch_conf, str(arrow_batch))
        yield
    finally:
        spark.conf.set(batch_conf, old_batch)


@pytest.mark.parametrize(
    "n_points,epw,gap_panes,arrow_batch",
    [pytest.param(*args, id=case) for case, args in CASES.items()],
)
def test_batch_engine_matches_oracle(spark, n_points, epw, gap_panes, arrow_batch):
    pdf = case_points(n_points, epw, gap_panes)
    expected = oracle_outliers(pdf, CFG)
    expected_nonempty = {w: v for w, v in expected.items() if v}

    sdf = to_spark_points(spark, pdf)
    with arrow_batch_rows(spark, arrow_batch):
        got_rows = detect_outliers(sdf, CFG).orderBy("window_id", "rank").collect()
    got = {}
    for row in got_rows:
        got.setdefault(row.window_id, []).append(
            (row["rank"], row.point_id, row.klome, row.density)
        )

    assert set(got) == set(expected_nonempty)
    for w in expected_nonempty:
        assert got[w] == expected_nonempty[w], w


def test_batch_plans_walk_each_shard_once(spark):
    """``detect_outliers`` is one pane walk per shard: one ``MapInArrow``
    after the shard sort, with no grouped window stage and no explode
    of points onto windows.  ``debug_tables``' three tables read
    one cached walk: reading all three persists one RDD."""
    sdf = to_spark_points(spark, gmm_points(n=300, seed=3, elements_per_window=300))
    plan = detect_outliers(sdf, CFG)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInArrow" not in plan and "Generate" not in plan, plan

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    try:
        for table in debug_tables(debug_walk(sdf, CFG)).values():
            table.collect()
            plan = table._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan
        after = set(jsc.getPersistentRDDs())
        assert len(after - before) == 1, after - before
    finally:
        spark.catalog.clearCache()


def test_driver_debug_queries_hold_one_walk(spark):
    """The driver's three debug queries of one scale factor read one
    persisted walk; building the next scale factor's walk unpersists the
    previous one, so a session holds at most one."""
    import os

    import __spark_entry__ as entry_mod

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    held = []
    try:
        for sf in ("sf0.001", "sf0.01"):
            sf_dir = os.path.join(os.path.dirname(entry_mod.SF_DEFAULT), sf)
            for query in (
                entry_mod.q_kelos_assignments,
                entry_mod.q_kelos_clusters,
                entry_mod.q_kelos_candidates,
            ):
                assert query(spark, sf_dir).count() > 0
            held.append(set(jsc.getPersistentRDDs()) - before)
            assert len(held[-1]) == 1, held
        assert held[0] != held[1]
    finally:
        entry_mod._DEBUG_WALK.clear()
        spark.catalog.clearCache()


def replay_assignments(pdf, cfg):
    """``(pane, point, cluster)`` of every point, from ``core.close_pane``
    over every pane of ``pdf`` in order."""
    pane_ids = np.floor(pdf["ts"].to_numpy() / cfg.pane_seconds).astype(np.int64)
    ids = pdf["id"].to_numpy(dtype=np.int64)
    feats = np.stack([np.asarray(f) for f in pdf["features"]])
    state, ring, out = core.ShardState(), [], []
    for pane in range(pane_ids.min(), pane_ids.max() + 1):
        sel = pane_ids == pane
        core.close_pane(
            state, ring, pane, ids[sel], feats[sel], cfg.distance_threshold,
            cfg.k, cfg.n, cfg.panes_per_window, cfg.kernel,
        )
        out += [(pane, int(p), int(c)) for p, c in zip(ring[-1][0], ring[-1][1])]
    return out


@pytest.mark.parametrize(
    "n_points,epw,gap_panes,arrow_batch",
    [
        pytest.param(*CASES[case], id=case)
        for case in ("600-600", "gap", "small-arrow-batches")
    ],
)
def test_debug_tables_match_oracle_intermediates(
    spark, n_points, epw, gap_panes, arrow_batch
):
    pdf = case_points(n_points, epw, gap_panes)
    oracle = oracle_results(pdf, CFG)
    with arrow_batch_rows(spark, arrow_batch):
        tabs = debug_tables(debug_walk(to_spark_points(spark, pdf), CFG))
        arows, crows, krows = (
            tabs[name].collect() for name in ("assignments", "clusters", "candidates")
        )
    spark.catalog.clearCache()

    # assignments: every point assigned once, in its pane, to the
    # cluster the pane close gave it
    got_a = [(r.pane_id, r.point_id, r.cluster_id) for r in arows]
    assert len(got_a) == len(pdf)
    assert sorted(got_a) == sorted(replay_assignments(pdf, CFG))

    # clusters: densities/bounds/flags per window match the oracle
    got = {
        (r.window_id, r.cluster_id): (
            r.size, r.density, r.min_density_bound,
            r.max_density_bound, r.might_contain_outliers,
        )
        for r in crows
    }
    assert set(got) == {(res.pane_id, cid) for res in oracle for cid in res.flags}
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


@pytest.mark.parametrize(
    "features",
    [
        [[0.1, 0.2], None, [0.3, 0.4]],
        # 6 values = 3 points x 2 dims: a reshape alone would pass
        [[0.1, 0.2], [0.3], [0.4, 0.5, 0.6]],
    ],
    ids=["null", "ragged"],
)
def test_malformed_feature_lists_raise(spark, features):
    """The pane walker reads features from the Arrow list's flat values;
    a null or ragged list must fail loudly, naming the column, instead of
    pairing points with another point's features."""
    import datetime

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    sdf = spark.createDataFrame(
        [(i, ts, f) for i, f in enumerate(features, start=1)],
        schema="id long, ts timestamp, features array<double>",
    )
    # a worker error reaches the driver as a PythonException, possibly
    # wrapped in a Py4JJavaError
    with pytest.raises(Exception, match="ValueError: features column"):
        detect_outliers(sdf, CFG).collect()
