"""Parquet-table maintenance (plans/maintenance.py): the CDC merge's
existence probe, and corpus-snapshot diffs."""

import glob

import pytest

from kelos_on_kafka_spark.plans import fsutil
from kelos_on_kafka_spark.plans.maintenance import merge_cdc_delta


def test_merge_cdc_delta_raises_on_unreadable_existing_table(spark, tmp_path):
    """A read failure on an EXISTING table must propagate: the merge
    never falls through to its first-write path, which would replace
    the whole table with just this delta (``fsutil.table_exists``: a
    missing path reads as absent, an I/O error raises)."""
    path = str(tmp_path / "t")
    assert not fsutil.table_exists(spark, path)
    schema = "key long, id long, value double, is_del boolean"
    base = spark.createDataFrame(
        [(k, k, float(k), False) for k in range(4)], schema
    )
    merge_cdc_delta(base, path, "key", ["id"], n_buckets=2)
    data_files = glob.glob(f"{path}/*/*.parquet")
    assert data_files
    for f in data_files:  # corrupt every footer in place
        with open(f, "wb") as fh:
            fh.write(b"this is not a parquet footer")
    delta = spark.createDataFrame([(1, 10, 9.0, False)], schema)
    with pytest.raises(Exception):
        merge_cdc_delta(delta, path, "key", ["id"], n_buckets=2)
    # the corrupt originals are still there — no overwrite happened
    remaining = glob.glob(f"{path}/*/*.parquet")
    assert set(remaining) == set(data_files)
    with open(remaining[0], "rb") as fh:
        assert fh.read().startswith(b"this is not")


def test_snapshot_diff_statuses(spark):
    from kelos_on_kafka_spark.plans.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c-modified"), (4, "d")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, ["doc_id"]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # fingerprints present and empty-string-coalesced on missing sides
    rows = {r.doc_id: r for r in snapshot_diff(old, new, ["doc_id"]).collect()}
    assert rows[1].new_fp == "" and rows[4].old_fp == ""
    assert rows[2].old_fp == rows[2].new_fp != ""


def test_snapshot_diff_null_content(spark):
    """A key present in BOTH snapshots with NULL text must classify by
    key presence (unchanged / changed), not fall into 'added' via a NULL
    fingerprint (ADVICE r4: old_fp IS NULL arm won on NULL content)."""
    from kelos_on_kafka_spark.plans.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "now-set"), (3, None)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, ["doc_id"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "changed"}
