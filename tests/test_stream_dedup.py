"""Streaming stateful LSH near-dup (streaming/dedup_stream.py):
per-row signature parity with the batch operator, stream-vs-batch pair
parity, and horizon semantics."""

import os
import pickle

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.operators import dedup
from kelos_on_kafka_spark.streaming import dedup_stream
from tests.conftest import await_stream

SF = "/root/testdata/sf0.001"
EPOCH = 1_000_000


def test_minhash_expr_matches_batch_signatures(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = docs.select(
        "doc_id",
        dedup_stream.minhash_expr(F.col("text")).alias("minhash"),
    ).where(F.element_at("minhash", 1).isNotNull())
    want = dedup.minhash_signatures(docs)
    g = {r["doc_id"]: list(r["minhash"]) for r in got.collect()}
    w = {r["doc_id"]: list(r["minhash"]) for r in want.collect()}
    assert g == w


def _docs_with_dups(spark):
    """sf0.001 documents plus guaranteed near-dup copies, with
    nondecreasing event times (10 s per 20 docs)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    copies = pdf.head(3).copy()
    copies["doc_id"] = copies["doc_id"] + 1_000_000
    pdf = pd.concat([pdf, copies], ignore_index=True)
    pdf["ts"] = pd.to_datetime(
        EPOCH + (pd.RangeIndex(len(pdf)) // 20) * 10, unit="s"
    )
    return pdf


def _run_stream(spark, pdf, tmp_path, n_files=4, **kwargs):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    per = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        if chunk.empty:
            continue
        spark.createDataFrame(
            chunk, schema="doc_id long, text string, ts timestamp"
        ).coalesce(1).write.parquet(f"{src}/f{i:02d}.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    out = dedup_stream.stream_near_dup_pairs(stream, **kwargs)
    name = f"sndp_{abs(hash(str(tmp_path))) % 10**8}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)
    return spark.table(name)


def test_stream_pairs_match_batch_lsh(spark, tmp_path):
    pdf = _docs_with_dups(spark)
    got = _run_stream(spark, pdf, tmp_path, horizon="1 day")
    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in got.select("doc_a", "doc_b").distinct().collect()
    }
    batch_docs = spark.createDataFrame(
        pdf, schema="doc_id long, text string, ts timestamp"
    )
    want = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(batch_docs), portable=True
    )
    want_pairs = {(r["doc_a"], r["doc_b"]) for r in want.collect()}
    assert got_pairs == want_pairs
    assert len(got_pairs) >= 3  # the planted copies must surface


def test_horizon_bounds_pairing(spark, tmp_path):
    """Identical docs further apart than the horizon must not pair."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [text, text, text],
            "ts": pd.to_datetime(
                [EPOCH, EPOCH + 30, EPOCH + 7200], unit="s"
            ),
        }
    )
    got = _run_stream(
        spark, pdf, tmp_path, n_files=3, horizon="1 minute"
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in got.select("doc_a", "doc_b").distinct().collect()
    }
    # 1-2 within 30 s: pair; 3 is 2 h past both: no pair
    assert pairs == {(1, 2)}


def test_resume_from_checkpoint_exactly_once(spark, tmp_path):
    """Restarting from the checkpoint must not re-emit pairs, and the
    final pair set must equal the single-run (= batch) result."""
    text = "resume one two three four five six seven"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [text] * 3,
            "ts": pd.to_datetime([EPOCH, EPOCH + 5, EPOCH + 10], unit="s"),
        }
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def write_file(rows, name):
        spark.createDataFrame(
            rows, schema="doc_id long, text string, ts timestamp"
        ).coalesce(1).write.parquet(f"{src}/{name}.parquet")

    def run():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*.parquet")
        )
        q = (
            dedup_stream.stream_near_dup_pairs(stream, horizon="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 180)
    write_file(pdf.iloc[:2], "f00")
    run()  # phase 1: docs 1, 2 -> pair (1,2) per band
    write_file(pdf.iloc[2:], "f01")
    run()  # phase 2 resumes from checkpoint: doc 3 pairs with 1 and 2

    rows = spark.read.parquet(sink).collect()
    tagged = [(r["band"], r["doc_a"], r["doc_b"]) for r in rows]
    assert len(tagged) == len(set(tagged))  # exactly-once per band-pair
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {
        (1, 2), (1, 3), (2, 3)
    }


def test_saturated_bucket_stops_emitting(spark, tmp_path):
    text = "one two three four five six seven eight"
    pdf = pd.DataFrame(
        {
            "doc_id": range(1, 7),
            "text": [text] * 6,
            "ts": pd.to_datetime([EPOCH + i for i in range(6)], unit="s"),
        }
    )
    got = _run_stream(
        spark, pdf, tmp_path, n_files=3, horizon="1 hour", max_bucket=3
    )
    pairs = got.select("doc_a", "doc_b").distinct().collect()
    # membership stops at 3 docs/bucket: only pairs among the first 3
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {
        (1, 2), (1, 3), (2, 3)
    }


class _FakeState:
    """Minimal GroupState stand-in for driving _make_bucket_fn."""

    def __init__(self, wm_ms=0):
        self._v = None
        self.exists = False
        self.hasTimedOut = False
        self.removed = False
        self.timeout_ms = None
        self._wm_ms = wm_ms

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self.removed = True
        self.exists = False

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _drive(fn, state, rows):
    batches = iter(
        [pd.DataFrame({"doc_id": [r[0] for r in rows],
                       "ts_us": [r[1] for r in rows]})]
        if rows
        else []
    )
    return list(fn((0,), batches, state))


def test_saturated_bucket_state_is_eventually_removed():
    """ADVICE r02: a saturated bucket whose members were all evicted
    used to keep (empty, saturated) state forever with no timeout.  Now
    it gets a timeout one horizon past the watermark and is removed
    when that fires."""
    horizon_us = 1_000_000
    fn = dedup_stream._make_bucket_fn(horizon_us, max_bucket=2)

    # fill past the cap -> saturated, pairs only among first 2 members
    st = _FakeState(wm_ms=0)
    out = _drive(fn, st, [(1, 100), (2, 200), (3, 300)])
    assert len(out) == 1 and list(out[0]["doc_a"]) == [1]
    assert st.exists and st.timeout_ms is not None

    # watermark passes member horizon -> members evicted, saturation
    # flag retained with a NEW timeout (not kept forever)
    st._wm_ms = 10_000  # 10s >> member ts + horizon
    st.hasTimedOut = False
    out = _drive(fn, st, [])
    assert out == [] and st.exists and not st.removed
    assert st.timeout_ms == st._wm_ms + horizon_us // 1000 + 1
    saturated = pickle.loads(st._v[0])
    assert saturated.saturated and saturated.members == []

    # that timeout fires -> state removed
    st.hasTimedOut = True
    out = _drive(fn, st, [])
    assert out == [] and st.removed


def test_saturated_bucket_emits_nothing_new_while_members_live():
    """While saturated with live members the bucket ignores new docs
    (append mode cannot retract; the batch analogue drops the bucket)."""
    fn = dedup_stream._make_bucket_fn(10_000_000, max_bucket=1)
    st = _FakeState(wm_ms=0)
    assert _drive(fn, st, [(1, 100), (2, 200)]) == []  # 2nd doc saturates
    assert _drive(fn, st, [(3, 300)]) == []  # ignored, no pairs ever
