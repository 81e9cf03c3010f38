"""Streaming incremental deduplication — the streaming twin of
``operators.dedup.incremental_dedup`` (the nightly-crawl shape run
continuously): documents arriving on a stream are classified against
(a) the historical corpus — a STATIC table of content digests — and
(b) what the stream itself has already admitted.

Status per document:

* ``seen``       — digest exists in the historical digest table
  (stream-static left join; Spark re-plans the static side per
  micro-batch, broadcast when small).  No state is consulted or
  written: history is immutable within the run.
* ``keep``       — first stream occurrence of a digest not in history.
* ``batch_dup``  — any later stream occurrence of a kept digest.

State is ONE row per admitted digest (8 bytes: last-seen event time),
checkpointed, and evicted once the watermark passes
``last_ts + horizon_us`` (the timeout fires on the next micro-batch in
which the digest is silent — Spark's flatMapGroupsWithState timeout
rule; a recurrence landing in the very batch that would have expired
it still counts as a dup, which errs on the dedup side) — after
eviction a recurrence of the digest is admitted again as ``keep``,
which is exactly the horizon semantics the streaming LSH dedup
(dedup_stream.py) pins: the history table is the FOREVER memory,
stream state is the HOT window.

Determinism contract: 'seen' is arrival-order-free (a pure join);
keep/batch_dup ranking within a digest follows event-time order
(ts, id) within each micro-batch and arrival order across batches —
the driver harness stages event-time-ordered files so keeper = min
(ts, id), byte-reproducible against the batch SQL oracle (the same
staged-arrival convention as stream_dedup_exact).

Reference surface: none (the reference consumes numeric CSV); this is
the training-data-pipeline layer, citing InputProducer.java:40-68 only
as the absent counterpart.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kelos_on_kafka_spark.operators.windowing import epoch_us

OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("digest", StringType()),
        StructField("ts_us", LongType()),
        StructField("status", StringType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("last_ts", LongType())])


def _make_fn(horizon_us: int):
    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # hot-window eviction: emit nothing
            return
        chunks = [p for p in batches if not p.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "doc_id"]
        )
        if bool(pdf["is_old"].iloc[0]):
            # historical digest: every row is 'seen', stateless
            out = pdf[["doc_id", "digest", "ts_us"]].copy()
            out["status"] = "seen"
            yield out
            return
        admitted = state.exists
        out = pdf[["doc_id", "digest", "ts_us"]].copy()
        statuses = ["batch_dup"] * len(out)
        if not admitted:
            statuses[0] = "keep"
        out["status"] = statuses
        last_ts = int(pdf["ts_us"].iloc[-1])
        state.update((last_ts,))
        state.setTimeoutTimestamp(
            max(
                (last_ts + horizon_us) // 1000,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        yield out

    return fn


def stream_incremental_dedup(
    docs: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    text_col: str = "text",
    horizon_us: int = 24 * 3600 * 1_000_000,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Classify a document stream as seen / keep / batch_dup against a
    static digest history plus a watermark-bounded hot window.
    ``history`` must have a ``digest`` column (md5 of text, the
    portable convention); the stream's digest is md5(text).  Returns
    (doc_id, digest, ts_us, status)."""
    base = docs.withWatermark(ts_col, watermark_delay).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("digest"),
        epoch_us(ts_col).alias("ts_us"),
        F.col(ts_col).alias("_event_ts"),
    )
    marks = history.select(
        F.col("digest"), F.lit(True).alias("is_old")
    ).distinct()
    enriched = base.join(marks, "digest", "left").select(
        "doc_id",
        "digest",
        "ts_us",
        "_event_ts",
        F.coalesce(F.col("is_old"), F.lit(False)).alias("is_old"),
    )
    return enriched.groupBy("digest").applyInPandasWithState(
        _make_fn(int(horizon_us)),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
