"""Streaming top-N and deterministic sampling per event-time pane.

Spark's streaming mode forbids window (analytic) functions, so "the N
largest events per window" — the generic form of the KELOS engine's
final stage — has no built-in answer.  One stateful operator answers it
and its sampling form: the stage is keyed by pane id and keeps ONLY the
pane's ``n`` smallest (key, id) pairs in state (a bounded candidate set:
a row above the current n-th pair can never enter the final n, so state
is O(n) per open pane, not O(events)).  When the watermark passes a
pane's end the state times out, the pane's ranking is emitted exactly
once (append mode), and the state is dropped.  Arrival order never
matters: (key, id) is a total order.

- ``stream_topn_per_window``: key = -value, rank order (value desc,
  id asc).
- ``stream_pane_sample``: key = a portable-hash priority, so the
  sample is bounded-state reservoir sampling done deterministically —
  the streaming form of ``sampling.stratified_cap`` (and, with an
  integer weight column, of ``weighted_stratified_cap``: the caller
  supplies the min-of-w priority as a LONG column).  Priorities stay
  64-bit integers end to end (a double value column would round 60-bit
  hashes), so the emitted sample is a pure function of the data,
  reproducible by the batch operator and an external SQL engine.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from kelos_on_kafka_spark.operators.dedup import _hash64

TOPN_SCHEMA = StructType(
    [
        StructField("pane_id", LongType()),
        StructField("rank", IntegerType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)

SAMPLE_SCHEMA = StructType(
    [
        StructField("pane_id", LongType()),
        StructField("sample_rank", IntegerType()),
        StructField("row_id", LongType()),
        StructField("priority", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _make_pane_topn_fn(n: int, pane_us: int, schema: StructType, sign):
    """The stateful function of both operators.  ``schema`` names the
    output (pane, rank, id, key) fields; the input rows carry the id
    and key under the same names.  State is the pickled list of the
    pane's ``n`` smallest (sign * key, id) tuples; a LONG key stays a
    Python int, a DOUBLE key a float."""
    pane_f, rank_f, id_f, key_f = schema.names
    key_dtype = "int64" if isinstance(schema[key_f].dataType, LongType) else "float64"

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        pane = int(key[0])
        best: List[Tuple[Any, int]] = (
            pickle.loads(state.get[0]) if state.exists else []
        )
        if state.hasTimedOut:
            # watermark passed pane end: emit the ranking exactly once
            state.remove()
            if best:
                yield pd.DataFrame(
                    {
                        pane_f: pane,
                        rank_f: range(1, len(best) + 1),
                        id_f: [i for _, i in best],
                        key_f: [sign * v for v, _ in best],
                    }
                )
            return
        for pdf in batches:
            if pdf.empty:
                continue
            best += zip(
                (sign * pdf[key_f].astype(key_dtype)).tolist(),
                pdf[id_f].astype("int64").tolist(),
            )
            best.sort()  # (sign * key asc, id asc): a total order
            del best[n:]
        state.update((pickle.dumps(best),))
        # fire when the watermark passes this pane's end
        state.setTimeoutTimestamp(
            max((pane + 1) * (pane_us // 1000), state.getCurrentWatermarkMs() + 1)
        )

    return fn


def _pane_topn(
    prepared: DataFrame, n: int, pane_us: int, schema: StructType, sign
) -> DataFrame:
    return prepared.groupBy("pane_id").applyInPandasWithState(
        _make_pane_topn_fn(n, pane_us, schema, sign),
        outputStructType=schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def stream_topn_per_window(
    events: DataFrame,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    n: int = 3,
    pane_seconds: int = 3600,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Append-mode streaming DataFrame of (pane_id, rank, event_id,
    value): the ``n`` largest events per tumbling event-time pane,
    emitted once when the watermark closes the pane."""
    pane_us = pane_seconds * 1_000_000
    prepared = events.withWatermark(ts_col, watermark_delay).select(
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(pane_us))
        .cast("long")
        .alias("pane_id"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("value"),
        F.col(ts_col).alias("_event_ts"),
    )
    return _pane_topn(prepared, n, pane_us, TOPN_SCHEMA, -1.0)


def stream_pane_sample(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    n: int = 100,
    pane_seconds: int = 3600,
    seed: int = 0,
    priority_col: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """At most ``n`` rows per tumbling event-time pane, chosen by
    ascending portable md5 hash of the id (uniform, repartition- and
    engine-stable) — or by an explicit LONG ``priority_col`` (pass a
    min-of-w hash column for exact weighted sampling).  Returns
    (pane_id, sample_rank, row_id, priority), emitted on pane close;
    join ``row_id`` back to the source for payloads."""
    pane_us = pane_seconds * 1_000_000
    pri = (
        F.col(priority_col).cast("long")
        if priority_col
        else _hash64(F.col(id_col).cast("string"), seed)
    )
    prepared = events.withWatermark(ts_col, watermark_delay).select(
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(pane_us))
        .cast("long")
        .alias("pane_id"),
        pri.alias("priority"),
        F.col(id_col).cast("long").alias("row_id"),
        F.col(ts_col).alias("_event_ts"),
    )
    return _pane_topn(prepared, n, pane_us, SAMPLE_SCHEMA, 1)
