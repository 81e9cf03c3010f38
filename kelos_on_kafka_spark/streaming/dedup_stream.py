"""Streaming near-duplicate detection — stateful LSH over a document
stream.

Batch LSH (operators/dedup.py:lsh_candidate_pairs) answers "which pairs
in this corpus are near-dups"; a crawl pipeline needs the incremental
question: "which documents arriving NOW collide with something seen in
the last `horizon`".  This module keeps per-(band, bucket) membership in
Spark's checkpointed state store (applyInPandasWithState keyed by
bucket), emits a candidate pair the moment the second member arrives,
and evicts members once the watermark passes ``member_ts + horizon`` —
at that point no non-late row can pair with them, so state is bounded by
the horizon's document volume, not the stream's.

Semantics (deterministic, arrival-order-free): the emitted pair set is
exactly ``{(a, b): same band bucket, |ts_a - ts_b| <= horizon}`` for
non-late rows, each pair tagged with the band that caught it (the same
pair may surface from several bands; downstream consumers dedup by
primary key — the driver query projects DISTINCT pairs).  Buckets that
grow past ``max_bucket`` saturate: membership stops accumulating and no
further pairs are emitted from that bucket (the streaming analogue of
the batch drop-the-bucket boilerplate guard; already-emitted pairs are
not retractable in append mode).

The minhash signature here is a per-row expression (array_min over
transformed shingles) rather than the batch explode+groupBy — identical
values (min over the same md5 hashes), but stateless, so the only
stateful exchange is the shuffle to band buckets.

Reference parity anchor: the reference has no streaming dedup; this is
part of the training-data-pipeline surface (VERDICT round-1 item 6 /
SURVEY §2 extension), built on the same banding as the batch operator.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from kelos_on_kafka_spark.operators.dedup import _hash64, _nonempty_shingles

PAIR_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def minhash_expr(
    text_col, n_hashes: int = 16, shingle_words: int = 3
):
    """Per-row minhash signature expression: array<long>[n_hashes] of
    min-over-shingles md5 hashes — the same values
    ``dedup.minhash_signatures`` computes by explode+groupBy, but
    stateless (null when the document has no non-empty shingles)."""
    shingles = _nonempty_shingles(text_col, shingle_words)
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: _hash64(s, seed))
            )
            for seed in range(n_hashes)
        ]
    )


def band_bucket_structs(
    sig_col, n_bands: int = 4, rows_per_band: int = 4, portable: bool = True
):
    """array<struct<band:int, bucket:string>> — the same banding as
    ``dedup.lsh_candidate_pairs`` (portable md5 buckets by default so
    the DuckDB oracle reproduces them)."""

    def _bucket(b: int):
        vals = [
            F.element_at(sig_col, b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if portable:
            return F.md5(F.concat_ws(",", *[v.cast("string") for v in vals]))
        return F.hash(*vals).cast("string")

    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
            for b in range(n_bands)
        ]
    )


class _Bucket:
    __slots__ = ("members", "saturated")

    def __init__(self) -> None:
        self.members: List[Tuple[int, int]] = []  # (doc_id, ts_us)
        self.saturated = False


def _make_bucket_fn(horizon_us: int, max_bucket: int):
    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        band = int(key[0])
        st: _Bucket = (
            pickle.loads(state.get[0]) if state.exists else _Bucket()
        )
        out_a: List[int] = []
        out_b: List[int] = []
        if not state.hasTimedOut:
            new: List[Tuple[int, int]] = []
            for pdf in batches:
                if pdf.empty:
                    continue
                new.extend(
                    zip(
                        pdf["doc_id"].astype("int64").tolist(),
                        pdf["ts_us"].astype("int64").tolist(),
                    )
                )
            # deterministic within-batch order (arrival order inside a
            # micro-batch is partition-dependent)
            new.sort(key=lambda t: (t[1], t[0]))
            for doc, ts in new:
                if st.saturated or len(st.members) >= max_bucket:
                    # boilerplate guard: membership (and emission) stops
                    # at max_bucket docs — the streaming analogue of the
                    # batch drop-the-bucket cap (append mode cannot
                    # retract already-emitted pairs)
                    st.saturated = True
                    break
                for m_doc, m_ts in st.members:
                    if m_doc != doc and abs(ts - m_ts) <= horizon_us:
                        out_a.append(min(doc, m_doc))
                        out_b.append(max(doc, m_doc))
                st.members.append((doc, ts))

        # evict members no non-late row can still pair with:
        # ts + horizon < watermark  =>  any future row has ts' >= wm
        # and |ts' - ts| > horizon
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0:
            st.members = [
                (d, t) for (d, t) in st.members if t + horizon_us >= wm_us
            ]
        if st.members:
            state.update((pickle.dumps(st),))
            wake_ms = (
                max(t for _, t in st.members) + horizon_us
            ) // 1000 + 1
            state.setTimeoutTimestamp(
                max(wake_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif st.saturated and not state.hasTimedOut:
            # keep the saturation flag only until the watermark passes
            # one horizon beyond now — after that no still-admissible
            # row could pair with the (evicted) members anyway, and the
            # timeout removes the state so saturated buckets cannot
            # accumulate forever
            state.update((pickle.dumps(st),))
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + horizon_us // 1000 + 1
            )
        elif state.exists:
            state.remove()

        if out_a:
            yield pd.DataFrame(
                {"band": band, "doc_a": out_a, "doc_b": out_b}
            )

    return fn


def stream_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    horizon: str = "1 hour",
    n_hashes: int = 16,
    shingle_words: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
    portable: bool = True,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming LSH candidate pairs (see module docstring).  Returns an
    append-mode streaming DataFrame (band, doc_a, doc_b)."""
    import re

    m = re.fullmatch(
        r"(\d+)\s*(second|minute|hour|day)s?", horizon.strip()
    )
    if not m:
        raise ValueError(f"unsupported horizon {horizon!r}")
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    horizon_us = int(m.group(1)) * mult[m.group(2)] * 1_000_000

    signed = (
        docs.withWatermark(ts_col, watermark_delay)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            minhash_expr(F.col(text_col), n_hashes, shingle_words).alias(
                "sig"
            ),
            F.col(ts_col).alias("_event_ts"),  # event-time col for timeout
        )
        # no non-empty shingles -> null signature components; the batch
        # operator drops such docs (no shingle rows), so do we
        .where(F.element_at(F.col("sig"), 1).isNotNull())
    )
    banded = signed.select(
        "doc_id",
        "ts_us",
        F.explode(
            band_bucket_structs(
                F.col("sig"), n_bands, rows_per_band, portable
            )
        ).alias("bb"),
        "_event_ts",
    ).select(
        "doc_id",
        "ts_us",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        "_event_ts",
    )
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        _make_bucket_fn(horizon_us, max_bucket),
        outputStructType=PAIR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
