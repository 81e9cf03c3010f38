"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing — schema, partitioning, Arrow batch shape,
mapInPandas signatures — is real and tested; the actual media decoding
is a clearly-marked deterministic fake (pure function of the payload
digest) because the image/audio libraries are not available in this
container.  A deployment swaps ``_decode_image``/``_decode_audio`` for
Pillow/ffmpeg calls without touching the plumbing.

Design for 100 TB of media: payloads never leave the ``binary`` column
until the per-partition decode stage (no shuffle of raw bytes — filters
and joins run on the typed metadata first, Catalyst prunes the binary
column away from every stage that doesn't need it); decode batches are
bounded by Arrow ``maxRecordsPerBatch``; frame sampling emits one row
per sampled frame with explicit lineage back to the source asset.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def _decode_image(payload: bytes) -> tuple[int, int, np.ndarray]:
    """STUB — replace with Pillow/torchvision in deployment.

    Deterministic fake: derives (width, height, 8-dim 'embedding') purely
    from the payload bytes so tests are reproducible and the Arrow batch
    shape, dtype and row alignment are exercised for real."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0]
    height = 64 + digest[1]
    emb = np.frombuffer(digest[:16], dtype=np.uint8).reshape(8, 2)
    emb = emb.astype(np.float64).mean(axis=1) / 255.0
    return width, height, emb


_SAMPLE_RATES = (8000, 16000, 22050, 44100)


def _decode_audio(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """STUB — replace with ffmpeg/librosa in deployment.

    Deterministic fake mirroring ``_decode_image``: (sample_rate,
    duration_ms, n_samples, 8-dim 'spectrum') derive purely from
    sha256(payload), so the Arrow plumbing is exercised for real and a
    SQL oracle reproduces the integers from the same digest."""
    digest = hashlib.sha256(payload).digest()
    sample_rate = _SAMPLE_RATES[digest[0] % 4]
    duration_ms = 100 + (digest[1] << 8 | digest[2])
    n_samples = sample_rate * duration_ms // 1000
    spectrum = (
        np.frombuffer(digest[3:11], dtype=np.uint8).astype(np.float64) / 255.0
    )
    return sample_rate, duration_ms, n_samples, spectrum


def attach_media_metadata(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Typed metadata from the binary column via built-ins only
    (JVM-side, no Python): size + md5 checksum.  These are the columns
    filters/joins/dedup run on so the raw bytes stay unshuffled."""
    return df.withColumn(
        "n_bytes", F.length(F.col(payload_col)).cast("long")
    ).withColumn("checksum", F.md5(F.col(payload_col)))


def extract_image_features(
    media: DataFrame,
    asset_col: str = "asset_id",
    payload_col: str = "payload",
    decoder=None,
) -> DataFrame:
    """Decode + feature-extract images partition-by-partition.  One Arrow
    exchange; output is narrow (ids + dims + embedding) so downstream
    similarity search never touches payload bytes.

    ``decoder``: ``bytes -> (width, height, embedding array)`` — the
    deployment seam.  Defaults to the documented deterministic stub;
    inject a Pillow/torchvision-backed callable (must be picklable —
    a top-level function) and the schema, partitioning and Arrow batch
    shape are unchanged (tested in tests/test_multimodal.py)."""
    decode_one = decoder or _decode_image

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ws, hs, embs = [], [], []
            for payload in pdf[payload_col]:
                w, h, e = decode_one(bytes(payload))
                ws.append(w)
                hs.append(h)
                embs.append(list(e))
            yield pd.DataFrame(
                {
                    "asset_id": pdf[asset_col].to_numpy(dtype=np.int64),
                    "width": np.array(ws, dtype=np.int32),
                    "height": np.array(hs, dtype=np.int32),
                    "embedding": embs,
                }
            )

    return media.select(asset_col, payload_col).mapInPandas(
        decode, IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_samples", LongType()),
        StructField("spectrum", ArrayType(DoubleType())),
    ]
)


def extract_audio_features(
    media: DataFrame,
    asset_col: str = "asset_id",
    payload_col: str = "payload",
    decoder=None,
) -> DataFrame:
    """Decode + feature-extract audio partition-by-partition — same
    plumbing contract as ``extract_image_features``: one Arrow exchange,
    narrow typed output, payload bytes never shuffled.

    ``decoder``: ``bytes -> (sample_rate, duration_ms, n_samples,
    spectrum array)`` — the deployment seam for ffmpeg/librosa; defaults
    to the documented deterministic stub."""
    decode_one = decoder or _decode_audio

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            srs, durs, ns, specs = [], [], [], []
            for payload in pdf[payload_col]:
                sr, dur, n, spec = decode_one(bytes(payload))
                srs.append(sr)
                durs.append(dur)
                ns.append(n)
                specs.append(list(spec))
            yield pd.DataFrame(
                {
                    "asset_id": pdf[asset_col].to_numpy(dtype=np.int64),
                    "sample_rate": np.array(srs, dtype=np.int32),
                    "duration_ms": np.array(durs, dtype=np.int64),
                    "n_samples": np.array(ns, dtype=np.int64),
                    "spectrum": specs,
                }
            )

    return media.select(asset_col, payload_col).mapInPandas(
        decode, AUDIO_FEATURES_SCHEMA
    )


def _slice_frames(payload: bytes, max_frames: int) -> list[bytes]:
    """STUB frame extractor — deterministic 32-byte slices standing in
    for ffmpeg keyframe decode."""
    n = min(max_frames, max(1, len(payload) // 32))
    return [payload[i * 32 : (i + 1) * 32] for i in range(n)]


def sample_video_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 8,
    asset_col: str = "asset_id",
    payload_col: str = "payload",
    decoder=None,
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame with
    (asset_id, frame_index, frame_ts_ms, frame bytes).  ``decoder``:
    ``(bytes, max_frames) -> list[frame bytes]`` — defaults to the
    deterministic slice stub standing in for ffmpeg; row explosion,
    batch shapes and lineage are the real contract either way."""
    frames_of = decoder or _slice_frames

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {"asset_id": [], "frame_index": [], "frame_ts_ms": [], "frame": []}
            for aid, payload in zip(
                pdf[asset_col].to_numpy(dtype=np.int64), pdf[payload_col]
            ):
                for i, fb in enumerate(frames_of(bytes(payload), max_frames)):
                    rows["asset_id"].append(int(aid))
                    rows["frame_index"].append(i)
                    rows["frame_ts_ms"].append(i * every_ms)
                    rows["frame"].append(fb)
            yield pd.DataFrame(rows)

    return media.select(asset_col, payload_col).mapInPandas(
        sample, FRAME_SCHEMA
    )


def _fake_pixels(payload: bytes) -> np.ndarray:
    """STUB pixel decode for the aHash path — 8x8 'grayscale' derived
    deterministically from sha256 chained over the HEX digest (the
    second hash runs on the lowercase hex STRING, not the raw digest,
    so an external SQL engine whose sha256 is VARCHAR-only reproduces
    the pixels).  Replace with Pillow
    ``Image.open(...).convert('L').resize((8, 8))`` in deployment;
    same seam contract as ``_decode_image``."""
    hex1 = hashlib.sha256(payload).hexdigest()
    d1 = bytes.fromhex(hex1)
    d2 = hashlib.sha256(hex1.encode()).digest()
    return np.frombuffer(d1 + d2, dtype=np.uint8).reshape(8, 8)


def ahash64(pixels: np.ndarray) -> int:
    """Average hash: 1 bit per pixel of the 8x8 grayscale — bit i set
    iff pixel i (row-major) >= the image mean.  The standard cheap
    perceptual hash; robust to re-encoding/resizing when fed real
    downsampled pixels."""
    flat = pixels.reshape(-1).astype(np.float64)
    mean = flat.mean()
    h = 0
    for i, v in enumerate(flat):
        if v >= mean:
            h |= 1 << i
    # keep the value in signed-long range for Spark's LongType
    return h - (1 << 64) if h >= (1 << 63) else h


def image_phash(
    media: DataFrame,
    asset_col: str = "asset_id",
    payload_col: str = "payload",
    pixel_decoder=None,
) -> DataFrame:
    """Perceptual (average) hash per image asset: decode to 8x8
    grayscale (``pixel_decoder`` seam, deterministic stub by default)
    then aHash — returns (asset_id, phash: long).  Pair with
    ``dedup.hamming_near_dup_pairs`` for perceptual near-dup detection:
    unlike the byte-exact sha256 dedup, this catches re-encoded /
    resized copies once a real decoder is injected.  One Arrow pass;
    payload bytes never shuffle — only 8-byte hashes leave the scan."""
    decode_one = pixel_decoder or _fake_pixels

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "asset_id": pdf[asset_col].to_numpy(dtype=np.int64),
                    "phash": np.array(
                        [
                            ahash64(decode_one(bytes(p)))
                            for p in pdf[payload_col]
                        ],
                        dtype=np.int64,
                    ),
                }
            )

    return media.select(asset_col, payload_col).mapInPandas(
        compute,
        StructType(
            [
                StructField("asset_id", LongType()),
                StructField("phash", LongType()),
            ]
        ),
    )
