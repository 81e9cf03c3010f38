"""Deterministic synthetic Common-Crawl-style page stream — the engine's
primary input shape per BASELINE.json input_hint:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Pages come in three latent kinds whose derived feature vectors
(functions/features.py) form micro-clusters, plus rare planted anomalies
(link farms / garbage dumps) the detector should surface.  Everything is
a pure function of (seed, index): re-generating any slice yields
byte-identical pages, which underpins the byte-identical-text-per-url
invariant and checkpoint/replay tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_WORDS = (
    "the quick brown fox jumps over lazy dog stream spark window cluster "
    "density outlier kernel page crawl web data engine shuffle partition "
    "vector index query plan state event time mark batch sink source"
).split()

_LANGS = ["en", "de", "fr", "es"]

KINDS = ("article", "listing", "stub", "linkfarm", "garbage")


def _build_text(rng: np.random.Generator, kind: str) -> tuple[str, int]:
    """Return (text, n_links) for one page of the given kind."""
    if kind == "article":
        n_words, links, digit_words = int(rng.integers(180, 260)), int(rng.integers(2, 6)), 2
    elif kind == "listing":
        n_words, links, digit_words = int(rng.integers(60, 100)), int(rng.integers(8, 16)), 12
    elif kind == "stub":
        n_words, links, digit_words = int(rng.integers(8, 16)), int(rng.integers(0, 2)), 0
    elif kind == "linkfarm":  # anomaly: link spam
        n_words, links, digit_words = int(rng.integers(30, 50)), int(rng.integers(150, 250)), 4
    else:  # garbage: digit dump
        n_words, links, digit_words = int(rng.integers(400, 600)), 0, 350
    words = list(rng.choice(_WORDS, size=n_words))
    for i in rng.choice(n_words, size=min(digit_words, n_words), replace=False):
        words[int(i)] = str(int(rng.integers(0, 10**6)))
    return " ".join(words), links


def synth_pages(
    n: int = 3000,
    seed: int = 42,
    pages_per_pane: int = 1000,
    pane_seconds: int = 10,
    start_epoch: int = 1_700_000_000,
    anomaly_rate: float = 0.01,
) -> pd.DataFrame:
    """Generate n pages with pane-stepped ``warc_ts`` (every
    ``pages_per_pane`` records the timestamp advances one pane, mirroring
    InputProducer.java:63-67)."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(
        np.array(KINDS, dtype=object),
        size=n,
        p=[0.55, 0.25, 0.20 - anomaly_rate, anomaly_rate / 2, anomaly_rate / 2],
    )
    rows = []
    for i in range(n):
        text, links = _build_text(rng, kinds[i])
        anchors = " ".join(
            f'<a href="/p/{i}/{j}">l{j}</a>' for j in range(links)
        )
        html = f"<html><body><p>{text}</p>{anchors}</body></html>".encode()
        rows.append(
            (
                f"https://site-{i % 997}.example.com/page/{i}",
                start_epoch + (i // pages_per_pane) * pane_seconds,
                html,
                text,
                _LANGS[int(rng.integers(0, len(_LANGS)))],
                kinds[i],
            )
        )
    pdf = pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang", "kind"]
    )
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], unit="s")
    return pdf


def to_spark_pages(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )


def write_pages_parquet(spark, pdf: pd.DataFrame, path: str, partitions: int = 8):
    """Materialize a page table as parquet (at scale: partitioned by
    crawl date, sorted by url).  Kept for tests: the fixture builder of
    test_spark_submit."""
    to_spark_pages(spark, pdf).repartition(partitions).write.mode(
        "overwrite"
    ).parquet(path)


def _gen_batch(ids, seed, pages_per_pane, pane_seconds, start_epoch, anomaly_rate):
    """Generate one batch of pages; each page is a pure function of
    (seed, id) so the table is identical under any partitioning."""
    rows = []
    kinds_p = [0.55, 0.25, 0.20 - anomaly_rate, anomaly_rate / 2, anomaly_rate / 2]
    for i in ids:
        rng = np.random.default_rng(np.random.PCG64(seed * 1_000_003 + int(i)))
        kind = KINDS[int(rng.choice(len(KINDS), p=kinds_p))]
        text, links = _build_text(rng, kind)
        anchors = " ".join(
            f'<a href="/p/{i}/{j}">l{j}</a>' for j in range(links)
        )
        html = f"<html><body><p>{text}</p>{anchors}</body></html>".encode()
        rows.append(
            (
                f"https://site-{int(i) % 997}.example.com/page/{i}",
                start_epoch + (int(i) // pages_per_pane) * pane_seconds,
                html,
                text,
                _LANGS[int(rng.integers(0, len(_LANGS)))],
            )
        )
    return rows


def synth_pages_spark(
    spark,
    n: int,
    pages_per_pane: int,
    seed: int = 42,
    pane_seconds: int = 10,
    start_epoch: int = 1_700_000_000,
    anomaly_rate: float = 0.01,
    partitions: int = 64,
):
    """Distributed deterministic page generation: each page is a pure
    function of (seed, page id), generated in parallel with mapInPandas —
    the scale path for large benchmark inputs (a 10^12-page table would be
    generated exactly like this, partition by partition)."""
    import pandas as pd_mod

    from pyspark.sql import functions as F

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        for pdf in batches:
            rows = _gen_batch(
                pdf["id"].to_numpy(),
                seed,
                pages_per_pane,
                pane_seconds,
                start_epoch,
                anomaly_rate,
            )
            out = pd_mod.DataFrame(rows, columns=cols)
            out["warc_ts"] = pd_mod.to_datetime(out["warc_ts"], unit="s")
            yield out

    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    return (
        spark.range(n)
        .repartition(partitions)
        .mapInPandas(gen, schema)
    )


def ensure_pages_parquet(
    spark,
    n: int,
    path: str,
    pages_per_pane: int,
    seed: int = 42,
    partitions: int = 64,
) -> str:
    """Generate-once cache of a synthetic page table as parquet."""
    import os

    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        synth_pages_spark(
            spark, n, pages_per_pane, seed=seed, partitions=partitions
        ).write.mode("overwrite").parquet(path)
    return path
