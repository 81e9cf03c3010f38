"""Streaming approximate-nearest-neighbor: a stream of probe vectors
against a static embedding corpus, windowed top-k per probe.

Shape: stream-static join (the static side broadcast — it is the
probe-time index, not the raw corpus at scale), cosine scored with the
same built-in ``zip_with``/``aggregate`` fold the batch operators use
(operators/similarity.py), then an event-time-windowed aggregation that
keeps only the top-k per (window, probe) — ``collect_list`` of
(−cosine, neighbor) structs, ``array_sort``, ``slice`` — emitted on
window close (append mode + watermark), so state per probe is one
in-flight window's candidate list.

Scale path: at a 10^9-vector corpus the static side is NOT the flat
corpus — pass ``corpus`` as the IVF-restricted table (cell-bucketed
vectors for the cells the probes route to, cf. similarity.ivf_topk):
the probe stream joins on ``cell`` instead of cross-joining, and
everything downstream is identical; ``stream_ivf_topk`` is that form
over ``similarity``'s IVF quantizer.  The brute-force form below is the
correctness baseline and the small-corpus path.

Reference surface: the reference has no ANN; its windowed top-N
emission (PointPruningProcessorSupplier.java:88-94) is the same
close-window-emit-topk shape this reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kelos_on_kafka_spark.operators.similarity import (
    _cells_arr,
    _cosine,
    _nearest_cells,
    _norm,
    _own_cell,
)


def stream_cosine_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Windowed exact top-k cosine neighbors for each probe on a
    STREAM of probes: returns a streaming DataFrame
    (window_start, window_end, probe_id, rank, neighbor_id) that emits
    when the event-time window closes.  Self-matches (probe_id ==
    neighbor_id) are excluded; ranking is (cosine desc, neighbor_id
    asc), identical to the batch ``cosine_topk`` contract."""
    c = corpus.select(
        F.col(corpus_id_col).alias("neighbor_id"),
        F.col(corpus_vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cnrm", _norm(F.col("cvec")))
    p = probes.withWatermark(ts_col, watermark_delay).select(
        F.col(ts_col).alias("_ts"),
        F.col(probe_id_col).alias("probe_id"),
        F.col(probe_vec_col).cast("array<double>").alias("pvec"),
    ).withColumn("pnrm", _norm(F.col("pvec")))
    scored = (
        p.join(F.broadcast(c), F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "_ts",
            "probe_id",
            "neighbor_id",
            # a zero-norm vector (degenerate probe/corpus row, or the
            # harness watermark sentinel) scores NULL, dropped before
            # the ranking
            _cosine(
                F.col("pvec"), F.col("pnrm"), F.col("cvec"), F.col("cnrm")
            ).alias("cosine"),
        )
    )
    return _windowed_topk(scored, window, k)


def _windowed_topk(scored: DataFrame, window: str, k: int) -> DataFrame:
    """(window, probe) top-k of a scored candidate stream: collect_list
    of (−cosine, neighbor) structs, sort, slice — emitted on window
    close.  Null scores are dropped first (zero-norm rows; sits AFTER
    the watermark operator, so a sentinel row still advances event
    time)."""
    scored = scored.where(F.col("cosine").isNotNull())
    top = scored.groupBy(
        F.window("_ts", window).alias("w"), F.col("probe_id")
    ).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cosine")).alias("neg_cosine"),
                        F.col("neighbor_id"),
                    )
                )
            ),
            1,
            k,
        ).alias("top")
    )
    return top.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "probe_id",
        F.posexplode("top").alias("pos", "entry"),
    ).select(
        "window_start",
        "window_end",
        "probe_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("entry.neighbor_id").alias("neighbor_id"),
    )


def stream_ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """IVF-routed streaming ANN — the scale path of
    ``stream_cosine_topk``: the static corpus is assigned to coarse
    cells ONCE, each streaming probe routes to its ``nprobe`` nearest
    cells, and the stream-static join keys on ``cell_id``, so every
    probe scans O(N·nprobe/n_cells) corpus rows instead of N.  Both
    sides use ``similarity.ivf_topk``'s quantizer and ranking: the cell
    table is one broadcast ``cells_arr`` row (``_cells_arr``, data, not
    literals) and each row ranks it with the per-row
    ``_nearest_cells`` expression — no window function on the stream.
    Result contract and windowed emission are identical to
    ``stream_cosine_topk``, and batch and stream route identically."""
    c = corpus.select(
        F.col(corpus_id_col).alias("vid"),
        F.col(corpus_vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nrm", _norm(F.col("vec")))
    cells = F.broadcast(_cells_arr(c, n_cells))
    assigned = c.join(cells).select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
        _own_cell(_nearest_cells(F.col("vec"), F.col("nrm"), 1)).alias(
            "cell_id"
        ),
    )
    p = probes.withWatermark(ts_col, watermark_delay).select(
        F.col(ts_col).alias("_ts"),
        F.col(probe_id_col).alias("probe_id"),
        F.col(probe_vec_col).cast("array<double>").alias("pvec"),
    ).withColumn("pnrm", _norm(F.col("pvec")))
    routed = p.join(cells).select(
        "_ts",
        "probe_id",
        "pvec",
        "pnrm",
        F.explode(
            _nearest_cells(F.col("pvec"), F.col("pnrm"), nprobe)
        ).alias("pcell"),
    )
    scored = routed.join(
        assigned, F.col("pcell") == F.col("cell_id")
    ).where(F.col("probe_id") != F.col("neighbor_id")).select(
        "_ts",
        "probe_id",
        "neighbor_id",
        _cosine(
            F.col("pvec"), F.col("pnrm"), F.col("cvec"), F.col("cnrm")
        ).alias("cosine"),
    )
    return _windowed_topk(scored, window, k)
