"""Window operators: tumbling panes, pane-composed sliding windows, and
session windows — the engine's generic event-time surface (north_rule:
tumbling/sliding/session windows).

All expressions are built-in Catalyst functions (JVM-side, codegen'd);
pane ids are integer microsecond arithmetic so results are exactly
reproducible in any SQL engine (the DuckDB oracles in
``__spark_entry__.py`` use the same integer math).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def epoch_us(ts_col: str) -> Column:
    """Wall-clock epoch microseconds, independent of the session
    timezone for TIMESTAMP_NTZ columns (parquet event times read as NTZ
    under Spark 4): microseconds since the NTZ epoch.  Matches DuckDB's
    ``epoch_us`` on naive timestamps exactly."""
    return F.expr(
        "timestampdiff(MICROSECOND, "
        f"CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), CAST({ts_col} AS TIMESTAMP_NTZ))"
    )


def pane_id(ts_col: str, pane_seconds: int) -> Column:
    """Epoch-aligned tumbling pane id: ``epoch_us(ts) div pane_us``.
    Integer division — no float rounding."""
    return F.expr(
        f"timestampdiff(MICROSECOND, CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), "
        f"CAST({ts_col} AS TIMESTAMP_NTZ)) div {pane_seconds * 1_000_000}"
    )


def with_pane(df: DataFrame, ts_col: str, pane_seconds: int, out: str = "pane_id") -> DataFrame:
    return df.withColumn(out, pane_id(ts_col, pane_seconds))


def explode_to_sliding_windows(
    df: DataFrame,
    pane_col: str = "pane_id",
    panes_per_window: int = 3,
    out: str = "window_id",
) -> DataFrame:
    """Pane -> sliding-window expansion: a row in pane p belongs to the
    windows closing at panes p .. p+panes-1 (the reference synthesizes
    sliding windows from tumbling panes the same way, README.md:63-79).
    This is the same xN row duplication Spark's own sliding ``window()``
    performs — the deliberate, bounded cost of sliding semantics."""
    offsets = F.array(*[F.lit(i) for i in range(panes_per_window)])
    return df.withColumn("_off", F.explode(offsets)).withColumn(
        out, F.col(pane_col) + F.col("_off")
    ).drop("_off")


def session_windows(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap_seconds: int,
) -> DataFrame:
    """Per-key session windows with the given inactivity gap, via Spark's
    built-in ``session_window`` (works in batch and streaming).  Returns
    one row per session: keys + session_start_us / session_end_us /
    n_events (integer microseconds for cross-engine exactness)."""
    ntz_epoch = "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"
    grouped = df.groupBy(
        *key_cols, F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            f"timestampdiff(MICROSECOND, {ntz_epoch}, CAST(min({ts_col}) AS TIMESTAMP_NTZ))"
        ).alias("session_start_us"),
        F.expr(
            f"timestampdiff(MICROSECOND, {ntz_epoch}, CAST(max({ts_col}) AS TIMESTAMP_NTZ))"
        ).alias("session_last_us"),
    )
    return grouped.select(
        *key_cols, "session_start_us", "session_last_us", "n_events"
    )


def assign_session_ids(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap_seconds: int,
    id_col: str,
) -> DataFrame:
    """Per-EVENT session assignment — the enrichment form of
    ``session_windows``: every event gets its key's 1-based session
    index and the session's start epoch, so downstream joins can
    attribute any event to its session without re-deriving boundaries.
    Returns (keys..., <id_col>, ts_us, session_seq, session_start_us).

    Boundary convention matches Spark's own ``session_window``
    (empirically pinned in tests/test_windowing.py): an event at
    EXACTLY prev_ts + gap merges into the open session; only a gap
    STRICTLY greater than ``gap_seconds`` starts a new one.  One
    shuffle on the keys; two window passes over the same per-key
    ordering (lag -> running sum) plus a per-(key, seq) min."""
    gap_us = gap_seconds * 1_000_000
    w_order = Window.partitionBy(*key_cols).orderBy(
        F.col("__ts_us").asc(), F.col(id_col).asc()
    )
    base = df.select(
        *key_cols, F.col(id_col), epoch_us(ts_col).alias("__ts_us")
    )
    with_prev = base.withColumn("__prev", F.lag("__ts_us").over(w_order))
    flagged = with_prev.withColumn(
        "__new",
        F.when(
            F.col("__prev").isNull()
            | (F.col("__ts_us") - F.col("__prev") > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    seq = flagged.withColumn(
        "session_seq",
        F.sum("__new")
        .over(w_order.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    w_sess = Window.partitionBy(*key_cols, "session_seq")
    return seq.select(
        *key_cols,
        F.col(id_col),
        F.col("__ts_us").alias("ts_us"),
        "session_seq",
        F.min("__ts_us").over(w_sess).alias("session_start_us"),
    )


def group_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: list[float],
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group percentiles of ``value_col``: one row per group with
    ``n_events`` and one ``p{NN}`` column per requested percentile.

    ``exact=True`` (the oracle-checkable contract) uses Spark's
    ``percentile`` — linear interpolation over a per-group SORT, the
    same definition DuckDB's ``quantile_cont`` implements; exact, but
    the sort buffers each group, so it is the small-group/audit form.

    ``exact=False`` is the 100 TB path: ``approx_percentile``
    (Greenwald-Khanna), a bounded-memory mergeable sketch — partial
    aggregation on the map side, O(accuracy * log n) state per group,
    never a full sort.  Guaranteed RANK error <= n/accuracy: the
    returned value's rank r satisfies |r - p*n| <= n/accuracy (it is
    an actually-observed value, not an interpolation), which is the
    bound tests/test_group_percentiles.py verifies against the exact
    form.  Use it whenever groups can be large and the percentile
    feeds a threshold rather than a published statistic."""
    if not percentiles:
        raise ValueError("percentiles must be non-empty")
    if exact:
        aggs = [
            F.expr(f"percentile({value_col}, {p})").alias(
                f"p{int(round(p * 100)):02d}"
            )
            for p in percentiles
        ]
    else:
        aggs = [
            F.expr(
                f"approx_percentile({value_col}, {p}, {int(accuracy)})"
            ).alias(f"p{int(round(p * 100)):02d}")
            for p in percentiles
        ]
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_events"), *aggs
    )


def equidepth_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    n_buckets: int,
    id_col: str,
) -> DataFrame:
    """Per-group EQUI-DEPTH histogram (the complement of
    maintenance.distribution_drift's equi-width buckets): ntile(k) over
    (value, id) splits each group into k near-equal-count buckets;
    returns (group..., bucket, n, lo, hi).  The id tiebreak makes the
    bucketing a total order, so the result is deterministic and
    engine-portable; lo/hi are observed values (min/max), never
    interpolated — no float arithmetic at all.

    Scale shape: one shuffle on the group key; ntile sorts each group
    inside one task, so this is the exact/audit form for bounded
    groups (a per-(type, day) slice, a per-domain slice).  For
    unbounded groups use group_percentiles(exact=False) to CUT by
    approximate quantiles instead — the sketch path never materializes
    a per-group sort."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("bucket", F.ntile(n_buckets).over(w))
        .groupBy(*group_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    exact: bool = True,
    accuracy: int = 10_000,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group WINSORIZATION: clip ``value_col`` into its group's
    [p_lo, p_hi] percentile band — the standard robust-feature step
    before scaling/training (tail-capping page-length, load-time,
    score columns without deleting rows).  Adds ``out_col``
    (default ``{value_col}_wins``) plus the audit bounds ``w_lo`` /
    ``w_hi``; a NULL value stays NULL (no silent clamp-to-bound —
    the chunking NULL-guard lesson, ADVICE r5).

    ``exact=True`` uses ``percentile`` (linear interpolation over a
    per-group sort — DuckDB ``quantile_cont`` semantics, the
    oracle-checkable contract).  ``exact=False`` is the 100 TB path:
    ``approx_percentile`` bounds, mergeable sketch state, no per-group
    sort — bounds shift within the sketch's rank error but the clip
    algebra is unchanged.

    Scale shape: ONE shuffle on the group key for the bounds agg; the
    bounds table is |groups| rows, so Catalyst broadcasts the join
    back (AQE does this from runtime stats even without ANALYZE).
    least/greatest are codegen'd; no Python anywhere."""
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {int(accuracy)}"
    bounds = df.groupBy(*group_cols).agg(
        F.expr(f"{fn}({value_col}, {lo}{acc})").alias("w_lo"),
        F.expr(f"{fn}({value_col}, {hi}{acc})").alias("w_hi"),
    )
    out = out_col or f"{value_col}_wins"
    v = F.col(value_col)
    return df.join(bounds, group_cols).withColumn(
        out,
        F.when(
            v.isNotNull(),
            F.least(F.greatest(v, F.col("w_lo")), F.col("w_hi")),
        ),
    )


def robust_scale(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group ROBUST SCALING: (value - median) / IQR — the
    outlier-insensitive standardization (scikit-learn's RobustScaler
    semantics) for feature columns whose tails winsorize can't be
    allowed to touch.  Adds ``out_col`` (default
    ``{value_col}_scaled``) plus audit columns ``r_med`` / ``r_iqr``;
    NULL value stays NULL, and a degenerate group (IQR == 0, over
    half the mass on one value) yields NULL rather than a division
    blow-up.

    Same engine shape as ``winsorize``: one shuffle for the per-group
    quantile agg (exact ``percentile``, the oracle contract), then a
    broadcast-friendly join back and a codegen'd float chain —
    subtract and divide are correctly rounded IEEE, so the result is
    engine-portable bit-for-bit given identical quantiles."""
    stats = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("r_med"),
        (
            F.expr(f"percentile({value_col}, 0.75)")
            - F.expr(f"percentile({value_col}, 0.25)")
        ).alias("r_iqr"),
    )
    out = out_col or f"{value_col}_scaled"
    v = F.col(value_col)
    return df.join(stats, group_cols).withColumn(
        out,
        F.when(
            v.isNotNull() & (F.col("r_iqr") != 0),
            (v - F.col("r_med")) / F.col("r_iqr"),
        ),
    )
