"""Reference-compatible CSV point source.

Reads the reference's input format (InputProducer.java:31-73): headerless
CSV rows of numeric coordinates, one point per row; the record key is the
running row index and timestamps are synthetic pane steps — the timestamp
advances one pane every ``elements_per_window / panes_per_window`` rows
(InputProducer.java:46,63-67).  Non-numeric fields are skipped
(InputProducer.java:52-61), which drops label columns like the GMM file's
third column.

A user of the reference can point this at the same CSV files
(e.g. gmm_test_data_unlabeled.csv) and run the same query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from kelos_on_kafka_spark.config import DEFAULT_CONFIG, KelosConfig


def read_reference_csv(
    spark: SparkSession,
    path: str,
    elements_per_window: int = 3000,
    cfg: KelosConfig = DEFAULT_CONFIG,
    start_epoch: int = 1_700_000_000,
) -> DataFrame:
    """CSV -> engine points ``(id, ts, features)``.

    Row ids follow file order — the reference's producer consumes the
    file sequentially, so ordering is part of the contract.  Pure
    DataFrame: ``monotonically_increasing_id`` preserves file order
    (partition index is file-offset order for a text scan), and a
    ``row_number`` over it makes the ids contiguous.  The window is a
    single-partition sort, acceptable because reference fixtures are
    tiny (30 k rows); at scale an ordered id would come from the data
    itself, not file position.  Kept for tests: reads the reference's
    data in test_reference_data.
    """
    per_pane = max(1, elements_per_window // cfg.panes_per_window)

    raw = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("_mid"),
        F.col("value").alias("line"),
    )
    df = raw.select(
        (F.row_number().over(Window.orderBy("_mid")) - 1)
        .cast("long")
        .alias("id"),
        "line",
    )

    cols = F.split(F.col("line"), ",")
    feats = F.transform(cols, lambda c: c.cast("double"))
    feats = F.filter(feats, lambda v: v.isNotNull())
    return df.select(
        "id",
        F.timestamp_seconds(
            F.lit(start_epoch)
            + (F.expr(f"id div {per_pane}")) * F.lit(cfg.pane_seconds)
        ).alias("ts"),
        feats.alias("features"),
    ).where(F.size("features") > 0)
