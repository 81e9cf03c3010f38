"""Kafka source for the streaming engine (reference: the `data-input`
topic, Main.java:50, and the producer's (int key, double[] value) records,
InputProducer.java:67).

No broker exists in this sandbox, so ``read_kafka_points`` itself is
exercised only to the plan level; the value parsing — the part with
actual semantics — is a pure DataFrame transformation
(``parse_point_records``) tested on batch DataFrames of the same shape
Kafka delivers (key/value binary, timestamp).

Two wire formats:
- ``json``: value = {"id": long, "features": [double, ...]} — the
  idiomatic re-expression;
- ``reference``: value = big-endian float64 array, key = big-endian
  int32 record index — the reference's own binary layout
  (Serdes/ArrayListSerializer semantics), so a user can point this
  engine at the reference's actual topic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

_JSON_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def parse_point_records(
    records: DataFrame, value_format: str = "json"
) -> DataFrame:
    """(key binary, value binary, timestamp) -> (id, ts, features).

    Event time = the Kafka record timestamp, exactly like the reference
    (the producer stamps pane-stepped timestamps; InputProducer.java:63-67).
    """
    if value_format == "json":
        parsed = records.select(
            F.from_json(F.col("value").cast("string"), _JSON_SCHEMA).alias("p"),
            F.col("timestamp").alias("ts"),
        )
        return parsed.select(
            F.col("p.id").alias("id"), "ts", F.col("p.features").alias("features")
        )
    if value_format == "reference":
        # key: 4-byte big-endian int; value: concatenated 8-byte
        # big-endian doubles (the reference's hand-rolled serdes layout,
        # Serdes/ArrayListSerializer).  IEEE754 bits -> double via
        # longBitsToDouble; conv(..,16,-10) keeps the sign bit exact.
        return records.select(
            F.conv(F.hex(F.col("key")), 16, 10).cast("long").alias("id"),
            F.col("timestamp").alias("ts"),
            F.expr(
                "transform(sequence(0, cast(length(value) div 8 as int) - 1), "
                "i -> cast(java_method('java.lang.Double', 'longBitsToDouble', "
                "cast(conv(hex(substring(value, cast(i * 8 + 1 as int), 8)), 16, -10) as long)) as double))"
            ).alias("features"),
        )
    raise ValueError(f"unknown value_format: {value_format}")


def serialize_point_records(
    points: DataFrame, value_format: str = "json"
) -> DataFrame:
    """(id, ts, features) -> (key binary, value binary) ready for a
    Kafka sink — the inverse of ``parse_point_records``, completing the
    round-trip interop story (reference producer: InputProducer.java:31-73).

    ``reference`` format writes the reference's own wire layout so this
    engine can feed the reference's consumers: key = 4-byte big-endian
    int32, value = concatenated 8-byte big-endian IEEE754 doubles
    (raw bits preserved, so NaN payloads survive the round trip)."""
    if value_format == "json":
        return points.select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
            F.encode(
                F.to_json(F.struct(F.col("id"), F.col("features"))), "utf-8"
            ).alias("value"),
        )
    if value_format == "reference":
        # int -> big-endian bytes via hex/lpad/unhex; double -> raw bits
        # via doubleToRawLongBits (hex of a negative long is already the
        # 16-char two's complement)
        return points.select(
            F.unhex(
                F.lpad(
                    F.hex(
                        F.col("id").cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
                    ),
                    8,
                    "0",
                )
            ).alias("key"),
            F.expr(
                "aggregate(transform(features, x -> unhex(lpad(hex("
                "cast(java_method('java.lang.Double', 'doubleToRawLongBits', x)"
                " as bigint)), 16, '0'))), cast('' as binary), "
                "(acc, b) -> concat(acc, b))"
            ).alias("value"),
        )
    raise ValueError(f"unknown value_format: {value_format}")


def read_kafka_points(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "data-input",
    value_format: str = "json",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Streaming points from a Kafka topic (feed into ``kelos_stream``)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_point_records(raw, value_format)
