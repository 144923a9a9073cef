"""Streaming sources/sinks for the eventbus.

The reference ingests CloudEvents over HTTP/gRPC and delivers to
HTTP/gRPC/FaaS sinks. In Spark terms the ingest side is any
``readStream`` source producing the envelope schema; delivery is the
DeliveryLoop's pluggable sink. This module provides:

- envelope readers for parquet/JSON-lines directories (the file-bus —
  what the test image supports),
- a Kafka reader (gated: the connector jar isn't in this image),
- a collecting sink for tests (the FaaS and gRPC sinks are in
  ``vanus_spark.sinks``).

At scale the bus IS Kafka (or a cloud log service): `(topic-partition,
offset)` maps 1:1 to the reference's `(eventlog, offset)`, and
Structured Streaming's checkpointing replaces its committed-offset
store.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from vanus_spark.model import ENVELOPE_SCHEMA


def read_envelope_stream(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """File-bus reader: a directory of parquet/JSON-lines envelope
    rows as a streaming DataFrame."""
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.json(path)
    raise ValueError(f"unsupported stream format {fmt}")


def read_kafka_stream(
    spark: SparkSession, bootstrap: str, topic: str, starting_offsets: str = "latest"
) -> DataFrame:
    """Kafka bus reader: value is the JSON-serialized envelope.
    Requires the spark-sql-kafka connector jar (not in this image)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA).alias("e"),
        F.col("partition").cast("long").alias("eventlog"),
        F.col("offset").alias("offset"),
    )
    return parsed.select("e.*", "eventlog", "offset")


class CollectingSink:
    """Test double: records delivered payloads (executor-side lists
    won't aggregate across processes — use only with local[1] tests
    or for per-batch assertions via the returned statuses)."""

    def __init__(self, status: int = 200):
        self.status = status

    def __call__(self, rows: list[dict[str, Any]]) -> list[int]:
        return [self.status] * len(rows)
