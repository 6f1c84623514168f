"""Kafka streaming source (S1) — the production ingestion path.

Maps the reference's Kafka-engine named-collection settings
(manifests/adsb-clickhouse/30-clickhouse-local.yaml.example:41-126) onto
spark-sql-kafka options:

    kafka_broker_list        → kafka.bootstrap.servers
    kafka_topic_list         → subscribe
    kafka_group_name         → kafka.group.id / checkpoint identity
    kafka_max_block_size     → maxOffsetsPerTrigger
    kafka_flush_interval_ms  → trigger(processingTime=...)
    kafka_skip_broken_messages → PERMISSIVE from_json + null filter
    auto_offset_reset        → startingOffsets

The spark-sql-kafka connector jar is not bundled in this image, so
``kafka_stream`` raises a clear error when the format is unavailable;
tests exercise the identical cascade through the file/memory sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import SourceConfig
from .json_source import parse_kafka_value


def kafka_stream(
    spark: SparkSession,
    cfg: SourceConfig,
    *,
    bootstrap_servers: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Raw-schema stream from the source's topic."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", cfg.max_rows_per_trigger)
        .option("failOnDataLoss", "false")
        .load()
    )
    return parse_kafka_value(raw, cfg)
