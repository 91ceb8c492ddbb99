"""Kafka source for the continuous-sync mode of the engine.

The reference is a batch-only tool — to pick up new Cassandra rows the
operator re-runs the whole snapshot (`snapshot_use_pyspark.py:465-478`
wave loop). The streaming-native equivalent is a CDC topic drained by
Structured Streaming: Kafka offsets replace the hand-rolled checkpoint
table, and `Trigger.AvailableNow` gives the same "drain then stop"
lifecycle as the reference's wave loop without re-scanning old data.

The kafka-sql connector jar does not ship with the engine, so the
module holds the broker-free pieces, both unit-tested: `kafka_options`
(the single place the tuning knobs live, passed to
`spark.readStream.format("kafka").options(...)`) and `decode_json_payload`
(pure column expressions over the standard Kafka record schema).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class KafkaSourceConfig:
    """Source tuning. The backpressure knob (`max_offsets_per_trigger`)
    plays the role of the reference's fetch_size=2000 paging — bound the
    per-micro-batch work so one trigger never exceeds executor memory."""

    bootstrap_servers: str = "localhost:9092"
    starting_offsets: str = "earliest"  # snapshot semantics: start of topic
    max_offsets_per_trigger: int | None = 500_000
    fail_on_data_loss: bool = True
    min_partitions: int | None = None  # oversubscribe: split topic partitions

    def options(self, topic: str) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": topic,
            "startingOffsets": self.starting_offsets,
            "failOnDataLoss": str(self.fail_on_data_loss).lower(),
        }
        if self.max_offsets_per_trigger is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        if self.min_partitions is not None:
            opts["minPartitions"] = str(self.min_partitions)
        return opts


def kafka_options(topic: str, cfg: KafkaSourceConfig) -> dict[str, str]:
    return cfg.options(topic)


def decode_json_payload(records: DataFrame, value_schema: str) -> DataFrame:
    """Decode the Kafka binary `value` as JSON into typed columns, keeping
    the source coordinates (topic/partition/offset) for lineage and
    exactly-once bookkeeping. Pure column expressions (one from_json per
    record, JVM-side) — works on any DataFrame with the Kafka record
    shape, so it is testable without a broker."""
    parsed = records.select(
        F.col("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("bigint").alias("offset"),
        F.col("timestamp").alias("kafka_ts"),
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
    )
    return parsed.select(
        "topic", "partition", "offset", "kafka_ts", "key", "v.*"
    )
