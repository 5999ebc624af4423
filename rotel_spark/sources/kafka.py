"""Kafka source/sink builders — the kafka receiver/exporter analog.

These build the reader/writer option maps and the key and partition
expressions without a broker; the semantics they encode are tested
where testable (key hashing, topic naming).

Reference semantics mirrored:
  * per-telemetry-type topics otlp_{logs,metrics,traces}
    (src/receivers/kafka/config.rs:111-117)
  * optional partition-by-resource-attributes: message key =
    deterministic order-insensitive hash of resource attrs
    (src/exporters/kafka/exporter.rs:128-162 — sorts pairs first);
    requires one ResourceLogs per message (split, exporter.rs:363-397)
    → in Spark each row already is one record, so the key is per-row
  * offset tracking = Structured Streaming's Kafka offsets +
    checkpointLocation (min-pending analog, offset_tracker.rs:36-57)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import sorted_map_repr

TOPICS = {
    "logs": "otlp_logs",
    "metrics": "otlp_metrics",
    "traces": "otlp_traces",
}


def read_stream_options(
    brokers: str,
    telemetry_type: str = "logs",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Option map for the per-type topic reader (testable without a
    broker; the semantics the integration tests assert)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": TOPICS[telemetry_type],
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_key(resource_attrs) -> "F.Column":  # type: ignore[name-defined]
    """Order-insensitive resource-attr message key (exporter.rs:128-162)."""
    return F.sha2(sorted_map_repr(resource_attrs), 256)


def to_kafka_batch(
    df: DataFrame,
    value_cols: list[str],
    resource_col: str = "resource_attributes",
    partition_by_resource_attrs: bool = True,
) -> DataFrame:
    """Shape a DataFrame into the (key, value) columns Kafka expects;
    value is JSON-serialized (reference supports json|protobuf,
    exporters/kafka/config.rs:116-131 — we emit json)."""
    key = (
        kafka_key(F.col(resource_col))
        if partition_by_resource_attrs
        else F.lit(None).cast("string")
    )
    return df.select(
        key.alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in value_cols])).alias("value"),
    )


def assign_partition(key, n_partitions: int, spread=None) -> "F.Column":
    """Kafka default-partitioner analog: partition = hash(key) mod
    n_partitions (the broker client uses murmur2; xxhash64 here — the
    invariants the reference's integration tests assert are per-key
    STABILITY and cross-key DISTRIBUTION, tests/kafka_integration_
    tests.rs:490,614, not a specific hash value).

    Null keys model the client's sticky/round-robin path: they spread
    across partitions instead of hot-spotting one. `spread` names a
    column (payload or offset) to hash for that; default is
    spark_partition_id so each producer task sticks to one partition
    per batch — the sticky-partitioner behavior, preserving write
    parallelism for all-null-key streams."""
    if spread is None:
        spread = F.spark_partition_id()
    return F.when(
        key.isNull(),
        F.pmod(F.xxhash64(spread), F.lit(n_partitions)).cast("int"),
    ).otherwise(F.pmod(F.xxhash64(key), F.lit(n_partitions)).cast("int"))


def write_stream_options(
    brokers: str, telemetry_type: str = "logs"
) -> dict[str, str]:
    """Option map for the per-type topic writer."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": TOPICS[telemetry_type],
    }
