"""Deterministic hashing — routing keys and attribute-map hashes.

The reference's Kafka exporter partitions by an order-insensitive hash
of the resource attributes: it SORTS the key/value pairs before
hashing (/root/reference/src/exporters/kafka/exporter.rs:128-162).
Our routing hash replicates that semantic: map → sorted "k=v" join →
hash. SURVEY.md §7 hard part #2.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_map_repr(attrs: Column) -> Column:
    """MAP<STRING,STRING> → canonical 'k1=v1\\nk2=v2' sorted by key.

    Order-insensitive: two maps with equal contents but different
    insertion order produce identical strings (exporter.rs:128-162).
    """
    pairs = F.transform(
        F.map_entries(attrs),
        lambda e: F.concat_ws("=", e["key"], e["value"]),
    )
    return F.array_join(F.array_sort(pairs), "\n")


def attrs_hash(attrs: Column) -> Column:
    """Order-insensitive 64-bit hash of an attribute map."""
    return F.xxhash64(sorted_map_repr(attrs))


def routing_partition(attrs: Column, num_partitions: int) -> Column:
    """Deterministic partition id from resource attrs (Kafka-key analog)."""
    return F.pmod(attrs_hash(attrs), F.lit(num_partitions)).cast("int")


def md5_hash64(col: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a
    BIGINT — bit-identical in DuckDB via
    CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT), so samplers
    built on it are oracle-checkable (xxhash64 has no DuckDB twin)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def md5_hash64_sql(col: str) -> str:
    """DuckDB twin of md5_hash64."""
    return (
        "CAST(concat('0x', substring(md5(CAST("
        f"{col} AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
