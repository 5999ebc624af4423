"""Routing — the fan-out key expression.

The reference fans every batch out to ALL exporters of its telemetry
type (/root/reference/src/topology/fanout.rs:17-20,92-95); named sinks
come from ``--exporters name:type,...`` (src/init/config.rs:55-98).
The north rule adds routing *by expression* (severity × domain) — our
engine supports both modes (route-filtered and broadcast-to-all).

Skew: hot domains (fixtures put ~39% of rows on one host) are not
repartitioned before the routed write — the write is narrow, each task
writes the rows it holds for every route, so no single task owns a hot
route (sinks/writer.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# default sink names by severity band
ROUTE_SQL = (
    "CASE WHEN severity_number >= 17 THEN 'errors' "
    "WHEN severity_number >= 13 THEN 'ops' ELSE 'archive' END"
)


def route_expr(severity_number: Column) -> Column:
    return (
        F.when(severity_number >= 17, F.lit("errors"))
        .when(severity_number >= 13, F.lit("ops"))
        .otherwise(F.lit("archive"))
    )


def domain_partition_sql(domain_col: str, buckets: int = 8) -> str:
    """Portable deterministic domain bucket: length+first-char arithmetic
    (NOT hash() — engine hashes differ across dialects; parity demands
    a dialect-portable bucket function)."""
    return (
        f"CAST((length({domain_col}) * 31 + ascii(substr({domain_col}, 1, 1)))"
        f" % {buckets} AS INT)"
    )


def domain_partition(domain: Column, buckets: int = 8) -> Column:
    return (
        (F.length(domain) * 31 + F.ascii(F.substring(domain, 1, 1)))
        % buckets
    ).cast("int")


def with_route(df: DataFrame, buckets: int = 8) -> DataFrame:
    """Add `route` (sink key) and `domain_partition` columns."""
    return df.withColumn(
        "route", route_expr(F.col("severity_number"))
    ).withColumn("domain_partition", domain_partition(F.col("domain"), buckets))
