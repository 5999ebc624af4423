"""Retry classification — exporter failure semantics.

Mirrors the status classes of the reference's
src/exporters/http/retry.rs (:127-153): HTTP 200-202 success; 408,
429, 500-504 retryable; a transport error (no status) retryable;
anything else permanent.

Batch mapping: a Spark job has no in-flight request to sleep on, so
retry becomes data. A column of sink statuses is classified into
success / retryable / permanent by classify_http_expr (a JVM CASE),
and classify_http_sql is the same CASE for the DuckDB oracle. The
reference's jittered backoff sleep is a live-connection concern with
no batch analog.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def classify_http_expr(status: Column) -> Column:
    """Class of an HTTP status column (JVM CASE, oracle-portable)."""
    return (
        F.when(status.isNull(), F.lit("retryable"))
        .when((status >= 200) & (status <= 202), F.lit("success"))
        .when(
            status.isin(408, 429) | ((status >= 500) & (status <= 504)),
            F.lit("retryable"),
        )
        .otherwise(F.lit("permanent"))
    )


def classify_http_sql(col: str) -> str:
    """Dialect-portable SQL twin for DuckDB oracles."""
    return (
        f"CASE WHEN {col} IS NULL THEN 'retryable' "
        f"WHEN {col} >= 200 AND {col} <= 202 THEN 'success' "
        f"WHEN {col} IN (408, 429) OR ({col} >= 500 AND {col} <= 504) "
        "THEN 'retryable' ELSE 'permanent' END"
    )
