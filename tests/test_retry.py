"""Retry classification (retry.rs parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rotel_spark.sinks.retry import classify_http_expr


def test_http_status_classes(spark):
    """retry.rs:127-143 status table."""
    want = {s: "success" for s in (200, 201, 202)}
    want |= {s: "retryable" for s in (408, 429, 500, 501, 502, 503, 504)}
    want |= {s: "permanent" for s in (203, 301, 400, 401, 403, 404, 409, 505)}
    want[None] = "retryable"  # transport/timeout
    df = spark.createDataFrame([(s,) for s in want], "status int")
    got = {
        r.status: r.cls
        for r in df.select(
            "status", classify_http_expr(F.col("status")).alias("cls")
        ).collect()
    }
    assert got == want
