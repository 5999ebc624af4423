"""JSON log-line parser.

Mirrors the reference JsonParser (/root/reference/src/receivers/file/
parser/json.rs:44-110): JSON object → typed attributes; lenient mode
returns empty attrs on bad JSON instead of erroring; non-object top
level is a parse failure. Spark mapping: ``from_json`` with an explicit
schema when known (typed, JVM-side), else MAP<STRING,STRING> for open
attrs. No Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.severity import (
    status_to_severity_number,
    status_to_severity_text,
)
from ..functions.timestamps import NANOS

# the access-log JSON shape generated by fixtures (nginx.rs:588-591 analog)
ACCESS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("remote_addr", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("request", T.StringType()),
        T.StructField("time", T.LongType()),
        T.StructField("bytes", T.LongType()),
    ]
)


def parse_access_json(df: DataFrame, line_col: str = "raw_line") -> DataFrame:
    """Typed parse of JSON access lines; bad JSON → NULL struct (lenient
    mode, json.rs:60-66) → parse_ok=false."""
    line = F.col(line_col)
    parsed = F.from_json(line, ACCESS_JSON_SCHEMA)
    return (
        df.withColumn("_j", parsed)
        .withColumn("parse_ok", F.col("_j").isNotNull() & F.col("_j.status").isNotNull())
        .withColumn("remote_addr", F.col("_j.remote_addr"))
        .withColumn("status", F.col("_j.status"))
        .withColumn("request", F.col("_j.request"))
        .withColumn("body_bytes_sent", F.col("_j.bytes"))
        .withColumn(
            "time_unix_nano", (F.col("_j.time") * F.lit(NANOS)).cast("long")
        )
        .withColumn("severity_number", status_to_severity_number(F.col("status")))
        .withColumn("severity_text", status_to_severity_text(F.col("status")))
        .withColumn("log_source", F.lit("json"))
        .drop("_j")
    )
