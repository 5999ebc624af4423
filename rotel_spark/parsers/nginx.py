"""Nginx access/error log parsers — JVM-side regexp projections.

Patterns mirror the reference byte-for-byte minus Rust named groups
(Spark's regexp_extract is positional):
  * combined: /root/reference/src/receivers/file/parser/nginx.rs:53
  * error:    nginx.rs:64
  * time fmt: %d/%b/%Y:%H:%M:%S %z (nginx.rs:40)
Non-matching lines produce NULL fields and are counted-dropped, never
fatal (reference skips parse errors, receiver.rs:832-836).

Single-pass group capture: one ``regexp_extract`` per group would
re-run the full match per group (~10 regex evaluations/row). Instead
``regexp_replace`` rewrites a matching line into MARK + groups joined
by a SEP control char in ONE evaluation; fields come from a split.
Control chars U+0002/U+0001 never occur in the generated fixtures and
are vanishingly rare in real log lines; a line containing them would
only mis-split itself (counted-dropped), never fail the job.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.severity import (
    level_to_severity_number,
    level_to_severity_text,
    status_to_severity_number,
    status_to_severity_text,
)
from ..functions.timestamps import (
    NGINX_TIME_FMT,
    parse_timestamp_chain,
    to_unix_nanos,
)

# nginx.rs:53 — positional groups:
# 1 remote_addr, 2 remote_user, 3 time_local, 4 request, 5 status,
# 6 body_bytes_sent, 7 http_referer, 8 http_user_agent
COMBINED_PATTERN = (
    r'^(\S+) - (\S+) \[([^\]]+)\] "([^"]*)" (\d+) (\d+|-) "([^"]*)" "([^"]*)"'
)

# nginx.rs:64 — 1 time, 2 level, 3 pid, 4 tid, 5 cid?, 6 message
ERROR_PATTERN = (
    r"^(\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}) \[(\w+)\] (\d+)#(\d+):"
    r"(?: \*(\d+))? (.+)$"
)

COMBINED_FIELDS = [
    "remote_addr",
    "remote_user",
    "time_local",
    "request",
    "status",
    "body_bytes_sent",
    "http_referer",
    "http_user_agent",
]


from .capture import MARK as _MARK  # noqa: E402
from .capture import capture_all  # noqa: E402
from .capture import group as _group  # noqa: E402


# Per-gateway cache of the projection expressions, keyed by line
# column — same rationale and same gateway check as
# parsers.auto._stage_exprs: Columns are immutable UNRESOLVED trees,
# and rebuilding them costs hundreds of py4j round trips per query
# construction (driver-side wall time, guide §7.3).
_CC_EXPRS: dict[str, tuple] = {}


def _cc_exprs(line_col: str) -> dict:
    gateway = SparkContext._gateway
    hit = _CC_EXPRS.get(line_col)
    if hit is not None and hit[0] is gateway:
        return hit[1]
    line = F.col(line_col)
    n = len(COMBINED_FIELDS)
    ok = (F.size(F.col("_parts")) > n) & F.col("_parts").getItem(
        0
    ).startswith(_MARK)
    cached = {
        "parts": capture_all(line, COMBINED_PATTERN, n),
        "parse_ok": ok,
        "fields": [
            _group(F.col("_parts"), F.col("parse_ok"), i)
            for i in range(1, n + 1)
        ],
        "status": F.when(F.col("status") != "", F.col("status").cast("int")),
        "body_bytes_sent": F.when(
            F.col("body_bytes_sent").rlike(r"^\d+$"),
            F.col("body_bytes_sent").cast("long"),
        ),
        "method": F.regexp_extract(F.col("request"), r"^(\S+)", 1),
        "http_path": F.regexp_extract(F.col("request"), r"^\S+ (\S+)", 1),
        "time_unix_nano": to_unix_nanos(
            parse_timestamp_chain(F.col("time_local"), NGINX_TIME_FMT)
        ),
        "severity_number": status_to_severity_number(F.col("status")),
        "severity_text": status_to_severity_text(F.col("status")),
    }
    _CC_EXPRS[line_col] = (gateway, cached)
    return cached


def parse_combined(df: DataFrame, line_col: str = "raw_line") -> DataFrame:
    """Project combined-access fields; adds source='nginx' (nginx.rs:107-121).

    Output columns: the 8 capture groups (status/body_bytes_sent as
    INT/LONG), method, http_path, time_unix_nano, severity_number,
    severity_text, parse_ok. One regex evaluation per row (capture_all);
    the split array is a named column so CollapseProject won't inline
    the regex into every field projection.
    """
    x = _cc_exprs(line_col)
    out = df.withColumn("_parts", x["parts"])
    out = out.withColumn("parse_ok", x["parse_ok"])
    for i, name in enumerate(COMBINED_FIELDS, start=1):
        out = out.withColumn(name, x["fields"][i - 1])
    out = (
        out.drop("_parts")
        .withColumn("status", x["status"])
        .withColumn("body_bytes_sent", x["body_bytes_sent"])
        .withColumn("method", x["method"])
        .withColumn("http_path", x["http_path"])
        .withColumn("time_unix_nano", x["time_unix_nano"])
        .withColumn("severity_number", x["severity_number"])
        .withColumn("severity_text", x["severity_text"])
        .withColumn("log_source", F.lit("nginx"))
    )
    return out


def parse_error_log(df: DataFrame, line_col: str = "raw_line") -> DataFrame:
    """Project nginx error-log fields (nginx.rs:64, :128-142).
    One regex evaluation per row (capture_all)."""
    line = F.col(line_col)
    fields = ["err_time", "level", "pid", "tid", "cid", "err_message"]
    n = len(fields)
    out = df.withColumn("_parts", capture_all(line, ERROR_PATTERN, n))
    ok = (F.size(F.col("_parts")) > n) & F.col("_parts").getItem(
        0
    ).startswith(_MARK)
    out = out.withColumn("parse_ok", ok)
    for i, name in enumerate(fields, start=1):
        out = out.withColumn(
            name, _group(F.col("_parts"), F.col("parse_ok"), i)
        )
    return (
        out.drop("_parts")
        .withColumn("pid", F.when(F.col("pid") != "", F.col("pid").cast("long")))
        .withColumn("tid", F.when(F.col("tid") != "", F.col("tid").cast("long")))
        .withColumn("cid", F.when(F.col("cid") != "", F.col("cid").cast("long")))
        .withColumn(
            "time_unix_nano",
            to_unix_nanos(parse_timestamp_chain(F.col("err_time"))),
        )
        .withColumn("severity_number", level_to_severity_number(F.col("level")))
        .withColumn("severity_text", level_to_severity_text(F.col("level")))
        .withColumn("log_source", F.lit("nginx_error"))
    )
