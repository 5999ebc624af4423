"""Auto-detecting multi-format line parser.

The reference auto-detects per line — JSON if the line starts with
'{' else combined (/root/reference/src/receivers/file/parser/
nginx.rs:218-225, :243-255). We widen the dispatch to the four fixture
formats with cheap structural probes, then run each format's
expression parser and coalesce per-field — a single pass, no
branching per row in Python (SURVEY.md §2.2).

Performance shape (measured at 1M rows): the naive formulation inlines
a fresh ``regexp_extract`` into every CASE branch — a combined-format
line ends up fully regex-matched 5-6×. This version stages the plan as
three projections (detect → raw-field extract → derive), each
materializing its expensive expressions as named columns. Catalyst's
CollapseProject declines to inline non-cheap expressions referenced
more than once, so every regex runs exactly once per row; raw extracts
are guarded by the format column so rows only pay for their own
format's regex. 9× faster than the naive plan on the bench.

Output: the unified flat log-record shape (FIXTURES.md §3):
  time_unix_nano, severity_number, severity_text, body, log_source,
  status, parse_ok.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.severity import (
    kmsg_prio_to_severity_number,
    kmsg_prio_to_severity_text,
    level_to_severity_number,
    level_to_severity_text,
    status_to_severity_number,
    status_to_severity_text,
)
from ..functions.timestamps import (
    NANOS,
    NGINX_TIME_FMT,
    to_unix_nanos,
)
from . import json_log, kmsg, nginx


# Per-gateway cache of the stage Column expressions, keyed by the line
# column name. A Column is an immutable UNRESOLVED expression tree —
# reusing one across DataFrames/plans is exactly as safe as reusing the
# pattern string it was built from (no data, schema or session state is
# captured). Why: building these trees
# costs ~2,800 py4j ROUND TRIPS per call (every F.when/F.col/.alias is
# a socket round trip — profiled 0.5-0.6 s per query construction,
# >half the wall time of the small parse queries at sf0.1), paid again
# for every query a caller constructs. Build once per gateway,
# reuse while it lives — the regex-compile idiom at the expression layer
# (guide §7.3: planning/driver-side overhead is real job time). A Column
# is a handle into its gateway's JVM, so an entry built through a
# gateway that has since shut down is rebuilt for the live one.
_STAGE_EXPRS: dict[str, tuple] = {}


def _stage_exprs(line_col: str) -> dict:
    gateway = SparkContext._gateway
    hit = _STAGE_EXPRS.get(line_col)
    if hit is not None and hit[0] is gateway:
        return hit[1]
    from .capture import capture_all, capture_ok

    line = F.col(line_col)
    # stage 1: cheap structural probes claim json/kmsg/nginx_error; the
    # remaining rows go straight to the combined capture and the
    # 'nginx' / 'unknown' verdict rides the capture result (capture_ok
    # ⇔ the detect rlike — regexp_replace rewrites iff the pattern
    # matches). The previous detect-then-capture staging evaluated the
    # expensive COMBINED regex TWICE per combined-format row (the
    # majority format): once as the detect rlike, once as the capture
    # regexp_replace. Measured at 10M rows / 7M nginx: detect+capture
    # 2.5 s → 2.0 s with the single evaluation; detection counts
    # identical on every format including garbage lines.
    pre = (
        F.when(line.startswith("{"), F.lit("json"))
        .when(line.rlike(r"^\d+,\d+,\d+(,[^;]*)?;"), F.lit("kmsg"))
        .when(line.rlike(r"^\d{4}/\d{2}/\d{2} "), F.lit("nginx_error"))
    )

    # stage 2: raw field extraction, guarded per format — a row only
    # pays its own format's parse, and each format's regex runs ONCE
    # per row (capture_all: one regexp_replace + split yields every
    # group; per-group regexp_extract would re-match per field).
    # Unclaimed rows (NULL _pre) pay the combined capture; for a
    # garbage line the regex fails on the first characters and the
    # capture array is the line itself (capture_ok false → 'unknown'),
    # exactly the rows the old plan sent through the detect rlike.
    def only(f, expr):
        return F.when(F.col("_pre") == f, expr)

    s2a_cols = [
        F.when(
            F.col("_pre").isNull(),
            capture_all(line, nginx.COMBINED_PATTERN, 8),
        ).alias("_ng"),
        only(
            "nginx_error", capture_all(line, nginx.ERROR_PATTERN, 6)
        ).alias("_err"),
        only("kmsg", capture_all(line, kmsg.KMSG_PATTERN, 5)).alias("_km"),
        only("json", F.from_json(line, json_log.ACCESS_JSON_SCHEMA)).alias(
            "_j"
        ),
    ]
    log_source = F.coalesce(
        F.col("_pre"),
        F.when(capture_ok(F.col("_ng"), 8), F.lit("nginx")).otherwise(
            F.lit("unknown")
        ),
    ).alias("log_source")
    fmt = F.col("log_source")
    # groups ≥2 are plain array slots; group 1 carries the match MARK.
    # _ng slots use F.get (NULL out-of-bounds): unmatched lines keep a
    # 1-element capture array and ANSI getItem would throw on them —
    # NULL is exactly what the old NULL-array path produced.
    s2_cols = [
        F.get("_ng", 4).alias("_ng_status"),
        F.get("_ng", 2).alias("_ng_time"),
        F.col("_err").getItem(1).alias("_err_level"),
        F.substring(F.col("_err").getItem(0), 2, 1 << 30).alias(
            "_err_time"
        ),
        F.substring(F.col("_km").getItem(0), 2, 1 << 30).alias("_km_prio"),
        F.col("_km").getItem(2).alias("_km_usec"),
    ]

    # stage 3: typed fields + severity + timestamp from the raw columns
    status = (
        F.when(
            fmt == "nginx",
            F.when(F.col("_ng_status") != "", F.col("_ng_status").cast("int")),
        )
        .when(fmt == "json", F.col("_j.status"))
        .otherwise(F.lit(None).cast("int"))
    ).alias("status")
    prio = F.when(
        F.col("_km_prio") != "", F.col("_km_prio").cast("int")
    ).alias("_prio")

    sev_num = (
        F.when(
            fmt.isin("nginx", "json"),
            status_to_severity_number(F.col("status")),
        )
        .when(fmt == "nginx_error", level_to_severity_number(F.col("_err_level")))
        .when(fmt == "kmsg", kmsg_prio_to_severity_number(F.col("_prio")))
        .otherwise(F.lit(0))
    ).alias("severity_number")
    sev_txt = (
        F.when(
            fmt.isin("nginx", "json"),
            status_to_severity_text(F.col("status")),
        )
        .when(fmt == "nginx_error", level_to_severity_text(F.col("_err_level")))
        .when(fmt == "kmsg", kmsg_prio_to_severity_text(F.col("_prio")))
        .otherwise(F.lit(""))
    ).alias("severity_text")
    # format is already known per branch — a single try_to_timestamp
    # per row, not the generic fallback chain (each chain miss is an
    # internally-caught exception; measured 47s/1M rows vs ~5s single)
    ts_ns = (
        F.when(
            fmt == "nginx",
            to_unix_nanos(
                F.try_to_timestamp(F.col("_ng_time"), F.lit(NGINX_TIME_FMT))
            ),
        )
        .when(fmt == "json", (F.col("_j.time") * F.lit(NANOS)).cast("long"))
        .when(
            fmt == "nginx_error",
            to_unix_nanos(
                F.try_to_timestamp(
                    F.col("_err_time"), F.lit("yyyy/MM/dd HH:mm:ss")
                )
            ),
        )
        .when(
            fmt == "kmsg",
            F.when(
                F.col("_km_usec") != "",
                (F.col("_km_usec").cast("long") * 1000).cast("long"),
            ),
        )
        .otherwise(F.lit(None).cast("long"))
    ).alias("time_unix_nano")
    # Always-true rand() guard = optimizer barrier (guide §4.4
    # mechanism, expression-level): a downstream filter(parse_ok)
    # would otherwise be pushed through the deterministic parse
    # projections, substituting the ENTIRE detect+capture derivation
    # (html decode + log extract ~10×, combined regex 2×) into a
    # Filter evaluated per input row (measured on the 1M-row bench
    # pipeline: parse stage 2.2 s pushed vs 0.9 s blocked; guarded by
    # test_parse_auto_filter_keeps_one_combined_capture in
    # tests/test_pipeline.py). One non-deterministic field makes
    # Catalyst keep filters above this projection, so parse columns
    # are computed once. `rand(0) != -1` is vacuously true
    # (rand ∈ [0,1)) and — unlike `>= -1` — survives Spark 4's rand
    # range folding; values, schema and retry-stability are unchanged.
    parse_ok = (
        F.when(F.rand(0) != F.lit(-1.0), fmt != "unknown")
        .otherwise(F.lit(False))
        .alias("parse_ok")
    )
    cached = {
        "pre": pre.alias("_pre"),
        "s2a_cols": s2a_cols,
        "log_source": log_source,
        "s2_cols": s2_cols,
        "s3_cols": [status, prio],
        "final_cols": [sev_num, sev_txt, ts_ns, parse_ok,
                       line.alias("body")],
    }
    _STAGE_EXPRS[line_col] = (gateway, cached)
    return cached


def parse_auto(df: DataFrame, line_col: str = "raw_line") -> DataFrame:
    """One-pass multi-format parse into the unified record shape."""
    x = _stage_exprs(line_col)

    # output names win over any same-named input columns (withColumn
    # overwrite semantics)
    df = df.drop(
        "log_source", "status", "severity_number", "severity_text",
        "time_unix_nano", "parse_ok", "body",
    )
    s1 = df.select("*", x["pre"])
    s2a = s1.select("*", *x["s2a_cols"])
    s2a = s2a.select("*", x["log_source"]).drop("_pre")
    s2 = s2a.select("*", *x["s2_cols"]).drop("_ng", "_err", "_km")
    s3 = s2.select("*", *x["s3_cols"])
    return (
        s3.select("*", *x["final_cols"])
        .drop(
            "_ng_status",
            "_ng_time",
            "_err_level",
            "_err_time",
            "_km_prio",
            "_km_usec",
            "_j",
            "_prio",
        )
    )
