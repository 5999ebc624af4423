"""Severity mapping — OTLP severity numbers from source-specific levels.

Mirrors the reference's kmsg syslog-priority map
(/root/reference/src/receivers/kmsg/parser.rs:155-166):
Emergency/Alert/Critical→21, Error→17, Warning→13, Notice→10,
Informational→9, Debug→5 — with the per-priority text names of
Priority::as_str (src/receivers/kmsg/convert.rs:175). The HTTP-status
rule (5xx→ERROR, 4xx→WARN, else INFO) is an engine rule documented in
FIXTURES.md §3.

Everything here is a plain SQL CASE — JVM-side, codegen-friendly, and
dialect-portable so the same text doubles as the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# level-name → (number, canonical text); nginx-error levels + syslog names
LEVEL_MAP: dict[str, tuple[int, str]] = {
    "emerg": (21, "FATAL"),
    "alert": (21, "FATAL"),
    "crit": (21, "FATAL"),
    "error": (17, "ERROR"),
    "warn": (13, "WARN"),
    "warning": (13, "WARN"),
    "notice": (10, "NOTICE"),
    "info": (9, "INFO"),
    "debug": (5, "DEBUG"),
}

# kmsg: priority & 7 → (number, text) — numbers per parser.rs:155-166,
# text per Priority::as_str (src/receivers/kmsg/convert.rs:175): the
# reference emits the full per-priority name, not the OTLP short name
KMSG_PRIO_MAP: dict[int, tuple[int, str]] = {
    0: (21, "EMERGENCY"),
    1: (21, "ALERT"),
    2: (21, "CRITICAL"),
    3: (17, "ERROR"),
    4: (13, "WARNING"),
    5: (10, "NOTICE"),
    6: (9, "INFO"),
    7: (5, "DEBUG"),
}


def status_severity_number_sql(col: str) -> str:
    """Portable CASE: http status → severity_number."""
    return (
        f"CASE WHEN {col} >= 500 THEN 17 "
        f"WHEN {col} >= 400 THEN 13 ELSE 9 END"
    )


def status_severity_text_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} >= 500 THEN 'ERROR' "
        f"WHEN {col} >= 400 THEN 'WARN' ELSE 'INFO' END"
    )


def kmsg_severity_number_sql(col: str) -> str:
    """Portable CASE: kmsg priority → severity_number (facility = prio>>3
    handled by the caller; here col is already priority & 7)."""
    whens = " ".join(
        f"WHEN {p} THEN {num}" for p, (num, _) in KMSG_PRIO_MAP.items()
    )
    return f"CASE {col} % 8 {whens} ELSE 0 END"


def kmsg_severity_text_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {p} THEN '{txt}'" for p, (_, txt) in KMSG_PRIO_MAP.items()
    )
    return f"CASE {col} % 8 {whens} ELSE '' END"


# Column-API variants (used by the pipeline; SQL variants feed oracles)
def status_to_severity_number(status: Column) -> Column:
    return (
        F.when(status >= 500, F.lit(17))
        .when(status >= 400, F.lit(13))
        .otherwise(F.lit(9))
    )


def status_to_severity_text(status: Column) -> Column:
    return (
        F.when(status >= 500, F.lit("ERROR"))
        .when(status >= 400, F.lit("WARN"))
        .otherwise(F.lit("INFO"))
    )


def level_to_severity_number(level: Column) -> Column:
    c = F.lit(0)
    expr = None
    for k, (num, _) in LEVEL_MAP.items():
        expr = (
            F.when(level == k, F.lit(num))
            if expr is None
            else expr.when(level == k, F.lit(num))
        )
    return expr.otherwise(c)


def level_to_severity_text(level: Column) -> Column:
    expr = None
    for k, (_, txt) in LEVEL_MAP.items():
        expr = (
            F.when(level == k, F.lit(txt))
            if expr is None
            else expr.when(level == k, F.lit(txt))
        )
    return expr.otherwise(F.lit(""))


def kmsg_prio_to_severity_number(prio: Column) -> Column:
    sev = prio % 8
    expr = None
    for p, (num, _) in KMSG_PRIO_MAP.items():
        expr = (
            F.when(sev == p, F.lit(num))
            if expr is None
            else expr.when(sev == p, F.lit(num))
        )
    return expr.otherwise(F.lit(0))


def kmsg_prio_to_severity_text(prio: Column) -> Column:
    sev = prio % 8
    expr = None
    for p, (_, txt) in KMSG_PRIO_MAP.items():
        expr = (
            F.when(sev == p, F.lit(txt))
            if expr is None
            else expr.when(sev == p, F.lit(txt))
        )
    return expr.otherwise(F.lit(""))
