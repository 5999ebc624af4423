"""Timestamp parsing with a fallback chain, mirroring the reference.

The reference parses the primary chrono format then tries 4 naive
fallbacks assuming UTC (/root/reference/src/receivers/file/parser/
regex.rs:84-105); on total failure the record falls back to the
*observed* (arrival) time (receiver.rs:842). Spark mapping per
SURVEY.md §2.2: ``coalesce(to_timestamp(c, f1), to_timestamp(c, f2),
...)`` then ``coalesce(parsed, observed)``.

Session timezone must be UTC (session.py pins it) so naive formats
parse as UTC, matching the reference's `assume UTC` semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# nginx access time format %d/%b/%Y:%H:%M:%S %z → Java pattern
NGINX_TIME_FMT = "dd/MMM/yyyy:HH:mm:ss Z"

# fallback chain mirroring regex.rs:92-105 (naive formats, assume UTC)
FALLBACK_FMTS = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "dd/MMM/yyyy:HH:mm:ss",
]

NANOS = 1_000_000_000


def parse_timestamp_chain(
    col: Column, primary_fmt: str | None = None
) -> Column:
    """Parse with primary format then fallbacks; NULL if all fail.

    ``try_to_timestamp`` keeps failures as NULL instead of erroring
    (ANSI mode safe).
    """
    candidates = []
    if primary_fmt:
        candidates.append(F.try_to_timestamp(col, F.lit(primary_fmt)))
    candidates += [F.try_to_timestamp(col, F.lit(f)) for f in FALLBACK_FMTS]
    return F.coalesce(*candidates)


def to_unix_nanos(ts: Column) -> Column:
    """timestamp → epoch nanoseconds (LONG). Second precision inputs
    only (log formats carry no sub-second), so no precision loss."""
    return (F.unix_timestamp(ts) * F.lit(NANOS)).cast("long")
