"""Filter / drop / sample processors.

The reference has no standalone filter processor — user processors
drop records by deleting them (SURVEY.md §2.3); the north rule makes
drop/sample first-class. `mod_sample` is deterministic (key-based, not
RNG) so sampled output is oracle-checkable and stable across retries —
rerunning a failed task must pick the same rows (exactly-once parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_unparsed(df: DataFrame, flag_col: str = "parse_ok") -> DataFrame:
    """Reference semantics: parse errors skip the line, never fail the
    job (/root/reference/src/receivers/file/receiver.rs:832-836).

    Pushdown note: Catalyst pushes this predicate through every
    *deterministic* projection below, substituting the flag's whole
    defining expression into the pushed Filter — for parse_auto output
    that re-runs the multi-format parse per input row. parse_auto
    therefore defines ``parse_ok`` behind a non-deterministic no-op
    guard (see auto.py), which blocks push-through at the defining
    projection; this function stays a plain filter.
    """
    return df.filter(F.col(flag_col))


def mod_sample(
    df: DataFrame, key: str, numerator: int, denominator: int
) -> DataFrame:
    """Keep rows where key % denominator < numerator (deterministic)."""
    return df.filter((F.col(key) % denominator) < numerator)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic per-stratum sampling for corpus balancing (e.g.
    language rebalancing of a training set): keep a row iff
    md5_hash64(id) % buckets < rate(stratum)·buckets.

    Deterministic (retry-stable, oracle-checkable) unlike sampleBy's
    RNG; one narrow filter, no shuffle — at 100 TB this is a pushdown-
    friendly scan predicate. The md5-based hash has an exact DuckDB
    twin (functions.hashing.md5_hash64_sql).
    """
    from ..functions.hashing import md5_hash64

    h = F.pmod(md5_hash64(F.col(id_col)), F.lit(buckets))
    keep = F.lit(None).cast("boolean")
    expr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        thr = h < int(rate * buckets)
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    expr = (
        expr.otherwise(h < int(default_rate * buckets))
        if expr is not None
        else (h < int(default_rate * buckets))
    )
    return df.filter(expr)
