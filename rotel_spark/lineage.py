"""Checkpoint / lineage table — resumability without per-row acks.

The reference acks rows back to their source and commits the *minimum
pending offset* per file/partition (/root/reference/src/receivers/
file/offset_tracker.rs:50-63; kafka offset_tracker.rs:36-57), persisted
as JSON state every 1 s (offset_committer.rs:27-44). Spark has no
per-row ack channel, so lineage becomes data (SURVEY.md §1.4): after
every sink of a run committed we append ONE range row — the min and
max of the range key plus counters — to a checkpoint table; resume
anti-joins the source against committed ranges so only unprocessed
ranges re-run.

Range key: RANGE_KEY, page_id (monotone row id). The range and
counters are ``observe()``d on the frame handed to the sink writer, so
they come from the same tasks that wrote the rows: no persist, no
second pass.
One range per run is sound because it is committed only after ALL
sinks for the run committed — the same "ack fires when the last ref
resolves" rule as payload.rs:426-439 — and the run processed every
source row in it that an earlier commit had not already covered. A
batch (a transactional run or a micro-batch) commits one row of its
own, stage ``export:<batch>``.

Delivery semantics: sink rows are exactly-once (every committed row is
inside a committed range by construction); DROPPED rows falling outside
all committed ranges (a garbage line below the run's min or above its
max) may be re-observed on resume — dead-letter/quarantine output is
therefore at-least-once, matching the reference's at-least-once stance
(offset_tracker.rs pending semantics).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

RANGE_KEY = "page_id"
PARSED_COL = "parse_ok"
# the row write_lineage commits, read back with this schema rather than
# an inferred one: a commit killed mid-write leaves only `_temporary`,
# and a table with no data file has nothing to infer a schema from
LINEAGE_SCHEMA = (
    "run_id string, stage string, src_min long, src_max long,"
    " rows_in long, rows_parsed long, rows_dropped long,"
    " sink_counts string, committed_at timestamp"
)


def observe_lineage(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the run's range and counters to df; they are read from
    the returned Observation once an action over df has run. Without a
    RANGE_KEY column the range is NULL; without PARSED_COL every row
    counts as parsed."""
    obs = Observation()
    parsed = (
        F.sum(F.col(PARSED_COL).cast("long"))
        if PARSED_COL in df.columns
        else F.count(F.lit(1))
    )
    k = (F.col(RANGE_KEY) if RANGE_KEY in df.columns
         else F.lit(None).cast("long"))
    return df.observe(
        obs,
        F.min(k).alias("src_min"),
        F.max(k).alias("src_max"),
        F.count(F.lit(1)).alias("rows_in"),
        F.coalesce(parsed, F.lit(0)).alias("rows_parsed"),
    ), obs


def write_lineage(
    observed: dict,
    path: str,
    run_id: str,
    stage: str = "export",
    sink_counts: dict[str, int] | None = None,
) -> None:
    """Append the committed range + counters observed for this run: one
    row (run_id, stage, src_min, src_max, rows_in, rows_parsed,
    rows_dropped, sink_counts, committed_at). The row is built on one
    partition, so a commit is one task writing one file."""
    n_in, n_parsed = observed["rows_in"], observed["rows_parsed"]
    SparkSession.active().range(0, 1, numPartitions=1).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        *[
            F.lit(v).cast("long").alias(k)
            for k, v in (
                ("src_min", observed["src_min"]),
                ("src_max", observed["src_max"]),
                ("rows_in", n_in),
                ("rows_parsed", n_parsed),
                ("rows_dropped", n_in - n_parsed),
            )
        ],
        F.lit(json.dumps(sink_counts or {})).alias("sink_counts"),
        F.current_timestamp().alias("committed_at"),
    ).write.mode("append").parquet(path)


def committed_ranges(
    spark: SparkSession, path: str, run_id: str
) -> DataFrame | None:
    """This run's committed ranges; None, without any Spark job, when
    nothing was ever committed at path."""
    from .sinks.writer import hadoop_path

    fs, p = hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    return (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(path)
        .filter(F.col("run_id") == run_id)
    )


def resume_filter(source: DataFrame, checkpoint: DataFrame) -> DataFrame:
    """Drop rows whose RANGE_KEY falls inside any committed range.

    Range anti-join via broadcast (checkpoint is tiny: one row per
    run) — at 100 TB the source never shuffles for this.
    """
    ranges = F.broadcast(
        checkpoint.select("src_min", "src_max").distinct()
    )
    key = source[RANGE_KEY]
    joined = source.join(
        ranges,
        (key >= ranges["src_min"]) & (key <= ranges["src_max"]),
        "left",
    )
    return joined.filter(F.col("src_min").isNull()).drop("src_min", "src_max")
