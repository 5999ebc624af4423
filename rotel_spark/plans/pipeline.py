"""Config-driven pipeline builder — the engine's `Agent::run` analog.

The reference fixes its topology at startup: receivers → processor
chain → batcher → fanout → exporters (/root/reference/src/init/
agent.rs:131-265). Here the topology is a declarative config dict and
every stage is a pure ``DataFrame -> DataFrame`` function, applied in
declared order (processor chaining semantics,
src/topology/processors.rs:561-573 — ordered, each sees the previous
output). Catalyst fuses the whole chain into one physical plan; there
is no per-stage materialization: the fan-out to every sink is one
partitioned write over that plan (sinks/writer.py), and the lineage
counters ride the same job through ``observe()``.

``execute`` is the one execution path: stages, quarantine wiring,
fan-out and the lineage commit over a source frame. ``run_job`` reads
the config's source and calls it once; ``streaming.stream.run_stream``
calls it once per micro-batch, as batch ``<stream>-<batch_id>``.

Example config::

    {
      "source": {"kind": "parquet", "path": ...},
      "processors": [
        {"kind": "parse_auto"},
        {"kind": "filter", "expr": "parse_ok"},
        {"kind": "resource_attrs", "attrs": {"service.name": "web"}},
        {"kind": "attributes", "actions": [...]},
        {"kind": "sample", "numerator": 1, "denominator": 10},
      ],
      "sinks": [
        {"name": "errors", "predicate": "route = 'errors'", "path": ...},
        ...
      ],
      "batch": {"max_records_per_file": 8192},
    }
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Stage = Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """Ordered chain of named stages plus sink specs."""

    stages: list[tuple[str, Stage]] = field(default_factory=list)

    def add(self, name: str, fn: Stage) -> "Pipeline":
        self.stages.append((name, fn))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        for _, fn in self.stages:
            df = fn(df)
        return df


def build_processor(spec: dict) -> Stage:
    """Translate one processor spec into a stage function."""
    kind = spec["kind"]
    if kind == "parse_auto":
        from ..parsers.auto import parse_auto

        return lambda df: parse_auto(df, spec.get("line_col", "raw_line"))
    if kind == "parse_nginx":
        from ..parsers.nginx import parse_combined

        return lambda df: parse_combined(df, spec.get("line_col", "raw_line"))
    if kind == "grok":
        from ..parsers.regex_parser import grok_flat

        return lambda df: grok_flat(
            df, spec["pattern"], spec.get("line_col", "raw_line")
        )
    if kind == "filter":
        # quarantined rows ride through later filters so they reach the
        # quarantine sink in the same single pass (dead-letter rows are
        # routed, not re-scanned)
        def _filter(df: DataFrame) -> DataFrame:
            if "_quarantine" in df.columns:
                return df.filter(f"({spec['expr']}) OR _quarantine")
            return df.filter(spec["expr"])

        return _filter
    if kind == "quarantine":
        # dead-letter policy (SURVEY.md §2.8 nack): rows failing `expr`
        # are TAGGED (not written inline — that would be a second scan
        # of the source) and land in a dedicated quarantine sink during
        # the same fan-out pass (run_job wires the sink). The
        # reference's options are panic or treat-as-ack
        # (file/config.rs:83-86) — a dead-letter table is the
        # documented batch equivalent.
        def _quarantine(df: DataFrame) -> DataFrame:
            prev = (
                F.col("_quarantine")
                if "_quarantine" in df.columns
                else F.lit(False)
            )
            return df.withColumn(
                "_quarantine", prev | ~F.expr(spec["expr"])
            )

        return _quarantine
    if kind == "sample":
        from ..operators.filters import mod_sample

        return lambda df: mod_sample(
            df, spec["key"], spec["numerator"], spec["denominator"]
        )
    if kind == "resource_attrs":
        from ..operators.resource import upsert_resource_attributes

        return lambda df: upsert_resource_attributes(df, spec["attrs"])
    if kind == "attributes":
        from ..operators.attributes import apply_actions

        return lambda df: apply_actions(
            df, spec["actions"], col=spec.get("col", "log_attributes")
        )
    if kind == "redaction":
        from ..operators.redaction import redact

        return lambda df: redact(
            df,
            col=spec.get("col", "log_attributes"),
            blocked_key_patterns=spec.get("blocked_key_patterns", []),
            blocked_value_patterns=spec.get("blocked_value_patterns", []),
        )
    if kind == "route":
        from .routing import with_route

        return lambda df: with_route(df, spec.get("buckets", 8))
    if kind == "python":  # escape hatch: user fn(df) -> df
        return spec["fn"]
    raise ValueError(f"unknown processor kind: {kind}")


def build_pipeline(config: dict) -> Pipeline:
    p = Pipeline()
    for i, spec in enumerate(config.get("processors", [])):
        p.add(f"{i}:{spec['kind']}", build_processor(spec))
    return p


def run_job(
    spark: SparkSession,
    config: dict,
    run_id: str = "run0",
    transactional_batch: str | None = None,
) -> dict[str, int]:
    """Full job: read the config's source, then ``execute`` it. Returns
    per-sink row counts.

    transactional_batch: runs the source as that batch (see
    ``execute``): crash-safe two-phase sink commits, which need
    lineage_path."""
    from ..fixtures import extract_log_line, load_pages_full

    if transactional_batch is not None and not config.get("lineage_path"):
        raise ValueError("transactional_batch requires lineage_path")

    src = config["source"]
    if src["kind"] == "pages_synthetic":
        df = load_pages_full(spark, src["sf_dir"], src.get("reps", 20))
        df = extract_log_line(df)
    elif src["kind"] == "parquet":
        df = spark.read.parquet(src["path"])
    else:
        raise ValueError(f"unknown source kind: {src['kind']}")
    return execute(spark, df, config, run_id, transactional_batch)


def execute(
    spark: SparkSession,
    df: DataFrame,
    config: dict,
    run_id: str,
    batch: str | None,
) -> dict[str, int]:
    """Stages → fan-out sinks → lineage over df, the source of one run
    (``run_job``) or one micro-batch (``run_stream``). Returns per-sink
    row counts.

    Under a batch, ``fan_out`` lays out each sink by its mode
    (``<path>/batch=<batch>`` or ``<batch>-part-*`` files) and an
    attempt of the batch replaces what an earlier attempt left, so a
    re-driven batch writes each row once.

    With lineage_path the run commits one lineage row after every sink
    is in place (stage ``export``, or ``export:<batch>``), and skips
    source ranges this run_id already committed. A batch whose stage is
    committed is a no-op that returns its recorded counts. This is the
    two-phase commit of a transactional batch: fan_out stages the write
    in an invisible ``_staging_*`` dir (the leading underscore hides it
    from Spark readers) and moves each sink's rows into place; the
    lineage row is phase 2. A crash during the write leaves only the
    staging dir, a crash after the moves leaves batch output with no
    lineage row; the next attempt replaces both. This is the
    local-fs/HDFS model of an Iceberg snapshot commit (north rule:
    resumable mid-pipeline after executor loss).

    A resumed run without a batch (this run_id has committed rows)
    writes every sink in ``append`` mode: the sinks keep the committed
    rows and gain only the ones not yet committed. A run without a
    batch that has no rows left commits no lineage row.

    A frame without the range key column (``lineage.RANGE_KEY``, absent
    from a text-line stream) commits a NULL range and is never
    resume-filtered; the stream's checkpoint is its resume."""
    import json

    from .. import lineage
    from ..sinks import writer

    lineage_path = config.get("lineage_path")
    stage = "export" if batch is None else f"export:{batch}"
    resumed = False
    if lineage_path:
        # resume: skip ranges already committed for this run_id
        # (min-pending-offset semantics, offset_tracker.rs:50-63); the
        # checkpoint is read once, and not at all when none exists
        cp = lineage.committed_ranges(spark, lineage_path, run_id)
        committed = cp.collect() if cp is not None else []
        if batch is not None:
            done = [r for r in committed if r["stage"] == stage]
            if done:
                return json.loads(done[0]["sink_counts"])
        if committed and lineage.RANGE_KEY in df.columns:
            df = lineage.resume_filter(df, cp)
            # an overwrite would drop the committed rows from the sinks;
            # a batch writes only its own dir or files
            resumed = batch is None

    out = build_pipeline(config).run(df)

    # quarantine sink: tagged rows fan out to their own sink in the
    # same pass; regular sinks exclude them
    sinks = list(config["sinks"])
    q_specs = [
        s
        for s in config.get("processors", [])
        if s["kind"] == "quarantine"
    ]
    if q_specs and "_quarantine" in out.columns:
        sinks = [
            {
                **s,
                "predicate": (
                    f"({s['predicate']}) AND NOT _quarantine"
                    if s.get("predicate")
                    else "NOT _quarantine"
                ),
            }
            for s in sinks
        ]
        sinks.append(
            {
                "name": "_quarantine",
                "path": q_specs[0]["path"],
                "predicate": "_quarantine",
                "mode": q_specs[0].get("mode", "append"),
            }
        )

    if resumed:
        sinks = [{**s, "mode": "append"} for s in sinks]

    # the lineage range and counters ride the sink write itself: no
    # persist, and they come from the very tasks that wrote the rows
    if lineage_path:
        out, observed = lineage.observe_lineage(out)
    counts = writer.fan_out(
        out,
        sinks,
        max_records_per_file=config.get("batch", {}).get(
            "max_records_per_file", 8192
        ),
        batch=batch,
    )
    # commit marks the run processed; a crash before here is healed by
    # the next attempt, which replaces the batch's output. A batch always
    # commits (its stage makes a re-delivery a no-op); a run without one
    # that processed no rows has nothing to mark
    if lineage_path and (batch is not None or observed.get["rows_in"] > 0):
        lineage.write_lineage(
            observed.get,
            lineage_path,
            run_id=run_id,
            stage=stage,
            sink_counts=counts,
        )
    return counts
