"""Micro-batch streaming mode — the same path, driven by a stream.

The reference is a continuous pipeline with 200 ms batch-timeout
flushes (/root/reference/src/topology/batch.rs:15-23) and bounded
channels for backpressure. Structured Streaming mapping (SURVEY.md
§2.4, §2.8):

  * trigger(processingTime=...) subsumes the batch timeout
  * maxFilesPerTrigger bounds admission (backpressure analog)
  * foreachBatch hands each micro-batch to ``plans.pipeline.execute``,
    the function ``run_job`` runs: one code path for batch and
    streaming (the whole point of the design), quarantine sink and
    lineage included
  * checkpointLocation records which micro-batches committed; a batch
    re-delivered after a crash replaces its own output in every sink
    (sinks default to ``append``: batch-named files in the sink's
    path), so each line lands once, and with lineage_path it commits
    its lineage row once

No event-time windowing: the reference has none (SURVEY.md §2.8 —
parsed-or-observed timestamp is the only late-data policy), so no
watermarks are required for parity.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import execute


def stream_lines(
    spark: SparkSession, glob: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming file source — the tail-a-glob receiver analog
    (max_concurrent_files=4, reference file/config.rs:108)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(glob)
        .withColumnRenamed("value", "raw_line")
    )


def run_stream(
    spark: SparkSession,
    source: DataFrame,
    config: dict,
    checkpoint_dir: str,
    trigger_ms: int = 200,
    available_now: bool = False,
):
    """Run ``execute`` on each micro-batch via foreachBatch; returns the
    StreamingQuery."""
    cfg = {**config,
           "sinks": [{"mode": "append", **s} for s in config["sinks"]]}
    # batch ids name each micro-batch's files and lineage stage, so one
    # re-delivered after a crash replaces what its first attempt wrote;
    # the checkpoint digest keeps another stream's batches with the same
    # ids in a shared sink dir (and lineage table) apart
    stream_tag = f"{zlib.crc32(checkpoint_dir.encode()):08x}"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        execute(spark, batch_df, cfg, run_id=stream_tag,
                batch=f"{stream_tag}-{batch_id}")

    writer = source.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()

