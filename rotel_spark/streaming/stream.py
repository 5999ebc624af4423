"""Micro-batch streaming mode — the same stages, driven by a stream.

The reference is a continuous pipeline with 200 ms batch-timeout
flushes (/root/reference/src/topology/batch.rs:15-23) and bounded
channels for backpressure. Structured Streaming mapping (SURVEY.md
§2.4, §2.8):

  * trigger(processingTime=...) subsumes the batch timeout
  * maxFilesPerTrigger bounds admission (backpressure analog)
  * foreachBatch reuses the *identical* batch stage functions — one
    code path for batch and streaming (the whole point of the design)
  * checkpointLocation records which micro-batches committed; a batch
    re-delivered after a crash replaces its own files in every sink, so
    each line lands once

No event-time windowing: the reference has none (SURVEY.md §2.8 —
parsed-or-observed timestamp is the only late-data policy), so no
watermarks are required for parity. `windowed_severity_counts` is
provided anyway as the idiomatic extension for users who want it.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import build_pipeline


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
    """Drive the config-declared pipeline per micro-batch via
    foreachBatch; returns the StreamingQuery."""
    pipe = build_pipeline(config)
    sinks = [{"mode": "append", **s} for s in config["sinks"]]
    # batch ids name the files each micro-batch moves into its sinks, so
    # one re-delivered after a crash replaces what its first attempt
    # wrote; the checkpoint digest keeps another stream's batches with
    # the same ids in a shared sink dir apart
    stream_tag = f"{zlib.crc32(checkpoint_dir.encode()):08x}"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks.writer import fan_out

        fan_out(pipe.run(batch_df), sinks, batch=f"{stream_tag}-{batch_id}")

    writer = source.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()


def windowed_severity_counts(
    parsed: DataFrame, window: str = "1 minute", watermark: str = "5 minutes"
) -> DataFrame:
    """Optional event-time rollup with late-data handling (extension,
    not reference parity — documented absent there, SURVEY.md §2.8)."""
    ts = F.timestamp_seconds(F.col("time_unix_nano") / 1_000_000_000)
    return (
        parsed.withColumn("event_ts", ts)
        .withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window), F.col("severity_text"))
        .count()
    )
