"""Structured Streaming micro-batch mode: the same stage functions run
per micro-batch via foreachBatch; counts match the batch run."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F


def _write_log_files(spark, sf_dir: str, tmp: pathlib.Path, n_files: int = 4):
    from rotel_spark.fixtures import load_pages

    pages = load_pages(spark, sf_dir, reps=2).select("page_id", "log_line")
    src = tmp / "src"
    pages.withColumn("bucket", F.col("page_id") % n_files).repartition(
        n_files, "bucket"
    ).select("log_line").write.mode("overwrite").text(str(src))
    return src, pages.count()


def test_stream_matches_batch(spark, sf_unit, tmp_path):
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, total = _write_log_files(spark, sf_unit, tmp_path)
    cfg = {
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
        ],
        "sinks": [
            {"name": "out", "path": str(tmp_path / "out"), "mode": "append"},
        ],
    }
    source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=2)
    q = run_stream(
        spark, source, cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    # batch oracle on the same files
    from rotel_spark.parsers.auto import parse_auto

    batch = parse_auto(
        spark.read.text(str(src) + "/*.txt").withColumnRenamed(
            "value", "raw_line"
        )
    ).filter("parse_ok")
    assert out.count() == batch.count()
    assert out.count() > 0


def test_stream_resume_is_exactly_once(spark, sf_unit, tmp_path):
    """Re-running with the same checkpoint ingests nothing new
    (file-source offsets committed — the offset_tracker analog)."""
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    cfg = {
        "processors": [{"kind": "parse_auto"}],
        "sinks": [
            {"name": "out", "path": str(tmp_path / "out2"), "mode": "append"},
        ],
    }
    for _ in range(2):
        source = stream_lines(spark, str(src) + "/*.txt")
        q = run_stream(
            spark, source, cfg, str(tmp_path / "ckpt2"), available_now=True
        )
        q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out2"))
    batch_n = spark.read.text(str(src) + "/*.txt").count()
    assert out.count() == batch_n  # not 2×


def test_replayed_microbatch_writes_once(spark, sf_unit, tmp_path):
    """A micro-batch re-delivered after a crash (its commit marker lost)
    replaces its first attempt's files: every sink holds each line
    exactly once, and the caller's sink specs are not mutated."""
    from collections import Counter

    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    cfg = {
        "processors": [{"kind": "parse_auto"}],
        "sinks": [
            {"name": "all", "path": str(tmp_path / "all")},
            {"name": "ok", "predicate": "parse_ok",
             "path": str(tmp_path / "ok")},
        ],
    }
    ckpt = tmp_path / "ckpt3"
    for attempt in range(2):
        source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=2)
        q = run_stream(spark, source, cfg, str(ckpt), available_now=True)
        q.awaitTermination(120)
        if attempt == 0:
            last = max(int(f.name) for f in (ckpt / "commits").iterdir()
                       if f.name.isdigit())
            assert last > 0
            # the marker and its local-filesystem checksum
            (ckpt / "commits" / str(last)).unlink()
            (ckpt / "commits" / f".{last}.crc").unlink(missing_ok=True)
    parsed = parse_auto(
        spark.read.text(str(src) + "/*.txt").withColumnRenamed(
            "value", "raw_line"
        )
    )
    for name, exp in (("all", parsed), ("ok", parsed.filter("parse_ok"))):
        got = spark.read.parquet(str(tmp_path / name)).select("raw_line")
        assert Counter(r[0] for r in got.collect()) == Counter(
            r[0] for r in exp.select("raw_line").collect()
        ), name
    assert all("mode" not in s for s in cfg["sinks"])
