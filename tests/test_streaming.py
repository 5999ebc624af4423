"""Structured Streaming micro-batch mode: foreachBatch runs the batch
path's ``execute`` per micro-batch; counts, quarantine and lineage match
the batch run."""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame
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
    _replay_last_microbatch(spark, sf_unit, tmp_path, lineage=False)


def test_replayed_microbatch_writes_once_with_lineage(
    spark, sf_unit, tmp_path
):
    """The same replay with lineage_path: each line once, and each batch
    id commits exactly one lineage row."""
    _replay_last_microbatch(spark, sf_unit, tmp_path, lineage=True)


def _replay_last_microbatch(spark, sf_unit, tmp_path, lineage: bool):
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
    if lineage:
        cfg["lineage_path"] = str(tmp_path / "_lineage")
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
    if lineage:
        stages = Counter(
            r.stage for r in spark.read.parquet(cfg["lineage_path"]).collect()
        )
        assert len(stages) == last + 1
        assert set(stages.values()) == {1}


def _text_files(src: pathlib.Path) -> list[pathlib.Path]:
    return sorted(src.glob("*.txt"))


def _parsed(spark, path) -> DataFrame:
    from rotel_spark.parsers.auto import parse_auto

    return parse_auto(
        spark.read.text(str(path)).withColumnRenamed("value", "raw_line")
    )


def test_stream_quarantine_sink(spark, sf_unit, tmp_path):
    """A stream's quarantine processor routes its rows to the quarantine
    sink, as run_job does; the regular sink keeps none of them."""
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    qpath = tmp_path / "dead_letter"
    cfg = {
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "quarantine", "expr": "parse_ok", "path": str(qpath)},
            {"kind": "filter", "expr": "parse_ok"},
        ],
        "sinks": [{"name": "all", "path": str(tmp_path / "all")}],
    }
    source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=2)
    q = run_stream(spark, source, cfg, str(tmp_path / "ckpt"),
                   available_now=True)
    q.awaitTermination(120)

    good = spark.read.parquet(str(tmp_path / "all"))
    dead = spark.read.parquet(str(qpath))
    assert good.filter("_quarantine OR NOT parse_ok").count() == 0
    assert dead.count() > 0  # garbage lines exist by construction
    assert dead.filter("parse_ok").count() == 0
    cols = ["raw_line", "parse_ok"]
    oracle = _parsed(spark, str(src) + "/*.txt").select(cols)
    got = good.select(cols).unionAll(dead.select(cols))
    assert got.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(got).count() == 0


def test_stream_lineage_row_per_microbatch(spark, sf_unit, tmp_path):
    """With lineage_path, every micro-batch commits one lineage row whose
    counters are its own lines'; a text-line frame has no range key."""
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    cfg = {
        "processors": [{"kind": "parse_auto"}],
        "sinks": [{"name": "all", "path": str(tmp_path / "all")}],
        "lineage_path": str(tmp_path / "_lineage"),
    }
    source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=1)
    q = run_stream(spark, source, cfg, str(tmp_path / "ckpt"),
                   available_now=True)
    q.awaitTermination(120)

    rows = spark.read.parquet(cfg["lineage_path"]).collect()
    per_file = []
    for f in _text_files(src):
        parsed = _parsed(spark, f)
        per_file.append((parsed.count(), parsed.filter("parse_ok").count()))
    assert sorted((r.rows_in, r.rows_parsed) for r in rows) == sorted(per_file)
    assert len({r.stage for r in rows}) == len(per_file)
    assert all(r.src_min is None and r.src_max is None for r in rows)


def _log_calls(monkeypatch) -> list[str]:
    """Wrap the calls perfbench's tracer wraps with ones that log their
    name, in call order."""
    import rotel_spark.lineage as lineage
    import rotel_spark.sinks.writer as writer
    from rotel_spark.plans.pipeline import Pipeline

    calls: list[str] = []
    for owner, attr in ((Pipeline, "run"), (writer, "fan_out"),
                        (lineage, "write_lineage"),
                        (lineage, "committed_ranges")):
        def logged(*a, _fn=getattr(owner, attr), _name=attr, **kw):
            calls.append(_name)
            return _fn(*a, **kw)

        monkeypatch.setattr(owner, attr, logged)
    return calls


def test_run_job_call_contract(spark, sf_unit, tmp_path, monkeypatch):
    """One run_job with lineage calls each traced function once, through
    its module attribute, and reads the checkpoint before the plan."""
    from rotel_spark.plans.pipeline import run_job

    calls = _log_calls(monkeypatch)
    run_job(spark, {
        "source": {"kind": "pages_synthetic", "sf_dir": sf_unit, "reps": 1},
        "processors": [{"kind": "parse_auto"}],
        "sinks": [{"name": "all", "path": str(tmp_path / "all")}],
        "lineage_path": str(tmp_path / "_lineage"),
    }, run_id="r1")
    assert calls == ["committed_ranges", "run", "fan_out", "write_lineage"]


def test_stream_call_contract(spark, sf_unit, tmp_path, monkeypatch):
    """A stream plans and fans out once per micro-batch."""
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path, n_files=2)
    assert len(_text_files(src)) == 2
    calls = _log_calls(monkeypatch)
    source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=1)
    q = run_stream(spark, source, {
        "processors": [{"kind": "parse_auto"}],
        "sinks": [{"name": "all", "path": str(tmp_path / "all")}],
    }, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    assert calls == ["run", "fan_out"] * 2
