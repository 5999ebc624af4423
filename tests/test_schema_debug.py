"""LogRecordRow normalization, quarantine stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from rotel_spark.fixtures import extract_log_line, load_pages_full
from rotel_spark.parsers.auto import parse_auto
from rotel_spark.schema import (
    LOG_RECORD_COLUMNS,
    LOG_RECORD_SCHEMA,
    to_log_record_row,
)


def _parsed(spark, sf):
    pages = extract_log_line(load_pages_full(spark, sf, reps=2))
    return parse_auto(pages)


def test_log_record_row_shape(spark, sf_unit):
    df = _parsed(spark, sf_unit).withColumn(
        "resource_attributes",
        F.create_map(F.lit("service.name"), F.lit("web-crawl")),
    )
    row_df = to_log_record_row(df)
    # exact 15-column set and order (schema.rs:119-141); nullability
    # may be tighter than the declared schema (coalesce defaults)
    assert row_df.columns == LOG_RECORD_COLUMNS

    # opt-in 16th column (schema.rs with_event_name)
    from rotel_spark.schema import log_record_columns

    with_en = to_log_record_row(
        df.withColumn("event_name", F.lit("page.parsed")),
        with_event_name=True,
    )
    assert with_en.columns == log_record_columns(True)
    assert with_en.columns[-1] == "EventName"
    assert with_en.select("EventName").first()[0] == "page.parsed"
    # default '' when the source column is absent
    no_src = to_log_record_row(df, with_event_name=True)
    assert no_src.select("EventName").first()[0] == ""
    assert [(f.name, f.dataType) for f in row_df.schema.fields] == [
        (f.name, f.dataType) for f in LOG_RECORD_SCHEMA.fields
    ]
    sample = row_df.filter(F.col("SeverityNumber") > 0).take(1)[0]
    assert sample.ServiceName == "web-crawl"
    assert sample.Timestamp > 0
    assert sample.Body != ""


def test_log_record_row_defaults(spark):
    """Missing optional fields default to ''/0/empty map."""
    df = spark.createDataFrame([("hello", 9)], "body string, severity_number int")
    row = to_log_record_row(df).collect()[0]
    assert row.TraceId == "" and row.SpanId == ""
    assert row.ServiceName == ""
    assert row.ScopeAttributes == {}
    assert row.SeverityNumber == 9


def test_quarantine_stage(spark, sf_unit, tmp_path):
    """Dead-letter rows are tagged in-flight and land in their own sink
    during the same fan-out pass (no second source scan)."""
    from rotel_spark.plans.pipeline import run_job

    qpath = str(tmp_path / "dead_letter")
    cfg = {
        "source": {"kind": "pages_synthetic", "sf_dir": sf_unit, "reps": 2},
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "quarantine", "expr": "parse_ok", "path": qpath},
        ],
        "sinks": [{"name": "good", "path": str(tmp_path / "good")}],
    }
    counts = run_job(spark, cfg)
    dead = spark.read.parquet(qpath)
    good = spark.read.parquet(str(tmp_path / "good"))
    total = extract_log_line(load_pages_full(spark, sf_unit, reps=2)).count()
    assert counts["_quarantine"] == dead.count()
    assert dead.count() + good.count() == total
    assert dead.filter("parse_ok").count() == 0
    assert good.filter("NOT parse_ok").count() == 0
    assert dead.count() > 0  # garbage rows exist by construction
