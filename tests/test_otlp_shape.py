"""rows ↔ ResourceLogs tree round-trip + proto-JSON export request."""

from __future__ import annotations

from pyspark.sql import functions as F

from rotel_spark.sinks.otlp_shape import (
    from_resource_logs_tree,
    to_resource_logs_tree,
)


def _flat(spark, n=100):
    df = spark.range(n)
    return df.select(
        (F.col("id") * 1000).alias("time_unix_nano"),
        F.when(F.col("id") % 3 == 0, 17).otherwise(9).alias("severity_number"),
        F.lit("INFO").alias("severity_text"),
        F.concat(F.lit("line"), F.col("id")).alias("body"),
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (F.col("id") % 4).cast("string")),
        ).alias("resource_attributes"),
    )


def test_tree_roundtrip_lossless(spark):
    flat = _flat(spark)
    tree = to_resource_logs_tree(flat)
    assert tree.count() == 4  # one row per resource identity
    back = from_resource_logs_tree(tree)
    assert back.count() == flat.count()
    # exact multiset equality of all fields
    cols = ["time_unix_nano", "severity_number", "severity_text", "body"]
    assert back.select(cols).exceptAll(flat.select(cols)).count() == 0
    assert flat.select(cols).exceptAll(back.select(cols)).count() == 0


def test_tree_split_oversized_resource(spark):
    """batch split analog (batch_resources.rs:137-177): a resource with
    more records than max splits into chunks, none exceeding max."""
    flat = _flat(spark, 100).withColumn(
        "resource_attributes",
        F.create_map(F.lit("service.name"), F.lit("one")),
    )
    tree = to_resource_logs_tree(flat, max_records_per_resource=30)
    sizes = [r.n for r in tree.select(F.size("log_records").alias("n")).collect()]
    assert sum(sizes) == 100
    assert max(sizes) <= 30
    assert len(sizes) == 4  # ceil(100/30)


def test_export_request_proto_json(spark):
    """ExportLogsServiceRequest proto-JSON shape (payload.rs:680-686;
    canonical proto3 JSON: uint64 nanos as strings, AnyValue as
    {"stringValue"}, attrs as KeyValue lists)."""
    import json

    from rotel_spark.sinks.otlp_shape import to_export_request_json

    tree = to_resource_logs_tree(_flat(spark))
    row = to_export_request_json(tree).collect()[0]
    req = json.loads(row.request_json)
    assert set(req) == {"resourceLogs"}
    assert len(req["resourceLogs"]) == 4
    total = 0
    for rl in req["resourceLogs"]:
        attrs = rl["resource"]["attributes"]
        assert attrs[0]["key"] == "service.name"
        assert "stringValue" in attrs[0]["value"]
        for sl in rl["scopeLogs"]:
            assert sl["scope"]["name"] == "rotel_spark"
            for rec in sl["logRecords"]:
                assert isinstance(rec["timeUnixNano"], str)
                assert rec["body"]["stringValue"].startswith("line")
                total += 1
    assert total == 100 and row.n_records == 100

    per_resource = to_export_request_json(tree, one_request=False)
    assert per_resource.count() == 4

