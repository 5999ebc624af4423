"""OTLP protobuf wire encoding of traces and metrics: known-bytes
vectors + lossless pure-python round-trips."""

from __future__ import annotations


def test_negative_int_encodes_twos_complement():
    """ADVICE r2: negative varints must not hang; proto3 int64
    negatives encode as two's-complement (10 bytes)."""
    from rotel_spark.sinks.otlp_proto import _varint, _fixed64_field
    import pytest

    b = _varint(-1)
    assert len(b) == 10 and b[-1] == 0x01  # canonical -1 encoding
    with pytest.raises(ValueError):
        _fixed64_field(1, -5)  # negative uint64 timestamp fails loud


def test_span_known_wire_bytes():
    """Hand-computed vector (trace.proto field numbers: trace_id=1,
    span_id=2, name=5, kind=6, start=7, end=8, status{code=3}=15)."""
    from rotel_spark.sinks.otlp_proto import encode_span

    b = encode_span(
        "00112233445566778899aabbccddeeff", "0011223344556677", "",
        "op", 2, 1, 2, 2,
    )
    assert b.hex() == (
        "0a1000112233445566778899aabbccddeeff"
        "12080011223344556677"
        "2a026f70"
        "3002"
        "390100000000000000"
        "410200000000000000"
        "7a021802"
    )
    # proto3 omits zero and empty values, so an all-default span is
    # empty on the wire; varint 300 takes two bytes (0xac 0x02)
    assert encode_span("", "", "", "", 0, 0, 0, 0) == b""
    assert encode_span("", "", "", "", 300, 0, 0, 0) == b"\x30\xac\x02"


def test_metric_gauge_known_wire_bytes():
    """metrics.proto: Metric{name=1, gauge=5{data_points=1}};
    NumberDataPoint{time=3 fixed64, as_double=4}; 2.5 IEEE754-LE."""
    from rotel_spark.sinks.otlp_proto import (
        encode_metric,
        encode_number_datapoint,
    )

    b = encode_metric("m", "gauge", [encode_number_datapoint(1, 2.5)])
    assert b.hex() == (
        "0a016d" "2a14" "0a12" "19" "0100000000000000"
        "21" "0000000000000440"
    )


def test_trace_request_roundtrip_pure_python():
    from rotel_spark.sinks.otlp_proto import (
        decode_export_trace_request,
        encode_export_trace_request,
        encode_resource_spans,
        encode_span,
    )

    spans = [
        encode_span("ab" * 16, "cd" * 8, "", "root", 2, 100, 200, 1),
        encode_span("ab" * 16, "ef" * 8, "cd" * 8, "child", 3, 120, 180, 2),
    ]
    req = encode_export_trace_request(
        [encode_resource_spans({"service.name": "svc-1"}, spans)]
    )
    out = decode_export_trace_request(req)
    assert len(out) == 1
    entry = out[0]
    assert entry["resource_attributes"] == {"service.name": "svc-1"}
    assert entry["scope_name"] == "rotel_spark"
    s0, s1 = entry["spans"]
    assert s0["trace_id"] == "ab" * 16 and s0["parent_span_id"] == ""
    assert s1["parent_span_id"] == "cd" * 8 and s1["status_code"] == 2
    assert s1["start_time_unix_nano"] == 120
    assert s1["end_time_unix_nano"] == 180


def test_metrics_request_roundtrip_all_five_types():
    """All five Data oneof variants (fields 5/7/9/10/11 — the set
    batch_resources.rs:61-77 sizes) survive a wire round trip."""
    from rotel_spark.sinks.otlp_proto import (
        decode_export_metrics_request,
        encode_export_metrics_request,
        encode_histogram_datapoint,
        encode_metric,
        encode_number_datapoint,
        encode_resource_metrics,
        encode_summary_datapoint,
    )

    metrics = [
        encode_metric("g", "gauge", [encode_number_datapoint(5, 1.25),
                                     encode_number_datapoint(6, -2.0)]),
        encode_metric("s", "sum", [encode_number_datapoint(5, 7.5)]),
        encode_metric(
            "h", "histogram",
            [encode_histogram_datapoint(5, 3, 6.0, 1.0, 3.0)],
        ),
        encode_metric(
            "e", "exponential_histogram",
            [encode_histogram_datapoint(5, 2, 4.0, 1.5, 2.5)],
        ),
        encode_metric("q", "summary", [encode_summary_datapoint(5, 4, 10.0)]),
    ]
    req = encode_export_metrics_request(
        [encode_resource_metrics({"service.name": "x"}, metrics)]
    )
    out = decode_export_metrics_request(req)[0]
    by = {m["metric_type"]: m for m in out["metrics"]}
    assert set(by) == {
        "gauge", "sum", "histogram", "exponential_histogram", "summary"
    }
    assert [dp["value"] for dp in by["gauge"]["datapoints"]] == [1.25, -2.0]
    assert by["sum"]["datapoints"][0]["value"] == 7.5
    h = by["histogram"]["datapoints"][0]
    assert (h["count"], h["sum"], h["min"], h["max"]) == (3, 6.0, 1.0, 3.0)
    assert by["summary"]["datapoints"][0]["count"] == 4
    assert sum(len(m["datapoints"]) for m in out["metrics"]) == 6
