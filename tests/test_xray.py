"""X-Ray segment transform vectors (transformer.rs semantics)."""

import json

import pytest

from rotel_spark.sinks.xray import (
    XRayTransformError,
    format_xray_trace_id,
    segment_json,
    span_to_segment,
    spans_to_segments,
)

TRACE = "0af7651916cd43dd8448eb211c80319c"


def base_span(**kw):
    s = {
        "trace_id": TRACE,
        "span_id": "b7ad6b7169203331",
        "parent_span_id": "",
        "name": "GET /api",
        "start_time_unix_nano": 1_700_000_000_000_000_000,
        "end_time_unix_nano": 1_700_000_001_500_000_000,
        "attributes": {},
    }
    s.update(kw)
    return s


class TestSegment:
    def test_trace_id_format(self):
        # transformer.rs:186-189
        assert (
            format_xray_trace_id(TRACE)
            == "1-0af76519-16cd43dd8448eb211c80319c"
        )

    def test_root_is_segment_no_parent_key(self):
        seg = span_to_segment(base_span(), "prod")
        assert seg["type"] == "segment"
        assert "parent_id" not in seg
        assert seg["start_time"] == 1_700_000_000.0
        assert seg["end_time"] == 1_700_000_001.5

    def test_child_is_subsegment(self):
        seg = span_to_segment(
            base_span(parent_span_id="00f067aa0ba902b7"), "prod"
        )
        assert seg["type"] == "subsegment"
        assert seg["parent_id"] == "00f067aa0ba902b7"

    def test_start_after_end_raises(self):
        # transformer.rs:177-183
        with pytest.raises(XRayTransformError):
            span_to_segment(
                base_span(start_time_unix_nano=2, end_time_unix_nano=1),
                "prod",
            )

    def test_attribute_routing(self):
        # transformer.rs:371-428: prefix strip + block grouping
        seg = span_to_segment(
            base_span(attributes={
                "http.request.method": "GET",
                "http.response.status": "200",
                "annotation.user": "u1",
                "metadata.retries": "3",
                "aws.region": "eu-west-1",
                "exception.type": "ValueError",
                "unrelated.key": "dropped",
            }),
            "prod",
        )
        assert seg["http"] == {
            "request": {"method": "GET"}, "response": {"status": "200"}
        }
        assert seg["annotations"] == {"user": "u1"}
        # metadata numeric-parses and keeps the environment seed
        assert seg["metadata"] == {"environment": "prod", "retries": 3}
        assert seg["aws"] == {"region": "eu-west-1"}
        assert seg["exception"] == {"type": "ValueError"}
        assert not any("unrelated" in k for k in seg)

    def test_metadata_numeric_parse(self):
        # transformer.rs:454-462: i64, then f64, else string
        seg = span_to_segment(
            base_span(attributes={
                "metadata.i": "42", "metadata.f": "2.5",
                "metadata.s": "plain",
            }),
            "prod",
        )
        m = seg["metadata"]
        assert m["i"] == 42 and isinstance(m["i"], int)
        assert m["f"] == 2.5 and isinstance(m["f"], float)
        assert m["s"] == "plain"

    def test_status_flags(self):
        # transformer.rs:498-508
        for status, key in [("500", "fault"), ("503", "fault"),
                            ("429", "throttle"), ("404", "error"),
                            ("418", "error")]:
            seg = span_to_segment(
                base_span(
                    attributes={"http.response.status": status}
                ),
                "prod",
            )
            assert seg.get(key) is True, status
            others = {"fault", "throttle", "error"} - {key}
            assert not any(seg.get(o) for o in others)
        seg = span_to_segment(
            base_span(attributes={"http.response.status": "200"}), "prod"
        )
        assert not any(k in seg for k in ("fault", "throttle", "error"))

    def test_region_account_fallback(self):
        # transformer.rs:431-441: config wins only when span didn't set
        seg = span_to_segment(
            base_span(), "prod", region="us-east-1", account_id="123"
        )
        assert seg["aws"] == {"region": "us-east-1", "account_id": "123"}
        seg = span_to_segment(
            base_span(attributes={"aws.region": "eu-central-1"}),
            "prod", region="us-east-1",
        )
        assert seg["aws"]["region"] == "eu-central-1"

    def test_http_validation(self):
        # transformer.rs:223-247
        for bad in ["line\nbreak", "cr\rhere", "nul\0char", "x" * 8193]:
            with pytest.raises(XRayTransformError):
                span_to_segment(
                    base_span(
                        attributes={"http.request.header": bad}
                    ),
                    "prod",
                )

    def test_annotation_validation(self):
        for bad in ["", "x" * 2049, "ctrl\x07"]:
            with pytest.raises(XRayTransformError):
                span_to_segment(
                    base_span(attributes={"annotation.a": bad}), "prod"
                )
        # newline IS allowed in annotations (transformer.rs:328)
        seg = span_to_segment(
            base_span(attributes={"annotation.a": "ok\nnext"}), "prod"
        )
        assert seg["annotations"]["a"] == "ok\nnext"

    def test_metadata_validation(self):
        for bad in ["ctrl\x01", "x" * 4097, "{not json", '{"a": }',
                    "{}" + "x"]:
            with pytest.raises(XRayTransformError):
                span_to_segment(
                    base_span(attributes={"metadata.m": bad}), "prod"
                )
        # a valid JSON object string passes and stays a string value
        seg = span_to_segment(
            base_span(attributes={"metadata.m": '{"a":1}'}), "prod"
        )
        assert seg["metadata"]["m"] == '{"a":1}'

    def test_json_sorted_compact(self):
        # serde_json BTreeMap ordering: keys sorted, no spaces
        seg = span_to_segment(
            base_span(attributes={"aws.region": "r"}), "prod"
        )
        text = segment_json(seg)
        keys = list(json.loads(text))
        assert keys == sorted(keys)
        assert ": " not in text


class TestSpark:
    def test_spans_to_segments_and_chunking(self, spark):
        rows = [
            (
                f"{i:032x}",
                f"{i:016x}",
                "" if i % 4 == 0 else f"{i - i % 4:016x}",
                "op",
                1_700_000_000_000_000_000,
                1_700_000_000_000_000_000 + i,
                {"http.response.status": "500" if i % 7 == 0 else "200"},
            )
            for i in range(120)
        ]
        df = spark.createDataFrame(
            rows,
            "trace_id string, span_id string, parent_span_id string,"
            " name string, start_time_unix_nano long,"
            " end_time_unix_nano long,"
            " attributes map<string,string>",
        )
        out = spans_to_segments(df, "test-env").collect()
        assert len(out) == 120
        seg0 = json.loads(
            [r for r in out if r["segment_id"] == f"{0:016x}"][0][
                "segment_json"
            ]
        )
        assert seg0["type"] == "segment"
        assert seg0["fault"] is True  # 0 % 7 == 0 → status 500
        assert seg0["metadata"] == {"environment": "test-env"}

