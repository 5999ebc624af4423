"""RowBinary codec vectors (rowbinary/ser.rs semantics + the public
format doc). Known-byte vectors are hand-assembled."""

import struct

import pytest

from rotel_spark.sinks.rowbinary import (
    LOG_ROW_CH_TYPES,
    compile_decoder,
    compile_encoder,
    decode_rows,
    encode_rows,
    put_leb128,
    read_leb128,
)

# SpanRow field types (schema.rs:22-54): nested Array(Map) columns the
# log row does not have
SPAN_ROW_CH_TYPES = [
    ("Timestamp", "UInt64"),
    ("TraceId", "String"),
    ("SpanId", "String"),
    ("ParentSpanId", "String"),
    ("TraceState", "String"),
    ("SpanName", "LowCardinality(String)"),
    ("SpanKind", "LowCardinality(String)"),
    ("ServiceName", "LowCardinality(String)"),
    ("ResourceAttributes", "Map(String,String)"),
    ("ScopeName", "String"),
    ("ScopeVersion", "String"),
    ("SpanAttributes", "Map(String,String)"),
    ("Duration", "Int64"),
    ("StatusCode", "LowCardinality(String)"),
    ("StatusMessage", "String"),
    ("Events.Timestamp", "Array(UInt64)"),
    ("Events.Name", "Array(String)"),
    ("Events.Attributes", "Array(Map(String,String))"),
    ("Links.TraceId", "Array(String)"),
    ("Links.SpanId", "Array(String)"),
    ("Links.TraceState", "Array(String)"),
    ("Links.Attributes", "Array(Map(String,String))"),
]


def enc(chtype, v) -> bytes:
    out = bytearray()
    compile_encoder(chtype)(out, v)
    return bytes(out)


def rt(chtype, v):
    raw = enc(chtype, v)
    back, off = compile_decoder(chtype)(raw, 0)
    assert off == len(raw)
    return back


class TestLeb128:
    def test_vectors(self):
        # ser.rs:314-327
        for value, raw in [(0, b"\x00"), (127, b"\x7f"),
                           (128, b"\x80\x01"), (300, b"\xac\x02"),
                           (624485, b"\xe5\x8e\x26")]:
            out = bytearray()
            put_leb128(out, value)
            assert bytes(out) == raw
            assert read_leb128(raw, 0) == (value, len(raw))


class TestScalars:
    def test_known_bytes(self):
        # little-endian fixed widths (ser.rs:49-72)
        assert enc("UInt8", 7) == b"\x07"
        assert enc("UInt16", 0x0102) == b"\x02\x01"
        assert enc("UInt32", 1) == b"\x01\x00\x00\x00"
        assert enc("UInt64", 2**40) == struct.pack("<Q", 2**40)
        assert enc("Int64", -1) == b"\xff" * 8
        assert enc("Int32", -2) == struct.pack("<i", -2)
        assert enc("Float64", 1.5) == struct.pack("<d", 1.5)
        assert enc("Bool", True) == b"\x01"
        assert enc("Bool", False) == b"\x00"

    def test_string(self):
        # LEB128 length ++ utf8 (ser.rs:85-89)
        assert enc("String", "abc") == b"\x03abc"
        assert enc("String", "") == b"\x00"
        raw = enc("String", "é")
        assert raw == b"\x02\xc3\xa9"
        assert enc("String", "x" * 200)[0:2] == b"\xc8\x01"

    def test_lowcardinality_same_wire(self):
        assert enc("LowCardinality(String)", "abc") == enc("String", "abc")

    def test_nullable(self):
        # flag byte: 1 = NULL, 0 ++ value (ser.rs:99-109)
        assert enc("Nullable(String)", None) == b"\x01"
        assert enc("Nullable(String)", "hi") == b"\x00\x02hi"
        assert rt("Nullable(UInt32)", None) is None
        assert rt("Nullable(UInt32)", 9) == 9

    def test_roundtrip_scalars(self):
        for t, v in [("UInt64", 2**63), ("Int64", -(2**62)),
                     ("UInt8", 255), ("Int8", -128),
                     ("Float32", 2.5), ("Float64", -0.125),
                     ("String", "héllo wörld")]:
            assert rt(t, v) == v


class TestNested:
    def test_array(self):
        # LEB128 count ++ elements (ser.rs:165-170)
        assert enc("Array(UInt8)", [1, 2, 3]) == b"\x03\x01\x02\x03"
        assert enc("Array(String)", []) == b"\x00"
        assert rt("Array(String)", ["a", "", "ccc"]) == ["a", "", "ccc"]
        assert rt("Array(Array(UInt64))", [[1], [], [2, 3]]) == [
            [1], [], [2, 3]
        ]

    def test_map(self):
        # pair count ++ alternating k/v (MapOrJson::Map as seq of
        # tuples, schema.rs:400-415)
        assert (
            enc("Map(String,String)", {"k": "v"}) == b"\x01\x01k\x01v"
        )
        assert rt("Map(String,String)", {"a": "1", "b": ""}) == {
            "a": "1", "b": "",
        }
        # tuple-sequence input (Arrow map representation)
        assert enc("Map(String,String)", [("k", "v")]) == b"\x01\x01k\x01v"

    def test_array_of_maps(self):
        v = [{"a": "1"}, {}, {"b": "2", "c": "3"}]
        assert rt("Array(Map(String,String))", v) == v

    def test_unsupported_type_raises(self):
        with pytest.raises(ValueError):
            enc("DateTime64(9)", 5)


class TestRows:
    def test_log_row_roundtrip(self):
        row = {
            "Timestamp": 1_700_000_000_000_000_000,
            "TraceId": "0af7651916cd43dd8448eb211c80319c",
            "SpanId": "b7ad6b7169203331",
            "TraceFlags": 1,
            "SeverityText": "ERROR",
            "SeverityNumber": 17,
            "ServiceName": "web-crawl",
            "Body": "GET /x 500\n",
            "ResourceSchemaUrl": "",
            "ResourceAttributes": {"service.name": "web-crawl"},
            "ScopeSchemaUrl": "",
            "ScopeName": "",
            "ScopeVersion": "",
            "ScopeAttributes": {},
            "LogAttributes": {"path": "/x", "status": "500"},
        }
        raw = encode_rows(iter([row, row]), LOG_ROW_CH_TYPES)
        back = decode_rows(raw, LOG_ROW_CH_TYPES)
        assert back == [row, row]

    def test_span_row_roundtrip(self):
        row = {
            "Timestamp": 1_700_000_000_000_000_000,
            "TraceId": "ab" * 16,
            "SpanId": "cd" * 8,
            "ParentSpanId": "",
            "TraceState": "",
            "SpanName": "GET /api",
            "SpanKind": "Server",
            "ServiceName": "svc-1",
            "ResourceAttributes": {"service.name": "svc-1"},
            "ScopeName": "",
            "ScopeVersion": "",
            "SpanAttributes": {"peer": "svc-2"},
            "Duration": 1_500_000,
            "StatusCode": "Ok",
            "StatusMessage": "",
            "Events.Timestamp": [1_700_000_000_000_000_000],
            "Events.Name": ["start"],
            "Events.Attributes": [{}],
            "Links.TraceId": [],
            "Links.SpanId": [],
            "Links.TraceState": [],
            "Links.Attributes": [],
        }
        raw = encode_rows(iter([row]), SPAN_ROW_CH_TYPES)
        assert decode_rows(raw, SPAN_ROW_CH_TYPES) == [row]

    def test_known_bytes_two_columns(self):
        schema = [("A", "UInt16"), ("B", "String")]
        raw = encode_rows(
            iter([{"A": 1, "B": "x"}, {"A": 258, "B": ""}]), schema
        )
        assert raw == b"\x01\x00\x01x" + b"\x02\x01\x00"


class TestJsonColumn:
    """ClickHouse JSON type wire vectors (rowbinary/json.rs:223-280)."""

    def test_scalar_discriminators(self):
        from rotel_spark.sinks.rowbinary import encode_json_dynamic

        def e(v):
            out = bytearray()
            encode_json_dynamic(out, v)
            return bytes(out)

        assert e(5) == b"\x0a" + (5).to_bytes(8, "little", signed=True)
        assert e(-1) == b"\x0a" + b"\xff" * 8
        assert e(2.5) == b"\x0e" + struct.pack("<d", 2.5)
        assert e("ab") == b"\x15\x02ab"
        assert e(True) == b"\x2d\x01"
        assert e(False) == b"\x2d\x00"

    def test_array_dynamic_header(self):
        from rotel_spark.sinks.rowbinary import encode_json_dynamic

        out = bytearray()
        encode_json_dynamic(out, [1, "x"])
        # 0x1E Array | 0x2B Dynamic | 0x20 max_types | count | elements
        assert bytes(out[:4]) == b"\x1e\x2b\x20\x02"

    def test_object_map_header(self):
        from rotel_spark.sinks.rowbinary import encode_json_dynamic

        out = bytearray()
        encode_json_dynamic(out, {"k": 1})
        # 0x27 Map | 0x15 String key | 0x2B 0x20 Dynamic value | count
        assert bytes(out[:5]) == b"\x27\x15\x2b\x20\x01"

    def test_column_roundtrip(self):
        from rotel_spark.sinks.rowbinary import (
            decode_json_column,
            encode_json_column,
        )

        paths = {
            "http.status": 500,
            "http.ratio": 0.25,
            "svc": "web",
            "ok": True,
            "tags": ["a", 1, 2.0, False],
            "deep": {"l2": {"l3": 7}},
        }
        out = bytearray()
        encode_json_column(out, paths)
        back, off = decode_json_column(bytes(out), 0)
        assert off == len(out)
        assert back == paths

    def test_json_typed_row_schema(self):
        from rotel_spark.sinks.rowbinary import decode_rows, encode_rows

        schema = [("Body", "String"), ("LogAttributes", "JSON")]
        rows = [
            {"Body": "x", "LogAttributes": {"a": 1, "b": "two"}},
            {"Body": "y", "LogAttributes": {}},
        ]
        raw = encode_rows(iter(rows), schema)
        assert decode_rows(raw, schema) == rows

    def test_json_paths_from_str_dotted_expansion(self):
        """transformer.rs:95-131 path expansion: top-level nested
        objects flatten to dotted paths; arrays preserved with
        in-place element conversion (a dict INSIDE an array stays a
        map); None-valued attrs skipped; leaf types stay native."""
        from rotel_spark.sinks.rowbinary import json_paths_from_str

        s = (
            '{"http":{"status":500,"meta":{"retry":true}},'
            '"svc":"web","ratio":0.5,"skip":null,'
            '"tags":[1,"a",{"k":2}]}'
        )
        assert json_paths_from_str(s) == {
            "http.status": 500,
            "http.meta.retry": True,
            "svc": "web",
            "ratio": 0.5,
            "tags": [1, "a", {"k": 2}],
        }
        assert json_paths_from_str("") == {}
        assert json_paths_from_str("not json") == {}
        assert json_paths_from_str("[1,2]") == {}

    def test_json_mode_row_from_json_strings(self):
        """LOG_ROW_CH_TYPES_JSON end-to-end: a row frame carrying
        typed JSON STRINGS in the attr columns encodes to JSON
        columns (paths typed + dotted) and decodes back typed."""
        from rotel_spark.sinks.rowbinary import (
            LOG_ROW_CH_TYPES_JSON,
            decode_rows,
            encode_rows,
        )

        assert [t for n, t in LOG_ROW_CH_TYPES_JSON if n.endswith("Attributes")] == [
            "JSON", "JSON", "JSON"
        ]
        row = {n: 0 if t.startswith(("UInt", "Int")) else "" for n, t in LOG_ROW_CH_TYPES_JSON}
        row.update(
            {
                "Body": "GET /x 200",
                "ResourceAttributes": '{"service.name":"web-crawl"}',
                "ScopeAttributes": "{}",
                "LogAttributes": '{"http":{"status":200},"ok":true,"r":0.25,"tags":["a","b"]}',
            }
        )
        raw = encode_rows(iter([row]), LOG_ROW_CH_TYPES_JSON)
        back = decode_rows(raw, LOG_ROW_CH_TYPES_JSON)
        assert len(back) == 1
        attrs = back[0]["LogAttributes"]
        assert attrs == {
            "http.status": 200,
            "ok": True,
            "r": 0.25,
            "tags": ["a", "b"],
        }
        assert isinstance(attrs["http.status"], int)
        assert isinstance(attrs["ok"], bool)
        assert back[0]["ResourceAttributes"] == {"service.name": "web-crawl"}
        assert back[0]["ScopeAttributes"] == {}
