"""OTLP protobuf wire encoding — ExportTraceServiceRequest and
ExportMetricsServiceRequest bytes.

The engine depends on no protobuf library, so this is a minimal
hand-rolled proto3 encoder (varint + length-delimited primitives) for
the traces and metrics subsets, following the PUBLIC
opentelemetry-proto schema (trace/v1/trace.proto,
metrics/v1/metrics.proto and the collector service protos; the field
numbers are listed beside each message builder below). Messages both
share:

  Resource:      attributes = 1
  InstrumentationScope: name = 1
  KeyValue:      key = 1, value = 2
  AnyValue:      string_value = 1 (oneof member used here)

Logs export as OTLP proto-JSON instead
(otlp_shape.to_export_request_json).

This is the byte payload the reference's exporter puts on the wire
(src/topology/payload.rs:680-686 builds the same request messages).
Encode runs at the exporter boundary over Arrow batches
(mapInPandas) — the same place the reference spends encoder CPU
(20 concurrent encoders, src/exporters/otlp/exporter.rs:62-63).
A decoder for the same subsets enables lossless round-trip tests.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- proto3 primitives -----------------------------------------------------


def _varint(n: int) -> bytes:
    if n < 0:
        # two's-complement mask: proto int64 negatives encode as ten
        # 0xFF-ish bytes; without this Python's arithmetic >> loops
        # forever (and a bad row would hang the executor task).
        n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _str_field(field: int, s: str) -> bytes:
    if not s:
        return b""  # proto3 default values are omitted
    return _len_field(field, s.encode("utf-8"))


def _varint_field(field: int, n: int) -> bytes:
    if not n:
        return b""
    return _tag(field, 0) + _varint(n)


def _fixed64_field(field: int, n: int) -> bytes:
    if not n:
        return b""
    if n < 0:
        # OTLP time fields are uint64 nanoseconds; a negative value is
        # corrupt input — fail the row loudly instead of OverflowError
        # deep in to_bytes (or a hung varint loop).
        raise ValueError(f"fixed64 field {field} negative: {n}")
    return _tag(field, 1) + int(n).to_bytes(8, "little", signed=False)


# --- message builders --------------------------------------------------------


def _any_string(s: str) -> bytes:
    # AnyValue{string_value=1} — empty string still encodes (it's
    # inside a oneof, presence matters)
    return _len_field(1, (s or "").encode("utf-8"))


def _key_value(k: str, v: str) -> bytes:
    return _str_field(1, k) + _len_field(2, _any_string(v))


# --- traces: Span / ResourceSpans / ExportTraceServiceRequest ---------------
# Field numbers from the public opentelemetry-proto trace.proto
# (trace/v1/trace.proto); the reference encodes the same three request
# types in src/topology/payload.rs:680-686 via prost.


_PACK_D = struct.Struct("<d").pack
_UNPACK_D = struct.Struct("<d").unpack


def _double_field(field: int, x: float) -> bytes:
    if x == 0.0:
        return b""
    return _tag(field, 1) + _PACK_D(x)


def _bytes_field(field: int, b: bytes) -> bytes:
    if not b:
        return b""
    return _len_field(field, b)


def encode_span(
    trace_id_hex: str,
    span_id_hex: str,
    parent_span_id_hex: str,
    name: str,
    kind: int,
    start_time_unix_nano: int,
    end_time_unix_nano: int,
    status_code: int,
) -> bytes:
    """Span{trace_id=1,span_id=2,parent_span_id=4,name=5,kind=6,
    start=7,end=8,status=15{code=3}} — IDs are bytes on the wire
    (16/8), hex at the row boundary (the OTLP JSON convention)."""
    out = _bytes_field(1, bytes.fromhex(trace_id_hex or ""))
    out += _bytes_field(2, bytes.fromhex(span_id_hex or ""))
    out += _bytes_field(4, bytes.fromhex(parent_span_id_hex or ""))
    out += _str_field(5, name or "")
    out += _varint_field(6, kind or 0)
    out += _fixed64_field(7, start_time_unix_nano or 0)
    out += _fixed64_field(8, end_time_unix_nano or 0)
    if status_code:
        out += _len_field(15, _varint_field(3, status_code))
    return out


def encode_resource_spans(
    resource_attrs: dict[str, str],
    spans: list[bytes],
    scope_name: str = "rotel_spark",
) -> bytes:
    """ResourceSpans{resource=1, scope_spans=2{scope=1, spans=2}}."""
    resource = b"".join(
        _len_field(1, _key_value(k, v))
        for k, v in (resource_attrs or {}).items()
    )
    scope_spans = _len_field(1, _str_field(1, scope_name)) + b"".join(
        _len_field(2, s) for s in spans
    )
    return _len_field(1, resource) + _len_field(2, scope_spans)


def encode_export_trace_request(resource_spans: list[bytes]) -> bytes:
    """ExportTraceServiceRequest{resource_spans=1}."""
    return b"".join(_len_field(1, rs) for rs in resource_spans)


def decode_span(buf: bytes) -> dict:
    s = {
        "trace_id": "",
        "span_id": "",
        "parent_span_id": "",
        "name": "",
        "kind": 0,
        "start_time_unix_nano": 0,
        "end_time_unix_nano": 0,
        "status_code": 0,
    }
    for f, _, v in _fields(buf):
        if f == 1:
            s["trace_id"] = v.hex()
        elif f == 2:
            s["span_id"] = v.hex()
        elif f == 4:
            s["parent_span_id"] = v.hex()
        elif f == 5:
            s["name"] = v.decode("utf-8")
        elif f == 6:
            s["kind"] = v
        elif f == 7:
            s["start_time_unix_nano"] = v
        elif f == 8:
            s["end_time_unix_nano"] = v
        elif f == 15:
            for f2, _, v2 in _fields(v):
                if f2 == 3:
                    s["status_code"] = v2
    return s


def decode_export_trace_request(buf: bytes) -> list[dict]:
    """→ [{resource_attributes, scope_name, spans: [span, ...]}]"""
    out = []
    for f, _, rs in _fields(buf):
        if f != 1:
            continue
        entry = {"resource_attributes": {}, "scope_name": "", "spans": []}
        for f2, _, v2 in _fields(rs):
            if f2 == 1:
                for f3, _, v3 in _fields(v2):
                    if f3 == 1:
                        k, val = _decode_kv(v3)
                        entry["resource_attributes"][k] = val
            elif f2 == 2:  # ScopeSpans
                for f3, _, v3 in _fields(v2):
                    if f3 == 1:
                        for f4, _, v4 in _fields(v3):
                            if f4 == 1:
                                entry["scope_name"] = v4.decode("utf-8")
                    elif f3 == 2:
                        entry["spans"].append(decode_span(v3))
        out.append(entry)
    return out


# --- metrics: Metric / ResourceMetrics / ExportMetricsServiceRequest --------
# metrics/v1/metrics.proto: Metric{name=1,unit=3, oneof data: gauge=5,
# sum=7, histogram=9, exponential_histogram=10, summary=11};
# NumberDataPoint{start=2,time=3,as_double=4}; HistogramDataPoint
# {start=2,time=3,count=4,sum=5,min=11,max=12}; SummaryDataPoint
# {start=2,time=3,count=4,sum=5}. The five variants are exactly the
# set the reference sizes in batch_resources.rs:61-77.

METRIC_DATA_FIELDS = {
    "gauge": 5,
    "sum": 7,
    "histogram": 9,
    "exponential_histogram": 10,
    "summary": 11,
}
_FIELD_TO_TYPE = {v: k for k, v in METRIC_DATA_FIELDS.items()}


def encode_number_datapoint(
    time_unix_nano: int, value: float, start_time_unix_nano: int = 0
) -> bytes:
    out = _fixed64_field(2, start_time_unix_nano or 0)
    out += _fixed64_field(3, time_unix_nano or 0)
    out += _double_field(4, value or 0.0)
    return out


def encode_histogram_datapoint(
    time_unix_nano: int,
    count: int,
    total: float,
    vmin: float = 0.0,
    vmax: float = 0.0,
) -> bytes:
    out = _fixed64_field(3, time_unix_nano or 0)
    out += _fixed64_field(4, count or 0)
    out += _double_field(5, total or 0.0)
    out += _double_field(11, vmin or 0.0)
    out += _double_field(12, vmax or 0.0)
    return out


def encode_summary_datapoint(
    time_unix_nano: int, count: int, total: float
) -> bytes:
    out = _fixed64_field(3, time_unix_nano or 0)
    out += _fixed64_field(4, count or 0)
    out += _double_field(5, total or 0.0)
    return out


def encode_metric(
    name: str, metric_type: str, datapoints: list[bytes], unit: str = ""
) -> bytes:
    """One Metric with its data oneof. gauge/sum wrap NumberDataPoints;
    histogram/exponential_histogram/summary wrap their typed points
    (exponential_histogram reuses the histogram statistical subset —
    count/sum/min/max — the fields shared by both datapoint types).
    Sum carries aggregation_temporality=CUMULATIVE(2), monotonic."""
    body = b"".join(_len_field(1, dp) for dp in datapoints)
    if metric_type == "sum":
        body += _varint_field(2, 2) + _tag(3, 0) + _varint(1)
    out = _str_field(1, name or "")
    out += _str_field(3, unit or "")
    out += _len_field(METRIC_DATA_FIELDS[metric_type], body)
    return out


def encode_resource_metrics(
    resource_attrs: dict[str, str],
    metrics: list[bytes],
    scope_name: str = "rotel_spark",
) -> bytes:
    """ResourceMetrics{resource=1, scope_metrics=2{scope=1, metrics=2}}."""
    resource = b"".join(
        _len_field(1, _key_value(k, v))
        for k, v in (resource_attrs or {}).items()
    )
    scope_metrics = _len_field(1, _str_field(1, scope_name)) + b"".join(
        _len_field(2, m) for m in metrics
    )
    return _len_field(1, resource) + _len_field(2, scope_metrics)


def encode_export_metrics_request(resource_metrics: list[bytes]) -> bytes:
    """ExportMetricsServiceRequest{resource_metrics=1}."""
    return b"".join(_len_field(1, rm) for rm in resource_metrics)


def _decode_double(v: int) -> float:
    return _UNPACK_D(int(v).to_bytes(8, "little"))[0]


def _decode_datapoint(buf: bytes, metric_type: str) -> dict:
    dp = {"time_unix_nano": 0, "value": 0.0, "count": 0, "sum": 0.0,
          "min": 0.0, "max": 0.0}
    for f, w, v in _fields(buf):
        if f == 3 and w == 1:
            dp["time_unix_nano"] = v
        elif f == 4 and metric_type in ("gauge", "sum"):
            dp["value"] = _decode_double(v)
        elif f == 4:
            dp["count"] = v
        elif f == 5 and w == 1:
            dp["sum"] = _decode_double(v)
        elif f == 11 and w == 1:
            dp["min"] = _decode_double(v)
        elif f == 12 and w == 1:
            dp["max"] = _decode_double(v)
    return dp


def decode_metric(buf: bytes) -> dict:
    m = {"name": "", "unit": "", "metric_type": "", "datapoints": []}
    for f, _, v in _fields(buf):
        if f == 1:
            m["name"] = v.decode("utf-8")
        elif f == 3:
            m["unit"] = v.decode("utf-8")
        elif f in _FIELD_TO_TYPE:
            m["metric_type"] = _FIELD_TO_TYPE[f]
            for f2, _, v2 in _fields(v):
                if f2 == 1:
                    m["datapoints"].append(
                        _decode_datapoint(v2, m["metric_type"])
                    )
    return m


def decode_export_metrics_request(buf: bytes) -> list[dict]:
    """→ [{resource_attributes, scope_name, metrics: [metric, ...]}]"""
    out = []
    for f, _, rm in _fields(buf):
        if f != 1:
            continue
        entry = {"resource_attributes": {}, "scope_name": "", "metrics": []}
        for f2, _, v2 in _fields(rm):
            if f2 == 1:
                for f3, _, v3 in _fields(v2):
                    if f3 == 1:
                        k, val = _decode_kv(v3)
                        entry["resource_attributes"][k] = val
            elif f2 == 2:  # ScopeMetrics
                for f3, _, v3 in _fields(v2):
                    if f3 == 1:
                        for f4, _, v4 in _fields(v3):
                            if f4 == 1:
                                entry["scope_name"] = v4.decode("utf-8")
                    elif f3 == 2:
                        entry["metrics"].append(decode_metric(v3))
        out.append(entry)
    return out


# --- decoder (same subset, for round-trip verification) ---------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 1:
            val = int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        else:  # pragma: no cover — subset never emits groups/fixed32
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _decode_any_string(buf: bytes) -> str:
    for f, _, v in _fields(buf):
        if f == 1:
            return v.decode("utf-8")
    return ""


def _decode_kv(buf: bytes) -> tuple[str, str]:
    k = val = ""
    for f, _, v in _fields(buf):
        if f == 1:
            k = v.decode("utf-8")
        elif f == 2:
            val = _decode_any_string(v)
    return k, val


# --- DataFrame boundary ------------------------------------------------------

TRACE_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("service_name", T.StringType()),
        T.StructField("request_proto", T.BinaryType()),
        T.StructField("n_spans", T.LongType()),
    ]
)


def to_export_trace_request_proto(tree: DataFrame) -> DataFrame:
    """ResourceSpans tree rows (spans_to_resource_tree output) → one
    ExportTraceServiceRequest per tree chunk. Stays distributed —
    chunks are ≤max_spans_per_resource by construction."""
    import pandas as pd

    def _encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            svcs, protos, counts = [], [], []
            for svc, spans in zip(pdf["service_name"], pdf["spans"]):
                encoded = [
                    encode_span(
                        s["trace_id"], s["span_id"], s["parent_span_id"],
                        s["name"], s["kind"], s["start_time_unix_nano"],
                        s["end_time_unix_nano"], s["status_code"],
                    )
                    for s in spans
                ]
                rs = encode_resource_spans({"service.name": svc}, encoded)
                svcs.append(svc)
                protos.append(encode_export_trace_request([rs]))
                counts.append(len(spans))
            yield pd.DataFrame(
                {
                    "service_name": svcs,
                    "request_proto": protos,
                    "n_spans": counts,
                }
            )

    return tree.mapInPandas(_encode, TRACE_REQUEST_SCHEMA)


METRICS_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("service", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_minute_nano", T.LongType()),
        T.StructField("request_proto", T.BinaryType()),
        T.StructField("n_datapoints", T.LongType()),
    ]
)


def to_export_metrics_request_proto(datapoints: DataFrame) -> DataFrame:
    """Gauge-shaped datapoint rows (events_to_datapoints output) → one
    ExportMetricsServiceRequest per (service, event_type, minute)
    group carrying all five metric Data variants: a gauge with one
    NumberDataPoint per event plus sum/histogram/exp-histogram/summary
    points derived from the group (the typed derivation in
    telemetry.events_to_typed_datapoints).

    Shape note (guide §2.3/§4): minute-keyed groups are ~unique per
    event, so ``groupBy().applyInPandas`` paid one Python call + one
    pandas DataFrame construction + one Arrow round-trip PER GROUP
    (~80k groups at 1M events — measured 94 s at sf0.1). The values
    are instead collected per group by a JVM hash aggregate
    (collect_list — partial map-side combine, one shuffle of (keys,
    value)) and ONE mapInPandas pass encodes whole Arrow batches of
    groups (measured ~3 s; identical request bytes)."""
    import pandas as pd

    from pyspark.sql import functions as F

    g = datapoints.groupBy(
        "service", "event_type", "ts_minute_nano"
    ).agg(F.collect_list("value").alias("_vals"))
    # AQE coalesces the small post-agg shuffle (~MBs) to ONE partition,
    # which would serialize the Python encode below; an explicit
    # repartition is honored by AQE and keeps the encode on every core
    g = g.repartition(
        datapoints.sparkSession.sparkContext.defaultParallelism
    )

    def _encode(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            svc_o, et_o, tsm_o, proto_o, ndp_o = [], [], [], [], []
            for svc, et, tsm, raw in zip(
                pdf["service"], pdf["event_type"],
                pdf["ts_minute_nano"], pdf["_vals"],
            ):
                tsm = int(tsm)
                vals = [float(v) for v in raw]
                n = len(vals)
                total = round(sum(vals), 6)
                vmin, vmax = round(min(vals), 6), round(max(vals), 6)
                gauge_dps = [
                    encode_number_datapoint(tsm, v) for v in vals
                ]
                metrics = [
                    encode_metric(f"events.{et}.value", "gauge", gauge_dps),
                    encode_metric(
                        f"events.{et}.total", "sum",
                        [encode_number_datapoint(tsm, total)],
                    ),
                    encode_metric(
                        f"events.{et}.hist", "histogram",
                        [
                            encode_histogram_datapoint(
                                tsm, n, total, vmin, vmax
                            )
                        ],
                    ),
                    encode_metric(
                        f"events.{et}.exphist", "exponential_histogram",
                        [
                            encode_histogram_datapoint(
                                tsm, n, total, vmin, vmax
                            )
                        ],
                    ),
                    encode_metric(
                        f"events.{et}.summary", "summary",
                        [encode_summary_datapoint(tsm, n, total)],
                    ),
                ]
                rm = encode_resource_metrics({"service.name": svc}, metrics)
                svc_o.append(svc)
                et_o.append(et)
                tsm_o.append(tsm)
                proto_o.append(encode_export_metrics_request([rm]))
                ndp_o.append(n + 4)
            yield pd.DataFrame(
                {
                    "service": svc_o,
                    "event_type": et_o,
                    "ts_minute_nano": tsm_o,
                    "request_proto": proto_o,
                    "n_datapoints": ndp_o,
                }
            )

    return g.mapInPandas(_encode, METRICS_REQUEST_SCHEMA)
