"""AWS X-Ray exporter transform — span rows → segment JSON documents.

Mirrors the reference's TraceTransformer
(/root/reference/src/exporters/xray/transformer.rs):
  * trace id — transformer.rs:186-189: OTel 32-hex trace id becomes
    "1-{hex[0:8]}-{hex[8:32]}".
  * times — transformer.rs:191-193,443-445: nanos / 1e9 as f64;
    start > end is a hard error (transformer.rs:177-183).
  * type — transformer.rs:447-451: "subsegment" when parent_span_id
    is non-empty else "segment"; parent_id key only when present
    (transformer.rs:495-497).
  * attribute routing by key prefix — transformer.rs:371-428: string
    values only; http.request.* / http.response.* → the "http" block,
    annotation.* → "annotations", metadata.* → "metadata" (seeded
    with {"environment": <env>}, transformer.rs:366), aws.* → "aws",
    exception.* → "exception"; each prefix is stripped.
  * validation — transformer.rs:195-346: generic 256KB cap; HTTP
    values ≤8KB with no \\n \\r \\0; annotations non-empty, ≤2KB, no
    control chars except \\n; metadata ≤4KB, no control chars, and a
    value starting with '{' must parse as a JSON object.
  * metadata numeric parse — transformer.rs:453-462,488-494: every
    metadata value (environment included) re-parses as i64, then
    f64, else stays a string.
  * status flags — transformer.rs:498-508: response "status" string
    '5xx' → fault, '429' → throttle, other '4xx' → error.
  * region/account fallback — transformer.rs:431-441: aws.region /
    aws.account_id default from the exporter config when the span
    didn't set them (env vars in the reference; explicit args here —
    executors don't share driver env).

Spark shape: segment assembly runs in an Arrow-batched mapInPandas
(JSON with conditional keys + correct escaping is codec work, the
same boundary where otlp_proto.py encodes — per-split, no shuffle,
no driver involvement). Keys are emitted sorted to match serde_json's
BTreeMap ordering.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame

_MAX_VALUE = 256 * 1024
_MAX_HTTP = 8192
_MAX_ANNOTATION = 2048
_MAX_METADATA = 4096


class XRayTransformError(ValueError):
    pass


def format_xray_trace_id(trace_id_hex: str) -> str:
    """transformer.rs:186-189."""
    return f"1-{trace_id_hex[:8]}-{trace_id_hex[8:]}"


def _validate(value: str, vtype: str, trace_id: str) -> None:
    """transformer.rs:195-346 (the subset for routed string attrs)."""
    if len(value) > _MAX_VALUE:
        raise XRayTransformError(
            f"{vtype} value exceeds {_MAX_VALUE} bytes (trace_id: {trace_id})"
        )
    if vtype in ("http_request", "http_response"):
        if "\n" in value or "\r" in value:
            raise XRayTransformError(
                f"invalid control characters in {vtype} value "
                f"(trace_id: {trace_id})"
            )
        if "\0" in value:
            raise XRayTransformError(
                f"null character not allowed in {vtype} value "
                f"(trace_id: {trace_id})"
            )
        if len(value) > _MAX_HTTP:
            raise XRayTransformError(
                f"{vtype} value exceeds {_MAX_HTTP} bytes "
                f"(trace_id: {trace_id})"
            )
    elif vtype == "annotation":
        if not value:
            raise XRayTransformError(
                f"empty annotation value (trace_id: {trace_id})"
            )
        if len(value) > _MAX_ANNOTATION:
            raise XRayTransformError(
                f"annotation value exceeds {_MAX_ANNOTATION} bytes "
                f"(trace_id: {trace_id})"
            )
        if any(_is_control(c) and c != "\n" for c in value):
            raise XRayTransformError(
                f"annotation contains invalid control characters "
                f"(trace_id: {trace_id})"
            )
    elif vtype == "metadata":
        if any(_is_control(c) for c in value):
            raise XRayTransformError(
                f"metadata contains control characters (trace_id: {trace_id})"
            )
        if len(value) > _MAX_METADATA:
            raise XRayTransformError(
                f"metadata value exceeds {_MAX_METADATA} bytes "
                f"(trace_id: {trace_id})"
            )
        if value.startswith("{"):
            try:
                parsed = json.loads(value)
            except json.JSONDecodeError:
                raise XRayTransformError(
                    f"invalid JSON in metadata value (trace_id: {trace_id})"
                ) from None
            if not isinstance(parsed, dict):
                raise XRayTransformError(
                    f"metadata JSON must be an object (trace_id: {trace_id})"
                )


def _is_control(c: str) -> bool:
    # Rust char::is_control = Unicode Cc category
    import unicodedata

    return unicodedata.category(c) == "Cc"


def _parse_numeric(value: str):
    """transformer.rs:454-462: i64 first, then f64, else string."""
    try:
        return int(value)
    except ValueError:
        pass
    try:
        return float(value)
    except ValueError:
        return value


def span_to_segment(
    span: dict,
    environment: str,
    region: str | None = None,
    account_id: str | None = None,
) -> dict:
    """One span dict → the segment document (transformer.rs:353-517).

    `span` needs trace_id (32-hex), span_id, parent_span_id, name,
    start/end_time_unix_nano, and an `attributes` {str: str} map."""
    start = int(span["start_time_unix_nano"])
    end = int(span["end_time_unix_nano"])
    if start > end:
        raise XRayTransformError(
            f"timestamp error: start > end for span {span.get('span_id')}"
        )
    trace_id = format_xray_trace_id(span["trace_id"])
    parent_id = span.get("parent_span_id") or ""

    request: dict = {}
    response: dict = {}
    annotations: dict = {}
    metadata: dict = {"environment": environment}
    aws_attrs: dict = {}
    exception: dict = {}
    routes = [
        ("http.request.", request, "http_request"),
        ("http.response.", response, "http_response"),
        ("annotation.", annotations, "annotation"),
        ("metadata.", metadata, "metadata"),
        ("aws.", aws_attrs, None),
        ("exception.", exception, None),
    ]
    for key, value in (span.get("attributes") or {}).items():
        if not isinstance(value, str):
            continue  # StringValue-only routing (transformer.rs:375)
        for prefix, dest, vtype in routes:
            if key.startswith(prefix):
                if vtype:
                    _validate(value, vtype, trace_id)
                dest[key[len(prefix):]] = value
                break

    if "region" not in aws_attrs and region:
        aws_attrs["region"] = region
    if "account_id" not in aws_attrs and account_id:
        aws_attrs["account_id"] = account_id

    segment = {
        "trace_id": trace_id,
        "id": span["span_id"],
        "name": span["name"],
        "start_time": start / 1_000_000_000.0,
        "end_time": end / 1_000_000_000.0,
        "type": "subsegment" if parent_id else "segment",
    }
    if request or response:
        segment["http"] = {"request": request, "response": response}
    if annotations:
        segment["annotations"] = annotations
    # metadata always non-empty (environment seed) and every value
    # numeric-parses (transformer.rs:488-494)
    segment["metadata"] = {
        k: _parse_numeric(v) for k, v in metadata.items()
    }
    if parent_id:
        segment["parent_id"] = parent_id
    status = response.get("status")
    if isinstance(status, str):
        if status.startswith("5"):
            segment["fault"] = True
        elif status == "429":
            segment["throttle"] = True
        elif status.startswith("4"):
            segment["error"] = True
    if aws_attrs:
        segment["aws"] = aws_attrs
    if exception:
        segment["exception"] = exception
    return segment


def segment_json(segment: dict) -> str:
    """Compact, key-sorted JSON — serde_json's BTreeMap rendering."""
    return json.dumps(
        segment, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )


def spans_to_segments(
    df: DataFrame,
    environment: str,
    region: str | None = None,
    account_id: str | None = None,
) -> DataFrame:
    """Span rows (+ attributes map<string,string>) → one row per
    segment with the serialized document. Arrow-batched, per-split."""
    import pandas as pd

    cols = [
        "trace_id", "span_id", "parent_span_id", "name",
        "start_time_unix_nano", "end_time_unix_nano",
    ]

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                seg = span_to_segment(
                    r, environment, region=region, account_id=account_id
                )
                rows.append(
                    (
                        seg["trace_id"],
                        seg["id"],
                        seg["type"],
                        seg["name"],
                        segment_json(seg),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "xray_trace_id", "segment_id", "segment_type",
                    "name", "segment_json",
                ],
            )

    needed = df.select(*cols, "attributes")
    return needed.mapInPandas(
        _apply,
        "xray_trace_id string, segment_id string, segment_type string,"
        " name string, segment_json string",
    )
