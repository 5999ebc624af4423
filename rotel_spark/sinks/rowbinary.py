"""ClickHouse RowBinary wire encoding — typed columns, hand-rolled.

The reference's primary sink serializes rows with the RowBinary
format (/root/reference/src/exporters/clickhouse/rowbinary/ser.rs:
1-341; public format doc: clickhouse.com/docs/en/interfaces/formats
#rowbinary). No ClickHouse client library ships in this container, so
this is a minimal hand-rolled encoder+decoder, the same approach as
sinks/otlp_proto.py:

  * integers — little-endian fixed width (ser.rs:49-72 put_*_le);
    UInt8/Int8 single byte.
  * Bool — one byte 0/1 (ser.rs:75-79).
  * String — unsigned LEB128 byte-length then UTF-8 bytes
    (ser.rs:85-96, put_unsigned_leb128 ser.rs:314-327).
  * Nullable(T) — flag byte first: 1 = NULL (nothing follows),
    0 = value follows (ser.rs:99-109).
  * Array(T) — LEB128 element count then each element (ser.rs:
    165-170).
  * Map(K,V) — LEB128 pair count then alternating key/value
    (schema.rs MapOrJson::Map serializes Vec<(String,String)> as a
    seq of tuples — byte-identical to the Map encoding).
  * LowCardinality(T) — wire-identical to T in RowBinary (the
    dictionary exists server-side only).

Per-row column order comes from the schema lists in
rotel_spark/schema.py (LOG_RECORD_COLUMNS / METRIC_ROW_COLUMNS ←
get_*_col_keys in the reference's schema.rs).

Spark-side, encoding runs over Arrow batches in mapInPandas at the
exporter boundary — one payload per batch, per-split, no shuffle, no
driver involvement (the same place the reference spends encoder CPU).
The native-protocol lz4+cityhash envelope (compression/lz4.rs) is a
transport layer on top of these bytes and is out of scope here — the
HTTP interface accepts raw RowBinary, which is the byte surface this
module produces and round-trips.
"""

from __future__ import annotations

import re
import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame

# --- LEB128 ----------------------------------------------------------------


def put_leb128(out: bytearray, value: int) -> None:
    """ser.rs:314-327."""
    if value < 0:
        raise ValueError("LEB128 length must be non-negative")
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_leb128(buf: bytes, off: int) -> tuple[int, int]:
    shift = 0
    value = 0
    while True:
        if off >= len(buf):
            raise ValueError("truncated LEB128")
        b = buf[off]
        off += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value, off
        shift += 7


# --- type model ------------------------------------------------------------

_FIXED = {
    "UInt8": ("B", 1), "Int8": ("b", 1),
    "UInt16": ("<H", 2), "Int16": ("<h", 2),
    "UInt32": ("<I", 4), "Int32": ("<i", 4),
    "UInt64": ("<Q", 8), "Int64": ("<q", 8),
    "Float32": ("<f", 4), "Float64": ("<d", 8),
}

_ARRAY_RE = re.compile(r"^Array\((.+)\)$")
_NULLABLE_RE = re.compile(r"^Nullable\((.+)\)$")
_LOWCARD_RE = re.compile(r"^LowCardinality\((.+)\)$")
_MAP_RE = re.compile(r"^Map\((.+)\)$")


def _split_map_args(inner: str) -> tuple[str, str]:
    depth = 0
    for i, c in enumerate(inner):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return inner[:i].strip(), inner[i + 1:].strip()
    raise ValueError(f"bad Map type: Map({inner})")


def compile_encoder(chtype: str):
    """Type string → encode closure (out, v) -> None.

    The Array/Nullable/Map dispatch on the type string runs once per
    schema column here, not once per value, so the row loop does no
    regex matching."""
    if m := _LOWCARD_RE.match(chtype):
        return compile_encoder(m.group(1))
    if m := _NULLABLE_RE.match(chtype):
        inner = compile_encoder(m.group(1))

        def enc_nullable(out, v, _inner=inner):
            if v is None:
                out.append(1)  # ser.rs:99-103
            else:
                out.append(0)
                _inner(out, v)

        return enc_nullable
    if chtype == "Bool":
        def enc_bool(out, v):
            out.append(1 if v else 0)

        return enc_bool
    if chtype in _FIXED:
        pack = struct.Struct(_FIXED[chtype][0]).pack

        def enc_fixed(out, v, _pack=pack):
            out += _pack(v)

        return enc_fixed
    if chtype == "String":
        def enc_str(out, v):
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            put_leb128(out, len(raw))
            out += raw

        return enc_str
    if m := _ARRAY_RE.match(chtype):
        inner = compile_encoder(m.group(1))

        def enc_array(out, v, _inner=inner):
            items = list(v) if v is not None else []
            put_leb128(out, len(items))
            for item in items:
                _inner(out, item)

        return enc_array
    if chtype == "JSON":
        # A Spark row frame carries JSON columns as typed JSON strings
        # (to_json keeps int/double/bool/array distinct); parse +
        # path-expand at the codec boundary (transformer.rs:95-131)
        def enc_json(out, v):
            if isinstance(v, str):
                v = json_paths_from_str(v)
            encode_json_column(out, v if v is not None else {})

        return enc_json
    if m := _MAP_RE.match(chtype):
        kt, vt = _split_map_args(m.group(1))
        kenc, venc = compile_encoder(kt), compile_encoder(vt)

        def enc_map(out, v, _kenc=kenc, _venc=venc):
            # Arrow map columns arrive in pandas as sequences of (k, v)
            # tuples, not dicts; None means empty
            if v is None:
                items = []
            elif isinstance(v, dict):
                items = list(v.items())
            else:
                items = list(v)
            put_leb128(out, len(items))
            for k, val in items:
                _kenc(out, k)
                _venc(out, val)

        return enc_map
    raise ValueError(f"unsupported ClickHouse type: {chtype}")


def compile_decoder(chtype: str):
    """Type string → decode closure (buf, off) -> (value, off), the
    type dispatch hoisted out of the row loop as in compile_encoder."""
    if m := _LOWCARD_RE.match(chtype):
        return compile_decoder(m.group(1))
    if m := _NULLABLE_RE.match(chtype):
        inner = compile_decoder(m.group(1))

        def dec_nullable(buf, off, _inner=inner):
            flag = buf[off]
            off += 1
            if flag == 1:
                return None, off
            return _inner(buf, off)

        return dec_nullable
    if chtype == "Bool":
        def dec_bool(buf, off):
            return buf[off] != 0, off + 1

        return dec_bool
    if chtype in _FIXED:
        fmt, width = _FIXED[chtype]
        unpack = struct.Struct(fmt).unpack_from

        def dec_fixed(buf, off, _unpack=unpack, _w=width):
            return _unpack(buf, off)[0], off + _w

        return dec_fixed
    if chtype == "String":
        def dec_str(buf, off):
            n, off = read_leb128(buf, off)
            if off + n > len(buf):
                raise ValueError("truncated String")
            return buf[off:off + n].decode("utf-8"), off + n

        return dec_str
    if m := _ARRAY_RE.match(chtype):
        inner = compile_decoder(m.group(1))

        def dec_array(buf, off, _inner=inner):
            n, off = read_leb128(buf, off)
            items = []
            for _ in range(n):
                item, off = _inner(buf, off)
                items.append(item)
            return items, off

        return dec_array
    if chtype == "JSON":
        return decode_json_column
    if m := _MAP_RE.match(chtype):
        kt, vt = _split_map_args(m.group(1))
        kdec, vdec = compile_decoder(kt), compile_decoder(vt)

        def dec_map(buf, off, _kdec=kdec, _vdec=vdec):
            n, off = read_leb128(buf, off)
            d = {}
            for _ in range(n):
                k, off = _kdec(buf, off)
                d[k], off = _vdec(buf, off)
            return d, off

        return dec_map
    raise ValueError(f"unsupported ClickHouse type: {chtype}")


def encode_rows(
    rows: Iterator[dict], schema: list[tuple[str, str]]
) -> bytes:
    """RowBinary payload: rows back-to-back, columns in schema order
    (the INSERT column list from get_*_col_keys)."""
    encs = [(name, compile_encoder(t)) for name, t in schema]
    out = bytearray()
    for row in rows:
        for name, enc in encs:
            enc(out, row.get(name))
    return bytes(out)


def decode_rows(
    buf: bytes, schema: list[tuple[str, str]]
) -> list[dict]:
    decs = [(name, compile_decoder(t)) for name, t in schema]
    rows = []
    off = 0
    while off < len(buf):
        row = {}
        for name, dec in decs:
            row[name], off = dec(buf, off)
        rows.append(row)
    return rows


# --- ClickHouse JSON column (typed Dynamic paths) --------------------------
#
# The reference's attribute columns can be the ClickHouse JSON type
# instead of Map(String,String) (schema.rs MapOrJson::Json;
# rowbinary/json.rs:223-280). Wire format per path value = one type
# discriminator byte then the typed bytes:
#   Int64  0x0A + i64 LE          (json.rs:229-235)
#   Float64 0x0E + f64 LE         (json.rs:243-249)
#   String 0x15 + LEB128 + utf8   (json.rs:236-242)
#   Bool   0x2D + 1 byte          (json.rs:250-256)
#   Array  0x1E 0x2B 0x20 + LEB128 count + [disc+bytes...]
#          (Array(Dynamic(max_types=32)), json.rs:257-270)
#   Object 0x27 0x15 0x2B 0x20 + LEB128 count +
#          [LEB128 key + disc + bytes ...]
#          (Map(String, Dynamic(max_types=32)), json.rs:271-277)
# A JSON *column* is LEB128 path-count then (LEB128 key ++ dynamic
# value) per path (ser.rs:198-215 serialize_map writes the number of
# JSON paths, then each key via serialize_str and each value via the
# JsonType discriminated encoding).

_J_INT = 0x0A
_J_DOUBLE = 0x0E
_J_STR = 0x15
_J_BOOL = 0x2D
_J_ARRAY = bytes((0x1E, 0x2B, 0x20))
_J_MAP = bytes((0x27, 0x15, 0x2B, 0x20))


def encode_json_dynamic(out: bytearray, v: Any) -> None:
    if isinstance(v, bool):  # before int — bool subclasses int
        out.append(_J_BOOL)
        out.append(1 if v else 0)
    elif isinstance(v, int):
        out.append(_J_INT)
        out += struct.pack("<q", v)
    elif isinstance(v, float):
        out.append(_J_DOUBLE)
        out += struct.pack("<d", v)
    elif isinstance(v, str):
        out.append(_J_STR)
        raw = v.encode("utf-8")
        put_leb128(out, len(raw))
        out += raw
    elif isinstance(v, (list, tuple)):
        out += _J_ARRAY
        put_leb128(out, len(v))
        for item in v:
            encode_json_dynamic(out, item)
    elif isinstance(v, dict):
        out += _J_MAP
        put_leb128(out, len(v))
        for k, val in v.items():
            raw = str(k).encode("utf-8")
            put_leb128(out, len(raw))
            out += raw
            encode_json_dynamic(out, val)
    else:
        raise ValueError(f"cannot encode {type(v)} as JSON dynamic")


def decode_json_dynamic(buf: bytes, off: int) -> tuple[Any, int]:
    disc = buf[off]
    off += 1
    if disc == _J_BOOL:
        return buf[off] != 0, off + 1
    if disc == _J_INT:
        return struct.unpack_from("<q", buf, off)[0], off + 8
    if disc == _J_DOUBLE:
        return struct.unpack_from("<d", buf, off)[0], off + 8
    if disc == _J_STR:
        n, off = read_leb128(buf, off)
        return buf[off:off + n].decode("utf-8"), off + n
    if disc == 0x1E:
        if buf[off:off + 2] != bytes((0x2B, 0x20)):
            raise ValueError("bad Array(Dynamic) header")
        off += 2
        n, off = read_leb128(buf, off)
        items = []
        for _ in range(n):
            item, off = decode_json_dynamic(buf, off)
            items.append(item)
        return items, off
    if disc == 0x27:
        if buf[off:off + 3] != bytes((0x15, 0x2B, 0x20)):
            raise ValueError("bad Map(String,Dynamic) header")
        off += 3
        n, off = read_leb128(buf, off)
        d = {}
        for _ in range(n):
            kn, off = read_leb128(buf, off)
            k = buf[off:off + kn].decode("utf-8")
            off += kn
            d[k], off = decode_json_dynamic(buf, off)
        return d, off
    raise ValueError(f"unknown JSON dynamic discriminator 0x{disc:02x}")


def json_paths_from_str(s: str) -> dict:
    """Typed JSON string → the JSON column's path map, mirroring the
    transformer-level expansion (transformer.rs:95-131): nested
    objects along the TOP-LEVEL chain flatten to dotted paths (the
    KvlistValue rule); arrays are preserved with their elements
    converted in place (a dict inside an array stays a map — the
    anyvalue_to_jsontype nested rule, rowbinary/json.rs:111-136).
    Leaf types stay native: json.loads keeps Int64/Float64/Bool/
    String/Array distinct, which is the whole point of the JSON
    column vs Map(String,String)."""
    import json as _json

    try:
        obj = _json.loads(s) if s else {}
    except ValueError:
        obj = {}
    if not isinstance(obj, dict):
        obj = {}
    out: dict = {}

    def walk(prefix: str, d: dict) -> None:
        for k, v in d.items():
            key = f"{prefix}.{k}" if prefix else str(k)
            if isinstance(v, dict):
                walk(key, v)
            elif v is None:
                continue  # None-valued attrs are skipped (transformer.rs:129)
            else:
                out[key] = v

    walk("", obj)
    return out


def encode_json_column(out: bytearray, paths: dict) -> None:
    """One JSON column value: LEB128 path count ++ (key, dynamic)."""
    items = list(paths.items()) if isinstance(paths, dict) else list(paths or [])
    put_leb128(out, len(items))
    for k, v in items:
        raw = str(k).encode("utf-8")
        put_leb128(out, len(raw))
        out += raw
        encode_json_dynamic(out, v)


def decode_json_column(buf: bytes, off: int) -> tuple[dict, int]:
    n, off = read_leb128(buf, off)
    d = {}
    for _ in range(n):
        kn, off = read_leb128(buf, off)
        k = buf[off:off + kn].decode("utf-8")
        off += kn
        d[k], off = decode_json_dynamic(buf, off)
    return d, off


# --- table schemas (CH types per the reference's row structs) --------------

# LogRecordRow field types (schema.rs:91-117: u64, str, str, u8,
# String, u8, str, String, str, Map, str, str, str, Map, Map[, str])
LOG_ROW_CH_TYPES: list[tuple[str, str]] = [
    ("Timestamp", "UInt64"),
    ("TraceId", "String"),
    ("SpanId", "String"),
    ("TraceFlags", "UInt8"),
    ("SeverityText", "LowCardinality(String)"),
    ("SeverityNumber", "UInt8"),
    ("ServiceName", "LowCardinality(String)"),
    ("Body", "String"),
    ("ResourceSchemaUrl", "String"),
    ("ResourceAttributes", "Map(String,String)"),
    ("ScopeSchemaUrl", "String"),
    ("ScopeName", "String"),
    ("ScopeVersion", "String"),
    ("ScopeAttributes", "Map(String,String)"),
    ("LogAttributes", "Map(String,String)"),
]

# use_json=true variant (mod.rs:73,127-128; transformer.rs:44-46):
# the three MapOrJson attr columns (schema.rs:101,105-106) become
# ClickHouse JSON columns — typed Dynamic paths instead of
# stringified Map(String,String)
LOG_ROW_CH_TYPES_JSON: list[tuple[str, str]] = [
    (n, "JSON" if n in (
        "ResourceAttributes", "ScopeAttributes", "LogAttributes"
    ) else t)
    for n, t in LOG_ROW_CH_TYPES
]

def rows_to_rowbinary(
    df: DataFrame, schema: list[tuple[str, str]], compress: bool = False
) -> DataFrame:
    """Row frame → one RowBinary payload per Arrow batch with its row
    count (the ClickhousePayloadBuilder chunking analog — each batch
    is a bounded buffer; batch size is governed by
    spark.sql.execution.arrow.maxRecordsPerBatch).

    compress=True wraps each payload in the ClickHouse native
    lz4+cityhash frame (sinks/ch_compress.py ← compression/lz4.rs) —
    the full bytes-on-the-wire of the reference's primary sink."""
    import pandas as pd

    names = [n for n, _ in schema]

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if compress:
            from rotel_spark.sinks.ch_compress import compress_frame
        # schema compiled once per task; rows encode straight from the
        # itertuples tuples (no per-row dict build)
        encs = [compile_encoder(t) for _, t in schema]
        for pdf in batches:
            out = bytearray()
            for rec in pdf[names].itertuples(index=False, name=None):
                for enc, v in zip(encs, rec):
                    enc(out, v)
            payload = bytes(out)
            if compress:
                payload = compress_frame(payload)
            yield pd.DataFrame(
                {"payload": [payload], "n_rows": [len(pdf)]}
            )

    return df.mapInPandas(_encode, "payload binary, n_rows long")

