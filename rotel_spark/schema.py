"""Canonical flat log-record schema — the ClickHouse LogRecordRow mirror.

Column set and order fixed by the reference's
`get_log_row_col_keys` (/root/reference/src/exporters/clickhouse/
schema.rs:91-141); the parquet exporter emits the identical 15 columns
(src/exporters/file/parquet/log.rs:13-31). Severity is truncated to
u8 (transform_logs.rs:70-71); service_name comes from the resource
attr `service.name` with '' default (transform_logs.rs:29). The
optional 16th column EventName (schema.rs:119-141,
`with_event_name`) is opt-in here the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LOG_RECORD_COLUMNS = [
    "Timestamp",
    "TraceId",
    "SpanId",
    "TraceFlags",
    "SeverityText",
    "SeverityNumber",
    "ServiceName",
    "Body",
    "ResourceSchemaUrl",
    "ResourceAttributes",
    "ScopeSchemaUrl",
    "ScopeName",
    "ScopeVersion",
    "ScopeAttributes",
    "LogAttributes",
]

LOG_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("Timestamp", T.LongType()),  # ns since epoch (u64)
        T.StructField("TraceId", T.StringType()),
        T.StructField("SpanId", T.StringType()),
        T.StructField("TraceFlags", T.IntegerType()),  # u8
        T.StructField("SeverityText", T.StringType()),
        T.StructField("SeverityNumber", T.IntegerType()),  # u8-truncated
        T.StructField("ServiceName", T.StringType()),
        T.StructField("Body", T.StringType()),
        T.StructField("ResourceSchemaUrl", T.StringType()),
        T.StructField(
            "ResourceAttributes", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField("ScopeSchemaUrl", T.StringType()),
        T.StructField("ScopeName", T.StringType()),
        T.StructField("ScopeVersion", T.StringType()),
        T.StructField(
            "ScopeAttributes", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField(
            "LogAttributes", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)

_EMPTY_MAP = "map<string,string>"


def log_record_columns(with_event_name: bool = False) -> list[str]:
    """get_log_row_col_keys twin (schema.rs:119-141)."""
    return LOG_RECORD_COLUMNS + (
        ["EventName"] if with_event_name else []
    )


def to_log_record_row(
    df: DataFrame, with_event_name: bool = False, use_json: bool = False
) -> DataFrame:
    """Normalize a parsed frame into the exact LogRecordRow (15
    columns; 16 with the opt-in EventName, schema.rs:119-141).

    Mapping rules from transform_logs.rs:12-106:
      * Timestamp = time_unix_nano
      * ServiceName = resource_attributes['service.name'] else ''
      * SeverityNumber truncated to u8 range
      * missing trace/scope fields default to ''/empty maps
      * EventName = log record event_name, '' default

    use_json=True is the reference's `with_json` mode (mod.rs:127-128,
    transformer.rs:44-46): the three attr columns carry typed JSON
    strings destined for ClickHouse JSON columns instead of
    map<string,string>. A `log_attributes_json` column, when present,
    supplies TYPED attrs (int/double/bool/array preserved); otherwise
    the string map is serialized via to_json (all-string paths, the
    degenerate case). Encode with rowbinary.LOG_ROW_CH_TYPES_JSON.
    """
    cols = set(df.columns)

    def col_or(name: str, default):
        return F.col(name) if name in cols else default

    empty_map = F.create_map().cast(_EMPTY_MAP)
    resource = F.coalesce(
        col_or("resource_attributes", empty_map), empty_map
    )
    if use_json:
        resource_attrs = F.to_json(resource).alias("ResourceAttributes")
        scope_attrs = F.lit("{}").alias("ScopeAttributes")
        log_attrs = F.coalesce(
            col_or("log_attributes_json", F.lit(None).cast("string")),
            F.to_json(F.coalesce(col_or("log_attributes", empty_map), empty_map)),
        ).alias("LogAttributes")
    else:
        resource_attrs = resource.alias("ResourceAttributes")
        scope_attrs = empty_map.alias("ScopeAttributes")
        log_attrs = F.coalesce(
            col_or("log_attributes", empty_map), empty_map
        ).alias("LogAttributes")
    return df.select(
        F.coalesce(col_or("time_unix_nano", F.lit(None).cast("long")), F.lit(0)).alias("Timestamp"),
        F.coalesce(col_or("trace_id", F.lit("")), F.lit("")).alias("TraceId"),
        F.coalesce(col_or("span_id", F.lit("")), F.lit("")).alias("SpanId"),
        F.coalesce(col_or("trace_flags", F.lit(0)), F.lit(0))
        .cast("int")
        .alias("TraceFlags"),
        F.coalesce(col_or("severity_text", F.lit("")), F.lit("")).alias(
            "SeverityText"
        ),
        F.pmod(
            F.coalesce(col_or("severity_number", F.lit(0)), F.lit(0)), F.lit(256)
        )
        .cast("int")
        .alias("SeverityNumber"),
        F.coalesce(
            F.element_at(resource, "service.name"), F.lit("")
        ).alias("ServiceName"),
        F.coalesce(col_or("body", F.lit("")), F.lit("")).alias("Body"),
        F.lit("").alias("ResourceSchemaUrl"),
        resource_attrs,
        F.lit("").alias("ScopeSchemaUrl"),
        F.lit("").alias("ScopeName"),
        F.lit("").alias("ScopeVersion"),
        scope_attrs,
        log_attrs,
        *(
            [
                F.coalesce(col_or("event_name", F.lit("")), F.lit("")).alias(
                    "EventName"
                )
            ]
            if with_event_name
            else []
        ),
    )


# ---------------------------------------------------------------------------
# Trace spans — SpanRow mirror
# ---------------------------------------------------------------------------

# public OTLP trace.proto SpanKind enum → ClickHouse strings
# (transform_traces.rs:148-162)
_SPAN_KINDS = [
    (1, "Internal"),
    (2, "Server"),
    (3, "Client"),
    (4, "Producer"),
    (5, "Consumer"),
]


def span_kind_string(kind) -> F.Column:
    """transform_traces.rs:148-162 — unknown values → 'Unspecified'."""
    expr = F.lit("Unspecified")
    for code, name in _SPAN_KINDS:
        expr = F.when(F.col(kind) == code, F.lit(name)).otherwise(expr)
    return expr


def to_span_row(df: DataFrame) -> DataFrame:
    """Span rows → the ClickHouse SpanRow column set, exact order
    (transform_traces.rs:103-124 field mapping; schema.rs:22-54).

    Rules: StatusCode 1→'Ok', 2→'Error', else/missing→'Unset'
    (transform_traces.rs:164-173); Duration clamps negative spans to 0
    (transform_traces.rs:96-100); Events.*/Links.* are parallel arrays
    per ClickHouse Nested-column convention (transform_traces.rs:
    53-89); ids are lowercase hex pass-through (encode_id).

    Pure JVM expressions end-to-end — whole-stage codegen, no Python,
    no shuffle: at 100 TB this normalization rides the scan."""
    cols = set(df.columns)

    def col_or(name: str, default):
        return F.col(name) if name in cols else default

    empty_map = F.create_map().cast(_EMPTY_MAP)
    empty_longs = F.array().cast("array<bigint>")
    empty_strs = F.array().cast("array<string>")
    empty_maps = F.array().cast("array<map<string,string>>")
    status = (
        F.when(col_or("status_code", F.lit(0)) == 1, F.lit("Ok"))
        .when(col_or("status_code", F.lit(0)) == 2, F.lit("Error"))
        .otherwise(F.lit("Unset"))
    )
    start = F.col("start_time_unix_nano")
    end = F.col("end_time_unix_nano")
    return df.select(
        start.alias("Timestamp"),
        F.col("trace_id").alias("TraceId"),
        F.col("span_id").alias("SpanId"),
        F.coalesce(col_or("parent_span_id", F.lit("")), F.lit(""))
        .alias("ParentSpanId"),
        F.coalesce(col_or("trace_state", F.lit("")), F.lit(""))
        .alias("TraceState"),
        F.col("name").alias("SpanName"),
        span_kind_string("kind").alias("SpanKind"),
        F.coalesce(col_or("service_name", F.lit("")), F.lit(""))
        .alias("ServiceName"),
        F.coalesce(col_or("resource_attributes", empty_map), empty_map)
        .alias("ResourceAttributes"),
        F.coalesce(col_or("scope_name", F.lit("")), F.lit(""))
        .alias("ScopeName"),
        F.coalesce(col_or("scope_version", F.lit("")), F.lit(""))
        .alias("ScopeVersion"),
        F.coalesce(col_or("attributes", empty_map), empty_map)
        .alias("SpanAttributes"),
        F.when(end > start, (end - start)).otherwise(F.lit(0))
        .cast("long")
        .alias("Duration"),
        status.alias("StatusCode"),
        F.coalesce(col_or("status_message", F.lit("")), F.lit(""))
        .alias("StatusMessage"),
        F.coalesce(col_or("events_timestamp", empty_longs), empty_longs)
        .alias("Events.Timestamp"),
        F.coalesce(col_or("events_name", empty_strs), empty_strs)
        .alias("Events.Name"),
        F.coalesce(col_or("events_attributes", empty_maps), empty_maps)
        .alias("Events.Attributes"),
        F.coalesce(col_or("links_trace_id", empty_strs), empty_strs)
        .alias("Links.TraceId"),
        F.coalesce(col_or("links_span_id", empty_strs), empty_strs)
        .alias("Links.SpanId"),
        F.coalesce(col_or("links_trace_state", empty_strs), empty_strs)
        .alias("Links.TraceState"),
        F.coalesce(col_or("links_attributes", empty_maps), empty_maps)
        .alias("Links.Attributes"),
    )


# ---------------------------------------------------------------------------
# Metrics — five per-type row tables
# ---------------------------------------------------------------------------

METRICS_META_COLUMNS = [
    # get_metrics_meta_col_keys (schema.rs:160-174)
    "ResourceAttributes",
    "ResourceSchemaUrl",
    "ScopeName",
    "ScopeVersion",
    "ScopeAttributes",
    "ScopeDroppedAttrCount",
    "ScopeSchemaUrl",
    "ServiceName",
    "MetricName",
    "MetricDescription",
    "MetricUnit",
]

METRICS_EXEMPLAR_COLUMNS = [
    # get_metrics_exemplars_col_keys (schema.rs:191-199)
    "Exemplars.FilteredAttributes",
    "Exemplars.TimeUnix",
    "Exemplars.Value",
    "Exemplars.SpanId",
    "Exemplars.TraceId",
]

METRIC_ROW_COLUMNS = {
    # per-type column orders, schema.rs:222-398. NOTE the reference's
    # summary key list contains the literal typo "ValueAtQauntiles.
    # Value" (schema.rs:396) while the serde rename on the struct is
    # "ValueAtQuantiles.Value" (schema.rs:372) — the DB column list is
    # what names the wire columns, so the typo is reproduced here.
    "sum": METRICS_META_COLUMNS
    + ["Attributes", "StartTimeUnix", "TimeUnix"]
    + ["Value", "Flags", "AggregationTemporality", "IsMonotonic"]
    + METRICS_EXEMPLAR_COLUMNS,
    "gauge": METRICS_META_COLUMNS
    + ["Attributes", "StartTimeUnix", "TimeUnix"]
    + ["Value", "Flags"]
    + METRICS_EXEMPLAR_COLUMNS,
    "histogram": METRICS_META_COLUMNS
    + ["Attributes", "StartTimeUnix", "TimeUnix"]
    + ["Count", "Sum", "BucketCounts", "ExplicitBounds", "Flags",
       "Min", "Max", "AggregationTemporality"]
    + METRICS_EXEMPLAR_COLUMNS,
    "exponential_histogram": METRICS_META_COLUMNS
    + ["Attributes", "StartTimeUnix", "TimeUnix"]
    + ["Count", "Sum", "Scale", "ZeroCount", "PositiveOffset",
       "PositiveBucketCounts", "NegativeOffset",
       "NegativeBucketCounts", "Flags", "Min", "Max",
       "AggregationTemporality"]
    + METRICS_EXEMPLAR_COLUMNS,
    "summary": METRICS_META_COLUMNS
    + ["Attributes", "StartTimeUnix", "TimeUnix"]
    + ["Count", "Sum", "ValueAtQuantiles.Quantile",
       "ValueAtQauntiles.Value", "Flags"],
}


def _metric_meta(empty_map):
    """Shared leading columns (transform_metrics.rs:54-66)."""
    return [
        F.create_map(
            F.lit("service.name"), F.col("service")
        ).alias("ResourceAttributes"),
        F.lit("").alias("ResourceSchemaUrl"),
        F.lit("").alias("ScopeName"),
        F.lit("").alias("ScopeVersion"),
        empty_map.alias("ScopeAttributes"),
        F.lit(0).cast("long").alias("ScopeDroppedAttrCount"),
        F.lit("").alias("ScopeSchemaUrl"),
        F.col("service").alias("ServiceName"),
        F.col("metric_name").alias("MetricName"),
        F.lit("").alias("MetricDescription"),
        F.lit("").alias("MetricUnit"),
    ]


def _empty_exemplars():
    """parse_exemplars over no exemplars (transform_metrics.rs:279-302)
    — five parallel empty arrays."""
    return [
        F.array().cast("array<map<string,string>>")
        .alias("Exemplars.FilteredAttributes"),
        F.array().cast("array<bigint>").alias("Exemplars.TimeUnix"),
        F.array().cast("array<double>").alias("Exemplars.Value"),
        F.array().cast("array<string>").alias("Exemplars.SpanId"),
        F.array().cast("array<string>").alias("Exemplars.TraceId"),
    ]


def to_metric_rows(dps: DataFrame) -> dict[str, DataFrame]:
    """Typed datapoints (telemetry.events_to_typed_datapoints) → the
    five ClickHouse metric row tables, one DataFrame per RequestType
    (transform_metrics.rs:69-255; column orders schema.rs:222-398).

    Datapoint-field mapping: Value = the numeric value as f64
    (get_metric_value, transform_metrics.rs:305-313); histogram-family
    rows carry the statistical set (Count/Sum/Min/Max) with the
    single-bucket shape our datapoints hold ([Count] bucket, no
    explicit bounds); summary carries the (0→min, 1→max) quantile
    pair. Missing optional f64s default 0.0 (transform_metrics.rs:
    140,144-145). Cumulative temporality (=2), monotonic sums.

    Pure expressions, one filter per type over the same scan — no
    shuffle, codegen-friendly; each returned frame partitions exactly
    like the input (the per-RequestType payload split the reference
    does at transform_metrics.rs:87-94)."""
    empty_map = F.create_map().cast(_EMPTY_MAP)
    meta = lambda: _metric_meta(empty_map)  # noqa: E731
    shared = lambda: [  # noqa: E731
        F.create_map(
            F.lit("event_type"), F.col("event_type")
        ).alias("Attributes"),
        F.col("ts_minute_nano").alias("StartTimeUnix"),
        F.col("ts_minute_nano").alias("TimeUnix"),
    ]
    flags = F.lit(0).cast("long").alias("Flags")
    agg_temp = F.lit(2).cast("int").alias("AggregationTemporality")

    by_type = {
        t: dps.filter(F.col("metric_type") == t)
        for t in METRIC_ROW_COLUMNS
    }
    out = {}
    out["gauge"] = by_type["gauge"].select(
        *meta(), *shared(),
        F.col("dp_sum").cast("double").alias("Value"),
        flags,
        *_empty_exemplars(),
    )
    out["sum"] = by_type["sum"].select(
        *meta(), *shared(),
        F.col("dp_sum").cast("double").alias("Value"),
        flags, agg_temp,
        F.lit(True).alias("IsMonotonic"),
        *_empty_exemplars(),
    )
    out["histogram"] = by_type["histogram"].select(
        *meta(), *shared(),
        F.col("dp_count").cast("long").alias("Count"),
        F.col("dp_sum").cast("double").alias("Sum"),
        F.array(F.col("dp_count")).cast("array<bigint>")
        .alias("BucketCounts"),
        F.array().cast("array<double>").alias("ExplicitBounds"),
        flags,
        F.col("dp_min").cast("double").alias("Min"),
        F.col("dp_max").cast("double").alias("Max"),
        agg_temp,
        *_empty_exemplars(),
    )
    out["exponential_histogram"] = by_type["exponential_histogram"].select(
        *meta(), *shared(),
        F.col("dp_count").cast("long").alias("Count"),
        F.col("dp_sum").cast("double").alias("Sum"),
        F.lit(0).cast("int").alias("Scale"),
        F.lit(0).cast("long").alias("ZeroCount"),
        F.lit(0).cast("int").alias("PositiveOffset"),
        F.array(F.col("dp_count")).cast("array<bigint>")
        .alias("PositiveBucketCounts"),
        F.lit(0).cast("int").alias("NegativeOffset"),
        F.array().cast("array<bigint>").alias("NegativeBucketCounts"),
        flags,
        F.col("dp_min").cast("double").alias("Min"),
        F.col("dp_max").cast("double").alias("Max"),
        agg_temp,
        *_empty_exemplars(),
    )
    out["summary"] = by_type["summary"].select(
        *meta(), *shared(),
        F.col("dp_count").cast("long").alias("Count"),
        F.col("dp_sum").cast("double").alias("Sum"),
        F.array(F.lit(0.0), F.lit(1.0)).alias("ValueAtQuantiles.Quantile"),
        F.array(F.col("dp_min"), F.col("dp_max")).cast("array<double>")
        .alias("ValueAtQauntiles.Value"),
        flags,
    )
    for t, frame in out.items():
        assert frame.columns == METRIC_ROW_COLUMNS[t], (
            t, frame.columns
        )
    return out
