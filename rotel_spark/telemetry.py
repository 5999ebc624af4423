"""Traces & metrics telemetry types — the other two OTLP pipelines.

The reference statically runs one pipeline per telemetry type
(/root/reference/src/init/agent.rs:806-906; the payload enum
`OTLPPayload::{Traces,Metrics,Logs}`, src/topology/payload.rs:706-711).
Spark mapping (SURVEY.md §1.4): per-type DataFrame branches off ONE
source scan — `events` rows become spans and datapoints via pure
expression transforms, each branch feeding its own processors/sinks.

Row schemas mirror the reference leaf records:
  span  — opentelemetry Span essentials (trace_id, span_id,
          parent_span_id, name, kind, start/end_time_unix_nano,
          status_code, service_name), constructed the way
          src/receivers/file/receiver.rs builds LogRecords.
  datapoint — metric leaf (metric_name, namespace, dims, ts, value);
          the unit the batcher counts (batch_resources.rs:61-77
          counts datapoints, not envelopes).

All derivations are deterministic arithmetic over the events table so
DuckDB oracles can derive the same values independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# span kind per event type (SpanKind enum: 1=INTERNAL 2=SERVER 3=CLIENT)
KIND_MAP = {
    "view": 2,
    "click": 3,
    "purchase": 3,
    "signup": 2,
    "error": 1,
}

TRACE_FANOUT = 4  # events per trace (deterministic grouping)


def events_to_spans(events: DataFrame) -> DataFrame:
    """events → span rows.

    trace groups TRACE_FANOUT consecutive event_ids; the group's first
    event is the root span. IDs are md5-derived hex (the OTLP wire
    shape: 32-hex trace_id, 16-hex span_id). Duration comes from
    `value` (seconds-ish → ns via µs floor, portable across engines).
    """
    root_id = F.col("event_id") - F.col("event_id") % TRACE_FANOUT
    start_ns = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    dur_ns = (
        F.floor(F.col("value") * 1000000).cast("long") * 1000
    )
    kind = F.lit(1)
    for et, k in KIND_MAP.items():
        kind = F.when(F.col("event_type") == et, F.lit(k)).otherwise(kind)
    return events.select(
        F.md5(root_id.cast("string")).alias("trace_id"),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 16).alias(
            "span_id"
        ),
        F.when(F.col("event_id") % TRACE_FANOUT == 0, F.lit("")).otherwise(
            F.substring(F.md5(root_id.cast("string")), 1, 16)
        ).alias("parent_span_id"),
        F.col("event_type").alias("name"),
        kind.alias("kind"),
        start_ns.alias("start_time_unix_nano"),
        (start_ns + dur_ns).alias("end_time_unix_nano"),
        F.when(F.col("event_type") == "error", F.lit(2))
        .otherwise(F.lit(1))
        .alias("status_code"),
        F.concat(
            F.lit("svc-"), (F.col("user_id") % 4).cast("string")
        ).alias("service_name"),
    )


def events_to_datapoints(events: DataFrame) -> DataFrame:
    """events → metric datapoint rows (gauge shape).

    One datapoint per event: metric_name from the event type, fixed
    dimension set (service, event_type), timestamp bucketed to the
    minute (EMF grouping granularity).
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return events.select(
        F.concat(F.lit("events."), F.col("event_type"), F.lit(".value"))
        .alias("metric_name"),
        F.lit("rotel/events").alias("namespace"),
        F.concat(
            F.lit("svc-"), (F.col("user_id") % 4).cast("string")
        ).alias("service"),
        F.col("event_type"),
        ((us - us % 60000000) * 1000).alias("ts_minute_nano"),
        F.col("value"),
    )


def spans_to_resource_tree(
    spans: DataFrame, max_spans_per_resource: int = 8192
) -> DataFrame:
    """span rows → ResourceSpans-shaped tree (one row per service
    resource chunk, spans nested) — the traces twin of
    sinks.otlp_shape.to_resource_logs_tree; leaf count = spans
    (batch_resources.rs:126-130 rule)."""
    from pyspark.sql.window import Window

    rec = F.struct(
        "trace_id", "span_id", "parent_span_id", "name", "kind",
        "start_time_unix_nano", "end_time_unix_nano", "status_code",
    )
    # chunk id assigned BEFORE the groupBy so no aggregation buffer
    # exceeds one chunk (bounded-buffer shape; a hot service with
    # billions of spans must not materialize as one collect_list).
    w = Window.partitionBy("service_name").orderBy(
        "trace_id", "span_id", "start_time_unix_nano"
    )
    return (
        spans.withColumn(
            "_chunk",
            ((F.row_number().over(w) - 1) / max_spans_per_resource).cast(
                "int"
            ),
        )
        .groupBy("service_name", "_chunk")
        .agg(F.collect_list(rec).alias("spans"))
        .select("service_name", "_chunk", "spans")
    )


# SummaryDataPoint quantile_values pairs (transformer.rs:452-455
# collects them into MetricValue::Summary::_quantiles :159-160)
_QUANTILES_TYPE = "array<struct<q:double,v:double>>"


def events_to_typed_datapoints(events: DataFrame) -> DataFrame:
    """events → typed metric datapoints covering all five OTLP Data
    variants the reference sizes and batches
    (/root/reference/src/topology/batch_resources.rs:61-77: Gauge,
    Sum, Histogram, ExponentialHistogram, Summary — the leaf unit is
    the DATAPOINT, one per row here, regardless of type).

    Deterministic derivation (oracle-friendly, no randomness):
      gauge   — one dp per event (raw value)
      sum     — one dp per (service, event_type, minute): total value
                (the monotonic-counter analog)
      histogram / exponential_histogram / summary — one dp per group
                carrying the statistical set (count/sum/min/max) the
                EMF transformer emits for those types
                (awsemf/transformer.rs:592-614).
    """
    no_quantiles = F.array().cast(_QUANTILES_TYPE)
    base = events_to_datapoints(events)
    gauge = base.select(
        "metric_name",
        F.lit("gauge").alias("metric_type"),
        "namespace",
        "service",
        "event_type",
        "ts_minute_nano",
        F.lit(1).cast("long").alias("dp_count"),
        F.round(F.col("value"), 6).alias("dp_sum"),
        F.round(F.col("value"), 6).alias("dp_min"),
        F.round(F.col("value"), 6).alias("dp_max"),
        no_quantiles.alias("dp_quantiles"),
    )
    grouped = base.groupBy(
        "namespace", "service", "event_type", "ts_minute_nano"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.round(F.sum("value"), 6).alias("_sum"),
        F.round(F.min("value"), 6).alias("_min"),
        F.round(F.max("value"), 6).alias("_max"),
    )
    # summary datapoints carry their quantile_values pairs
    # (SummaryDataPoint.quantile_values → _quantiles,
    # transformer.rs:452-455); deterministic generator choice:
    # q0.5 = midrange, q0.99 = max
    summary_quantiles = F.array(
        F.struct(
            F.lit(0.5).alias("q"),
            F.round((F.col("_min") + F.col("_max")) / 2, 6).alias("v"),
        ),
        F.struct(F.lit(0.99).alias("q"), F.col("_max").alias("v")),
    ).cast(_QUANTILES_TYPE)
    no_q = F.array().cast(_QUANTILES_TYPE)
    # The four aggregated variants differ only in name suffix, type tag
    # and quantiles, so they ride ONE explode over the single `grouped`
    # aggregate. The previous per-variant union re-planned `grouped`
    # four times — 4 extra event scans + 4 identical two-stage
    # aggregations (measured: emf_document 4.3 s → 1.4 s at sf0.1).
    # Same rows, schema and values as the union form.
    typed_rows = F.array(
        *[
            F.struct(
                F.concat(
                    F.lit("events."), F.col("event_type"),
                    F.lit(f".{suffix}"),
                ).alias("metric_name"),
                F.lit(mtype).alias("metric_type"),
                (
                    summary_quantiles if mtype == "summary" else no_q
                ).alias("dp_quantiles"),
            )
            for mtype, suffix in (
                ("sum", "total"),
                ("histogram", "hist"),
                ("exponential_histogram", "exphist"),
                ("summary", "summary"),
            )
        ]
    )
    typed = (
        grouped.select("*", F.explode(typed_rows).alias("_t"))
        .select(
            F.col("_t.metric_name").alias("metric_name"),
            F.col("_t.metric_type").alias("metric_type"),
            "namespace",
            "service",
            "event_type",
            "ts_minute_nano",
            F.col("_n").alias("dp_count"),
            F.col("_sum").alias("dp_sum"),
            F.col("_min").alias("dp_min"),
            F.col("_max").alias("dp_max"),
            F.col("_t.dp_quantiles").alias("dp_quantiles"),
        )
    )
    return gauge.unionByName(typed)


def metrics_batch_sizing(
    dps: DataFrame, max_size: int = 8192
) -> DataFrame:
    """Leaf-count batching over MIXED metric types: size_of counts
    datapoints across Gauge/Sum/Histogram/ExponentialHistogram/Summary
    alike (batch_resources.rs:61-77 — each HistogramDataPoint is ONE
    leaf no matter how many buckets), then the ≤max_size split rule
    (batch.rs:15-23) applies to the combined count per resource."""
    return dps.groupBy("service").agg(
        F.count(F.lit(1)).alias("n_datapoints"),
        *[
            F.sum((F.col("metric_type") == t).cast("long")).alias(f"n_{t}")
            for t in (
                "gauge",
                "sum",
                "histogram",
                "exponential_histogram",
                "summary",
            )
        ],
        F.ceil(F.count(F.lit(1)) / max_size).cast("long").alias("n_batches"),
    )


def emf_documents(
    events: DataFrame,
    detailed_metrics: bool = False,
    include_dimensions: list[str] | None = None,
    exclude_dimensions: list[str] | None = None,
) -> DataFrame:
    """Typed metrics → CloudWatch EMF JSON log documents with the
    reference's PER-TYPE emit shapes (awsemf/transformer.rs:560-618):
      * gauge/sum values emit as plain JSON numbers (:582-588),
      * the histogram family emits the {Count,Sum,Min,Max}
        statistical set (:589-605),
      * summary emits `{name}_count` / `{name}_sum` suffix fields
        (:606-613) while the Metrics directive still names the BASE
        metric (cw_metrics loop :552-559 — the reference's own
        behavior, ported faithfully).
    The envelope carries Namespace / sorted Dimension keys / Metrics
    directives (Unit default "Count", StorageResolution 60); labels
    are top-level fields; the group key includes the metric TYPE
    (create_group_key :514-530), so each document holds one type.

    The metric-name field sits at the TOP LEVEL with a data-dependent
    key, so every dynamic fragment rides through to_json (maps with
    computed keys) and only well-formed JSON objects are concatenated
    — quotes/backslashes/control chars in attribute-derived names
    escape correctly instead of corrupting the document.

    Gauge groups hold many datapoints; the reference's
    last-insert-wins is arrival-order dependent (HashMap insert,
    :507-509), which a distributed scan cannot reproduce — the
    deterministic stand-in here is max(value), documented.

    detailed_metrics=True additionally emits each summary quantile
    pair as a `{name}_{quantile}` field (e.g. `latency.summary_0.5`).
    The reference COLLECTS quantile_values into
    MetricValue::Summary::_quantiles (transformer.rs:452-455,:485) but
    leaves the detailed emit as a documented TODO (:160, :611
    "quantiles handled separately if detailed metrics enabled") — the
    field shape here completes that intent; the default emit stays
    byte-compatible with the reference's.

    include_dimensions / exclude_dimensions wildcard-filter the
    Dimensions directive keys at emit time (dim_filter.rs:28-55
    applied at transformer.rs:539-549); label fields stay in the
    document — only the directive's key list shrinks.

    Output: one row per (namespace, dims, timestamp, type) group with
    `emf_json` plus the group keys for joining/verification."""
    dps = events_to_typed_datapoints(events)
    g = dps.groupBy(
        "namespace", "service", "event_type", "ts_minute_nano",
        "metric_type",
    ).agg(
        F.first("metric_name").alias("metric_name"),
        F.max("dp_count").alias("_n"),
        F.max("dp_sum").alias("_sum"),
        F.min("dp_min").alias("_min"),
        F.max("dp_max").alias("_max"),
        F.first("dp_quantiles").alias("_quantiles"),
    )
    envelope = F.struct(
        (F.col("ts_minute_nano") / 1000000).cast("long").alias("Timestamp"),
        F.array(
            F.struct(
                F.col("namespace").alias("Namespace"),
                # sorted dimension key set (transformer.rs:540-549),
                # wildcard-filtered when a dim filter is configured
                F.array(
                    filter_dimensions(
                        F.array(F.lit("event_type"), F.lit("service")),
                        include_dimensions or [],
                        exclude_dimensions or [],
                    )
                ).alias("Dimensions"),
                F.array(
                    F.struct(
                        F.col("metric_name").alias("Name"),
                        F.lit("Count").alias("Unit"),
                        F.lit(60).alias("StorageResolution"),
                    )
                ).alias("Metrics"),
            )
        ).alias("CloudWatchMetrics"),
    )

    def body(obj_json):
        # strip the outer braces of a to_json object so fragments
        # compose; contents stay to_json-escaped
        return F.regexp_replace(obj_json, r"^\{|\}$", "")

    labels = body(
        F.to_json(
            F.create_map(
                F.lit("event_type"), F.col("event_type"),
                F.lit("service"), F.col("service"),
            )
        )
    )
    stat_set = F.struct(
        F.col("_n").alias("Count"),
        F.col("_sum").alias("Sum"),
        F.col("_min").alias("Min"),
        F.col("_max").alias("Max"),
    )
    plain_field = body(
        F.to_json(
            F.map_from_arrays(
                F.array("metric_name"), F.array(F.col("_sum"))
            )
        )
    )
    stat_field = body(
        F.to_json(
            F.map_from_arrays(F.array("metric_name"), F.array(stat_set))
        )
    )
    summary_fields = F.concat_ws(
        ",",
        body(
            F.to_json(
                F.map_from_arrays(
                    F.array(F.concat(F.col("metric_name"), F.lit("_count"))),
                    F.array(F.col("_n")),
                )
            )
        ),
        body(
            F.to_json(
                F.map_from_arrays(
                    F.array(F.concat(F.col("metric_name"), F.lit("_sum"))),
                    F.array(F.col("_sum")),
                )
            )
        ),
    )
    if detailed_metrics:
        # one `{name}_{quantile}` field per quantile pair, riding
        # to_json like every other dynamic-key fragment
        quantile_fields = body(
            F.to_json(
                F.map_from_arrays(
                    F.transform(
                        F.col("_quantiles"),
                        lambda e: F.concat(
                            F.col("metric_name"),
                            F.lit("_"),
                            e["q"].cast("string"),
                        ),
                    ),
                    F.transform(F.col("_quantiles"), lambda e: e["v"]),
                )
            )
        )
        summary_fields = F.when(
            F.size("_quantiles") > 0,
            F.concat_ws(",", summary_fields, quantile_fields),
        ).otherwise(summary_fields)
    value_fragment = (
        F.when(F.col("metric_type").isin("gauge", "sum"), plain_field)
        .when(F.col("metric_type") == "summary", summary_fields)
        .otherwise(stat_field)
    )
    doc = F.concat(
        F.lit('{"_aws":'),
        F.to_json(envelope),
        F.lit(","),
        labels,
        F.lit(","),
        value_fragment,
        F.lit("}"),
    )
    return g.select(
        "namespace", "service", "event_type", "ts_minute_nano",
        "metric_type", "metric_name", doc.alias("emf_json"),
    )


def emf_group_datapoints(dps: DataFrame) -> DataFrame:
    """AWS EMF grouping on the real metric shape: one EMF log per
    (namespace, dimension set, timestamp) group holding every metric
    that shares them (src/exporters/awsemf/transformer.rs:46-75,
    group key :360). groupBy + collect into the EMF measurement list;
    partial aggregation combines map-side.

    n_metrics: the EMF dimension set includes event_type and
    events_to_datapoints derives metric_name purely from event_type,
    so every group holds exactly one metric name (the invariant
    tests/test_telemetry.py::test_emf_grouping_counts pins). The
    distinct count is therefore presence (count(metric_name) > 0 →
    1). A literal count_distinct planned as a second full shuffle:
    partial agg keyed by (group keys, metric_name) → Exchange → merge
    → partial distinct → Exchange — and minute-bucketed groups are
    ~unique per event, so BOTH shuffles carried ~every input row
    (measured 1.5 s at 1M events; one-Exchange form ~0.8 s). Restore
    count_distinct if datapoints ever carry several metric names per
    (namespace, service, event_type, ts) group."""
    return (
        dps.groupBy("namespace", "service", "event_type", "ts_minute_nano")
        .agg(
            F.count(F.lit(1)).alias("n_datapoints"),
            (F.count("metric_name") > 0).cast("long").alias("n_metrics"),
            F.round(F.sum("value"), 6).alias("sum_value_r"),
            F.round(F.max("value"), 6).alias("max_value_r"),
        )
    )


def emf_group_events(events: DataFrame) -> DataFrame:
    """Fused events → EMF groups: the events_to_datapoints ∘
    emf_group_datapoints composition with the string dimension build
    HOISTED PAST the aggregate (guide §2.3 "shuffle fewer bytes" /
    narrower types).

    The generic composition manufactures `service` ('svc-' ||
    user_id%4) and `metric_name` ('events.' || event_type || '.value')
    per INPUT row only for them to act as group keys; both are
    injective in (user_id%4, event_type), so grouping by the narrow
    (event_type, user_id%4 int, minute) key and concat-ing the strings
    on the ~unique GROUP rows yields byte-identical output while the
    shuffle carries an int in place of the service string and no
    metric_name at all (measured at 10M events: 1.67 s → 1.16 s;
    result-set equality checked row-for-row, and n_metrics uses
    count(event_type), which is 0/1 exactly when count(metric_name)
    is — concat propagates NULL). Same EMF group rule as
    emf_group_datapoints (awsemf transformer.rs:46-75); that operator
    stays the general entry for pre-built datapoint rows."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    agg = (
        events.select(
            F.col("event_type"),
            (F.col("user_id") % 4).cast("int").alias("_svc_k"),
            ((us - us % 60000000) * 1000).alias("ts_minute_nano"),
            F.col("value"),
        )
        .groupBy("event_type", "_svc_k", "ts_minute_nano")
        .agg(
            F.count(F.lit(1)).alias("n_datapoints"),
            (F.count("event_type") > 0).cast("long").alias("n_metrics"),
            F.round(F.sum("value"), 6).alias("sum_value_r"),
            F.round(F.max("value"), 6).alias("max_value_r"),
        )
    )
    return agg.select(
        F.lit("rotel/events").alias("namespace"),
        F.concat(F.lit("svc-"), F.col("_svc_k").cast("string")).alias(
            "service"
        ),
        "event_type",
        "ts_minute_nano",
        "n_datapoints",
        "n_metrics",
        "sum_value_r",
        "max_value_r",
    )


# ---------------------------------------------------------------------------
# Cumulative → delta conversion (the EMF exporter's DeltaCalculator)
# ---------------------------------------------------------------------------

def cumulative_to_delta(
    dps: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts_minute_nano",
    value_col: str = "value",
    count_col: str | None = None,
    retain_initial_value: bool = False,
    expiry_ns: int = 300 * 10**9,
    out_col: str = "delta",
) -> DataFrame:
    """Cumulative-temporality datapoints → deltas, per metric series.

    Mirrors awsemf/transformer.rs DeltaCalculator (:804-845) and
    SummaryDeltaCalculator (:853-916):

      * first point of a series: emitted as its raw value only when
        retain_initial_value (config
        retain_initial_value_of_delta_metric), else dropped
        (:837-843); summary mode computes the entry either way but the
        same retained flag gates emission (:903-909).
      * subsequent points: delta = value - prev; a NEGATIVE delta
        means the counter reset, and the current value is emitted
        as-is (:820-828). Summary deltas are plain sum/count diffs
        with no reset clamp (:878-896).
      * cache entries older than 5 minutes expire (:807-813), making
        the next point "first" again. The reference expires on
        wall-clock age; the deterministic batch analog is the
        EVENT-TIME gap to the previous point exceeding expiry_ns.

    Spark plan: one shuffle on the series key (lag window). State per
    series is a single previous row, so at 100 TB this partitions by
    series cardinality and never materializes more than the sorted
    per-series slice; skewed series don't exist by construction (one
    row per timestamp per series).

    count_col switches summary mode: value_col/count_col are the
    cumulative sum/count pair and both are delta'd (out_col and
    f"{out_col}_count"). Output keeps all input columns, adds the
    delta column(s) plus `is_initial`, and drops non-emitted rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    prev_v = F.lag(value_col).over(w)
    prev_ts = F.lag(ts_col).over(w)
    first = prev_v.isNull() | (
        (F.col(ts_col) - prev_ts) > F.lit(expiry_ns)
    )
    if count_col is None:
        diff = F.col(value_col) - prev_v
        delta = (
            F.when(first, F.col(value_col))
            .when(diff >= 0, diff)
            .otherwise(F.col(value_col))  # reset → current value
        )
        out = dps.withColumn(out_col, delta)
    else:
        prev_c = F.lag(count_col).over(w)
        out = dps.withColumn(
            out_col,
            F.when(first, F.col(value_col)).otherwise(
                F.col(value_col) - prev_v
            ),
        ).withColumn(
            f"{out_col}_count",
            F.when(first, F.col(count_col)).otherwise(
                F.col(count_col) - prev_c
            ),
        )
    out = out.withColumn("is_initial", first)
    if not retain_initial_value:
        out = out.filter(~F.col("is_initial"))
    return out


# ---------------------------------------------------------------------------
# EMF dimension filtering (awsemf/dim_filter.rs)
# ---------------------------------------------------------------------------

def wildcard_regex(pattern: str) -> str:
    """Compile one dimension wildcard to an anchored regex string.

    Mirrors dim_filter.rs:60-67 (`new_wildcard`): `*` is the only
    metasymbol (matches any span, including empty), `?` is disabled,
    there is no escape character, and matching is case-sensitive over
    the whole dimension name. `(?s)` + `\\z` anchoring matches the
    reference's full-byte-string semantics for names containing
    newlines: `*` spans a `\\n` and `$` cannot accept a trailing
    newline the reference would reject (r5 ADVICE #1).
    """
    import re as _re

    return (
        "(?s)^" + ".*".join(_re.escape(p) for p in pattern.split("*")) + "\\z"
    )


def dim_filter_condition(key, includes: list[str], excludes: list[str]):
    """Boolean Column: should dimension name `key` be kept?

    The reference's two-gate rule (dim_filter.rs:28-55
    `should_include`): with a non-empty include list the name must
    match at least one include pattern; with a non-empty exclude list
    it must match none — exclusion wins over inclusion. Empty lists
    are permissive. Pure JVM `rlike` alternation, no Python UDF.
    """
    if isinstance(key, str):
        key = F.col(key)
    cond = F.lit(True)
    if includes:
        inc = "|".join(f"(?:{wildcard_regex(p)})" for p in includes)
        cond = cond & key.rlike(inc)
    if excludes:
        exc = "|".join(f"(?:{wildcard_regex(p)})" for p in excludes)
        cond = cond & ~key.rlike(exc)
    # NULL names drop uniformly whether or not any list is configured
    # (rlike(NULL) is NULL → previously dropped only when a list was
    # non-empty; the reference never sees null names — r5 ADVICE #4)
    return F.coalesce(cond, F.lit(False))


def filter_dimensions(
    keys, includes: list[str], excludes: list[str]
):
    """Filter + sort an array column of dimension names.

    The emit site (awsemf/transformer.rs:539-549) filters the grouped
    metric's label keys through the DimensionFilter, then sorts the
    survivors for stable log lines; label VALUES are untouched — only
    the CloudWatchMetrics Dimensions directive shrinks.
    """
    if isinstance(keys, str):
        keys = F.col(keys)
    return F.sort_array(
        F.filter(keys, lambda k: dim_filter_condition(k, includes, excludes))
    )
