"""Traces/metrics telemetry branches + typed AnyValue flatten."""

from __future__ import annotations

from pyspark.sql import functions as F

from rotel_spark.functions.anyvalue import (
    coerce_scalar,
    flatten_attrs_obj,
    flatten_typed_attrs,
    typed_attrs_map,
)
from rotel_spark.telemetry import (
    emf_group_datapoints,
    events_to_datapoints,
    events_to_spans,
    spans_to_resource_tree,
)


def _events(spark, sf_unit):
    return spark.read.parquet(f"{sf_unit}/events.parquet")


def test_spans_shape_and_trace_grouping(spark, sf_unit):
    spans = events_to_spans(_events(spark, sf_unit))
    r = spans.first()
    assert len(r.trace_id) == 32 and len(r.span_id) == 16
    # every non-root span's parent is its trace's root span id
    bad = spans.filter(
        (F.col("parent_span_id") != "")
        & (F.col("parent_span_id") != F.substring("trace_id", 1, 16))
    ).count()
    assert bad == 0
    # durations are non-negative and end >= start
    assert (
        spans.filter(
            F.col("end_time_unix_nano") < F.col("start_time_unix_nano")
        ).count()
        == 0
    )


def test_span_tree_leaf_count_parity(spark, sf_unit):
    """batch_resources.rs:126-130 — leaf count (spans) is conserved by
    the tree round trip and no chunk exceeds the max."""
    spans = events_to_spans(_events(spark, sf_unit))
    tree = spans_to_resource_tree(spans, max_spans_per_resource=100)
    n_leaves = tree.select(F.sum(F.size("spans"))).collect()[0][0]
    assert n_leaves == spans.count()
    assert tree.filter(F.size("spans") > 100).count() == 0


def test_emf_grouping_counts(spark, sf_unit):
    dps = events_to_datapoints(_events(spark, sf_unit))
    emf = emf_group_datapoints(dps)
    assert (
        emf.select(F.sum("n_datapoints")).collect()[0][0] == dps.count()
    )
    # a group has exactly one metric name (dims include event_type)
    assert emf.filter(F.col("n_metrics") != 1).count() == 0


def test_spans_and_datapoints_one_row_per_event(spark, sf_unit):
    events = _events(spark, sf_unit)
    n_events = events.count()
    assert events_to_spans(events).count() == n_events
    assert events_to_datapoints(events).count() == n_events


def test_coerce_scalar_reference_rules():
    """cvattr.rs:30-42: int stays int-rendered, double JSON repr, bool
    → string, bytes → hex, array/kvlist → JSON string."""
    assert coerce_scalar(5) == ("int", "5")
    assert coerce_scalar(0.25) == ("double", "0.25")
    assert coerce_scalar(True) == ("string", "true")
    assert coerce_scalar("x") == ("string", "x")
    assert coerce_scalar(b"\xca\xfe") == ("string", "cafe")
    assert coerce_scalar([1, "a"]) == ("string", '[1,"a"]')
    assert coerce_scalar(None) is None


def test_flatten_dotted_keys_and_depth_bound():
    obj = {
        "a": {"b": {"c": {"d": 1}}},
        "x": 7,
        "skip": None,
    }
    flat = dict(
        (k, (t, v)) for k, t, v in flatten_attrs_obj(obj, max_depth=3)
    )
    assert flat["x"] == ("int", "7")
    # depth bound: a.b.c stringifies its remaining subtree
    assert flat["a.b.c"] == ("string", '{"d":1}')
    assert "skip" not in flat
    deep = dict(
        (k, (t, v)) for k, t, v in flatten_attrs_obj(obj, max_depth=10)
    )
    assert deep["a.b.c.d"] == ("int", "1")


def test_flatten_typed_attrs_df_and_map(spark):
    df = spark.createDataFrame(
        [(1, '{"k": {"n": 2}, "s": "v"}'), (2, "not json"), (3, None)],
        "id int, j string",
    )
    out = flatten_typed_attrs(df, "j").withColumn(
        "m", typed_attrs_map(F.col("attr_entries"))
    )
    rows = {r.id: r for r in out.collect()}
    assert {e.key: e.value for e in rows[1].attr_entries} == {
        "k.n": "2",
        "s": "v",
    }
    assert rows[1].m == {"k.n": "2", "s": "v"}
    assert rows[2].attr_entries == [] and rows[3].attr_entries == []


def test_typed_datapoints_cover_all_five_variants(spark, sf_unit):
    """batch_resources.rs:61-77 sizes Gauge/Sum/Histogram/
    ExponentialHistogram/Summary alike — one leaf per datapoint row."""
    from rotel_spark.telemetry import (
        events_to_typed_datapoints,
        metrics_batch_sizing,
    )

    events = spark.read.parquet(f"{sf_unit}/events.parquet")
    dps = events_to_typed_datapoints(events)
    types = {r.metric_type for r in dps.select("metric_type").distinct().collect()}
    assert types == {
        "gauge", "sum", "histogram", "exponential_histogram", "summary"
    }
    sized = metrics_batch_sizing(dps, max_size=100).collect()
    for r in sized:
        total = (
            r.n_gauge + r.n_sum + r.n_histogram
            + r.n_exponential_histogram + r.n_summary
        )
        assert r.n_datapoints == total  # leaf count mixes all types
        assert r.n_batches == -(-total // 100)  # ceil split rule


def test_emf_document_envelope_and_per_type_shapes(spark, sf_unit):
    """transformer.rs:560-618: _aws.CloudWatchMetrics envelope with
    Namespace, sorted Dimensions, Metrics directives; labels at top
    level; value shape per metric type — plain number for gauge/sum,
    {Count,Sum,Min,Max} stat set for the histogram family,
    name_count/name_sum suffix fields for summary."""
    import json

    from rotel_spark.telemetry import emf_documents

    events = spark.read.parquet(f"{sf_unit}/events.parquet")
    docs = emf_documents(events)
    by_type = {
        t: docs.filter(docs.metric_type == t).limit(1).collect()[0]
        for t in ("gauge", "sum", "histogram", "exponential_histogram",
                  "summary")
    }
    for mtype, row in by_type.items():
        doc = json.loads(row.emf_json)
        cw = doc["_aws"]["CloudWatchMetrics"][0]
        assert cw["Namespace"] == "rotel/events"
        assert cw["Dimensions"] == [["event_type", "service"]]
        m = cw["Metrics"][0]
        assert m["Unit"] == "Count" and m["StorageResolution"] == 60
        assert m["Name"] == row.metric_name
        assert doc["service"] == row.service  # label field
        assert doc["_aws"]["Timestamp"] == row.ts_minute_nano // 1_000_000
        if mtype in ("gauge", "sum"):
            # plain JSON number (transformer.rs:582-588)
            assert isinstance(doc[row.metric_name], float)
        elif mtype == "summary":
            # suffix fields; directive keeps the base name
            # (transformer.rs:606-613)
            assert row.metric_name not in doc
            assert isinstance(doc[f"{row.metric_name}_count"], int)
            assert isinstance(doc[f"{row.metric_name}_sum"], float)
        else:
            stat = doc[row.metric_name]
            assert set(stat) == {"Count", "Sum", "Min", "Max"}


def test_emf_document_escapes_hostile_names(spark):
    """Dynamic keys/values ride through to_json — a metric name or
    label containing quotes/backslashes must yield a still-valid
    document (the string-concat assembly this replaces corrupted
    it silently)."""
    import json

    events = spark.createDataFrame(
        [(0, '2024-01-01 00:00:00', 7, 'we"ird\\type', 1.5, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    from rotel_spark.telemetry import emf_documents

    for row in emf_documents(events).collect():
        doc = json.loads(row.emf_json)  # must parse
        assert doc["event_type"] == 'we"ird\\type'


def test_cumulative_to_delta_rules(spark):
    """DeltaCalculator semantics (awsemf/transformer.rs:804-845):
    initial point gated by retain_initial_value, positive deltas
    emitted as diffs, NEGATIVE delta = counter reset -> current value,
    expiry gap makes the next point initial again."""
    from rotel_spark.telemetry import cumulative_to_delta

    M = 60 * 10**9  # one minute in ns
    rows = [
        # series a: 10, 25, 15 (reset -> emit 15), 18
        ("a", 0 * M, 10.0),
        ("a", 1 * M, 25.0),
        ("a", 2 * M, 15.0),
        ("a", 3 * M, 18.0),
        # series b: 5, then a >5min gap -> 7 is initial again, 9
        ("b", 0 * M, 5.0),
        ("b", 7 * M, 7.0),
        ("b", 8 * M, 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    out = cumulative_to_delta(
        df, ["k"], ts_col="ts", value_col="v",
        retain_initial_value=False, out_col="d",
    )
    got = {(r.k, r.ts // M): (r.d, r.is_initial) for r in out.collect()}
    assert got == {
        ("a", 1): (15.0, False),
        ("a", 2): (15.0, False),  # reset -> current value
        ("a", 3): (3.0, False),
        ("b", 8): (2.0, False),   # b@7 was initial (expired), dropped
    }

    retained = cumulative_to_delta(
        df, ["k"], ts_col="ts", value_col="v",
        retain_initial_value=True, out_col="d",
    )
    got2 = {(r.k, r.ts // M): (r.d, r.is_initial) for r in retained.collect()}
    assert got2[("a", 0)] == (10.0, True)
    assert got2[("b", 0)] == (5.0, True)
    assert got2[("b", 7)] == (7.0, True)  # expired -> initial, raw value
    assert len(got2) == 7


def test_summary_delta_no_reset_clamp(spark):
    """SummaryDeltaCalculator (:853-916): sum/count plain diffs, a
    DECREASE stays a negative delta (no reset rule for summaries)."""
    from rotel_spark.telemetry import cumulative_to_delta

    M = 60 * 10**9
    rows = [
        ("s", 0 * M, 100.0, 10),
        ("s", 1 * M, 150.0, 14),
        ("s", 2 * M, 120.0, 16),  # sum decreased: delta stays -30
    ]
    df = spark.createDataFrame(rows, "k string, ts long, s double, n long")
    out = cumulative_to_delta(
        df, ["k"], ts_col="ts", value_col="s", count_col="n",
        retain_initial_value=True, out_col="d",
    )
    got = {r.ts // M: (r.d, r.d_count, r.is_initial) for r in out.collect()}
    assert got == {
        0: (100.0, 10, True),
        1: (50.0, 4, False),
        2: (-30.0, 2, False),
    }


def test_emf_detailed_quantile_fields(spark, sf_unit):
    """detailed_metrics=True: summary docs gain {name}_{q} fields;
    default mode emits none (reference-shape compatible)."""
    import json

    from rotel_spark.telemetry import emf_documents

    events = spark.read.parquet(f"{sf_unit}/events.parquet")
    detailed = (
        emf_documents(events, detailed_metrics=True)
        .filter(F.col("metric_type") == "summary")
        .limit(3)
        .collect()
    )
    for r in detailed:
        doc = json.loads(r.emf_json)  # stays well-formed JSON
        assert f"{r.metric_name}_0.5" in doc
        assert f"{r.metric_name}_0.99" in doc
        assert f"{r.metric_name}_count" in doc
    default = (
        emf_documents(events)
        .filter(F.col("metric_type") == "summary")
        .limit(3)
        .collect()
    )
    for r in default:
        doc = json.loads(r.emf_json)
        assert f"{r.metric_name}_0.5" not in doc
        assert f"{r.metric_name}_count" in doc


# ---------------------------------------------------------------------------
# EMF dimension filter (awsemf/dim_filter.rs tests, mirrored 1:1)
# ---------------------------------------------------------------------------


def _keep(spark, includes, excludes, names):
    """Run dim_filter_condition over literal names; return kept set."""
    from rotel_spark.telemetry import dim_filter_condition

    df = spark.createDataFrame([(n,) for n in names], ["k"])
    rows = df.filter(dim_filter_condition("k", includes, excludes)).collect()
    return {r.k for r in rows}


def test_dim_filter_no_filters_allows_all(spark):
    # dim_filter.rs test_no_filters_allows_all
    names = ["service.name", "http.method"]
    assert _keep(spark, [], [], names) == set(names)


def test_dim_filter_include_exact_match(spark):
    # dim_filter.rs test_include_exact_match
    kept = _keep(
        spark,
        ["service.name", "http.method"],
        [],
        ["service.name", "http.method", "other.dimension", "service.version"],
    )
    assert kept == {"service.name", "http.method"}


def test_dim_filter_include_wildcard_patterns(spark):
    # dim_filter.rs test_include_wildcard_patterns
    kept = _keep(
        spark,
        ["service.*", "http.*"],
        [],
        [
            "service.name", "service.version", "http.method",
            "http.status_code", "other.dimension", "db.connection",
        ],
    )
    assert kept == {
        "service.name", "service.version", "http.method", "http.status_code",
    }


def test_dim_filter_exclude_exact_and_wildcard(spark):
    # dim_filter.rs test_exclude_exact_match + test_exclude_wildcard_patterns
    kept = _keep(
        spark,
        [],
        ["service.name", "http.method"],
        ["service.name", "http.method", "other.dimension", "service.version"],
    )
    assert kept == {"other.dimension", "service.version"}
    kept = _keep(
        spark,
        [],
        ["service.*", "http.*"],
        [
            "service.name", "service.version", "http.method",
            "http.status_code", "other.dimension", "db.connection",
        ],
    )
    assert kept == {"other.dimension", "db.connection"}


def test_dim_filter_include_and_exclude_combined(spark):
    # dim_filter.rs test_include_and_exclude_combined (+ wildcard variant):
    # exclusion wins over inclusion
    kept = _keep(
        spark,
        ["service.*"],
        ["service.internal"],
        [
            "service.name", "service.version", "service.internal",
            "http.method", "other.dimension",
        ],
    )
    assert kept == {"service.name", "service.version"}
    kept = _keep(
        spark,
        ["*"],
        ["internal.*", "debug.*"],
        [
            "service.name", "http.method", "internal.metric",
            "debug.info", "internal.counter",
        ],
    )
    assert kept == {"service.name", "http.method"}


def test_dim_filter_partial_wildcard_and_case_sensitivity(spark):
    # dim_filter.rs test_partial_wildcard_patterns + test_case_sensitive
    kept = _keep(
        spark,
        ["*_total", "cpu_*"],
        [],
        [
            "requests_total", "errors_total", "cpu_usage", "cpu_percent",
            "requests_count", "memory_usage",
        ],
    )
    assert kept == {
        "requests_total", "errors_total", "cpu_usage", "cpu_percent",
    }
    kept = _keep(
        spark, ["Service.*"], [],
        ["Service.Name", "service.name", "SERVICE.NAME"],
    )
    assert kept == {"Service.Name"}


def test_dim_filter_regex_metachars_are_literal(spark):
    # '.' in patterns must match only a literal dot ('*' is the ONLY
    # metasymbol — dim_filter.rs:60-67 disables '?' and escapes)
    kept = _keep(spark, ["service.name"], [], ["service.name", "serviceXname"])
    assert kept == {"service.name"}
    kept = _keep(spark, ["a+b*"], [], ["a+b.c", "aab.c", "a+b"])
    assert kept == {"a+b.c", "a+b"}


def test_emf_document_dimension_filter(spark, sf_unit):
    # emit-site wiring (transformer.rs:539-549): the Dimensions
    # directive shrinks; label fields stay in the document
    from rotel_spark.telemetry import emf_documents

    events = spark.read.parquet(f"{sf_unit}/events.parquet")
    docs = emf_documents(
        events, include_dimensions=["service", "event_*"],
        exclude_dimensions=["event_type"],
    ).limit(5).collect()
    assert docs
    for r in docs:
        assert '"Dimensions":[["service"]]' in r.emf_json
        assert '"event_type":' in r.emf_json  # label field survives


def test_emf_group_events_matches_generic_composition(spark, sf_unit):
    """The fused events→EMF-groups operator must be row-identical to
    emf_group_datapoints(events_to_datapoints(events)), including on a
    NULL event_type row (where metric_name concat propagates NULL and
    n_metrics must be 0)."""
    from rotel_spark.telemetry import emf_group_events

    ev = _events(spark, sf_unit)
    null_row = ev.limit(1).withColumn(
        "event_type", F.lit(None).cast("string")
    )
    ev = ev.unionByName(null_row)
    generic = emf_group_datapoints(events_to_datapoints(ev))
    fused = emf_group_events(ev)
    cols = generic.columns
    assert fused.columns == cols
    a = sorted(map(tuple, generic.collect()), key=repr)
    b = sorted(map(tuple, fused.select(*cols).collect()), key=repr)
    assert a == b
