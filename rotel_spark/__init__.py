"""rotel_spark — a from-scratch PySpark-native log-pipeline engine.

Re-expresses the receive → parse → process → route → export semantics of
streamfold/rotel (reference at /root/reference, Rust) as an idiomatic
Spark DataFrame/Catalyst pipeline over Common-Crawl-style web-page tables
(url, warc_ts, html, text, lang).

Design (see SURVEY.md):
  * one row = one flat OTLP-shaped log record (ClickHouse LogRecordRow
    shape, reference src/exporters/clickhouse/schema.rs:91-117)
  * stages are pure ``DataFrame -> DataFrame`` functions, chained in
    declared order (reference src/topology/processors.rs:561-573)
  * parsing is JVM-side regexp expressions on the hot path, with a
    vectorized pandas-UDF grok engine for arbitrary user patterns
  * fan-out = one partitioned write job for every sink, each row
    tagged with the sinks whose predicate it matches (reference
    src/topology/fanout.rs:144-153 sends each batch to every exporter)
  * lineage/checkpoint table replaces per-row acks (reference
    src/receivers/file/offset_tracker.rs:50-63 min-pending-offset)
"""

__version__ = "0.1.0"
