"""Fixture invariants: determinism, the byte-identical text invariant,
and reference-corpus parse expectations (nginx.rs sample semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rotel_spark.fixtures import (
    extract_log_line,
    extract_text,
    load_pages,
    load_pages_full,
)


def test_pages_deterministic(spark, sf_unit):
    a = load_pages(spark, sf_unit, reps=4).orderBy("page_id").collect()
    b = load_pages(spark, sf_unit, reps=4).orderBy("page_id").collect()
    assert a == b
    assert len(a) == 500 * 4


def test_html_roundtrip_byte_identical(spark, sf_unit):
    """input_hint invariant: extract_text(html) == text per url, byte-
    identical, including rows with appended invalid-utf8 bytes."""
    df = extract_text(load_pages_full(spark, sf_unit, reps=4))
    bad = df.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0
    # invalid-utf8 rows exist and still round-trip
    n_edge = df.filter(F.col("page_id") % 97 == 0).count()
    assert n_edge > 0


def test_log_line_roundtrip(spark, sf_unit):
    df = extract_log_line(load_pages_full(spark, sf_unit, reps=4))
    bad = df.filter(F.col("raw_line") != F.col("log_line")).count()
    assert bad == 0


def test_reference_sample_line_parses(spark):
    """The reference's own sample line (nginx.rs:263) must parse with
    the expected values, incl. the exact nanos from nginx.rs:563-564."""
    from rotel_spark.parsers.nginx import parse_combined

    line = (
        '192.168.1.1 - - [17/Dec/2025:10:15:32 +0000] '
        '"GET /api/users HTTP/1.1" 200 1234 "-" "curl/7.68.0"'
    )
    df = spark.createDataFrame([(line,)], "raw_line string")
    row = parse_combined(df).collect()[0]
    assert row.remote_addr == "192.168.1.1"
    assert row.remote_user == "-"
    assert row.status == 200
    assert row.body_bytes_sent == 1234
    assert row.http_user_agent == "curl/7.68.0"
    assert row.method == "GET"
    assert row.http_path == "/api/users"
    assert row.time_unix_nano == 1765966532_000_000_000
    assert row.severity_number == 9 and row.severity_text == "INFO"


def test_reference_error_line_parses(spark):
    from rotel_spark.parsers.nginx import parse_error_log

    line = (
        "2025/12/17 10:15:32 [error] 1234#5678: *90 upstream timed out"
    )
    df = spark.createDataFrame([(line,)], "raw_line string")
    row = parse_error_log(df).collect()[0]
    assert row.level == "error"
    assert row.pid == 1234 and row.tid == 5678 and row.cid == 90
    assert row.err_message == "upstream timed out"
    assert row.severity_number == 17 and row.severity_text == "ERROR"
    assert row.time_unix_nano == 1765966532_000_000_000


def test_kmsg_reference_example(spark):
    """`6,1234,567890123456;eth0: link up` (kmsg parser.rs:15) →
    severity Info→9 per parser.rs:155-166."""
    from rotel_spark.parsers.kmsg import parse_kmsg

    df = spark.createDataFrame(
        [("6,1234,567890123456;eth0: link up",)], "raw_line string"
    )
    row = parse_kmsg(df).collect()[0]
    assert row.priority == 6
    assert row.facility == 0
    assert row.seq == 1234
    assert row.kmsg_message == "eth0: link up"
    assert row.severity_number == 9 and row.severity_text == "INFO"


def test_garbage_lines_dropped_not_fatal(spark, sf_unit):
    """receiver.rs:832-836: parse errors skip the line; count parity on
    the dropped fraction (fmt=9 is 1/20 of rows)."""
    from rotel_spark.operators.filters import drop_unparsed
    from rotel_spark.parsers.auto import parse_auto

    pages = load_pages(spark, sf_unit, reps=4).withColumn(
        "raw_line", F.col("log_line")
    )
    parsed = parse_auto(pages)
    total = parsed.count()
    kept = drop_unparsed(parsed).count()
    garbage = pages.filter(F.col("fmt") == 9).count()
    assert total - kept == garbage


def test_pages_cache_path_tracks_generator(monkeypatch):
    """The materialized-pages path changes with the generator's SQL and
    is stable otherwise, so a stale table is never served."""
    import rotel_spark.fixtures as fx

    path = fx.pages_cache_path("/cache", "/data/sf0.1/", 20)
    assert path == fx.pages_cache_path("/cache", "/data/sf0.1", 20)
    assert path.startswith("/cache/pages_sf0.1_x20_")
    tail = fx.pages_tail_clause
    monkeypatch.setattr(
        fx, "pages_tail_clause", lambda: tail().replace("% 23", "% 29")
    )
    assert fx.pages_cache_path("/cache", "/data/sf0.1", 20) != path


def test_scan_cache_holds_one_session(spark, tmp_path):
    """The scan cache reuses a plan within a session and keeps no entry
    of a session once another one looks up a scan."""
    import rotel_spark.fixtures as fx

    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    first = fx.scan_parquet(spark, path)
    assert fx.scan_parquet(spark, path) is first
    other = spark.newSession()
    second = fx.scan_parquet(other, path)
    assert second is not first and second.sparkSession is other
    session, scans = fx._SCANS
    assert session is other
    assert [df.sparkSession for df in scans.values()] == [other]
