"""Deterministic synthetic `pages` table (Common-Crawl shape) + lookups.

The north-rule input is an Iceberg table of web pages
``(url string, warc_ts timestamp, html binary, text string, lang string)``
whose text embeds log lines (FIXTURES.md §1). There is no external data,
so the table is *derived deterministically* from the driver-provided
``documents`` parquet via pure integer/string arithmetic.

Crucially the derivation is written in **dialect-portable SQL** — the
exact same text parses and evaluates identically in Spark SQL and
DuckDB. The driver's correctness gate runs our Spark query against a
DuckDB oracle on the same parquet; by sharing the generation CTE and
*independently deriving* expected values (oracle computes timestamps by
arithmetic; the pipeline parses them back out of the log line with
regex), a match is a real end-to-end parity check.

Reference precedent for a seeded synthetic generator:
/root/reference/src/bin/generate-otlp/main.rs:25-50 and
utilities/src/otlp.rs:48-113 (FakeOTLP). Log-line formats mirror the
reference parser test corpus:
  * nginx combined — src/receivers/file/parser/nginx.rs:53 (pattern),
    :263-268 (sample lines), time format %d/%b/%Y:%H:%M:%S %z (:40)
  * nginx error   — nginx.rs:64, samples :272-278
  * JSON access   — nginx.rs:588-591
  * kmsg          — src/receivers/kmsg/parser.rs:5-17
  * garbage lines — dropped-not-fatal, receiver.rs:832-836

Portability rules used throughout (verified against duckdb 1.0 +
Spark 4.1): ``||`` concat, ``CAST(x AS STRING)``, ``%`` on BIGINT,
``lpad``, ``md5``, ``CASE``, ``UNION ALL``. No division, no
hash()/strftime()/date functions (they differ across dialects).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# epoch seconds of 2025-12-01 00:00:00 UTC — base for embedded log times
BASE_EPOCH = 1764547200

# default replication factor: pages rows = documents rows * REPS
DEFAULT_REPS = 20


def _union_ints(n: int, col: str) -> str:
    """``SELECT 0 AS col UNION ALL SELECT 1 ...`` — portable N-row table."""
    parts = [f"SELECT 0 AS {col}"] + [f"SELECT {i}" for i in range(1, n)]
    return " UNION ALL ".join(parts)


def pages_with_clause(reps: int = DEFAULT_REPS) -> str:
    """Body of a WITH-clause defining `pages` from `documents`.

    Use as ``f"WITH {pages_with_clause()} SELECT ... FROM pages"`` in
    BOTH Spark SQL and DuckDB. Columns:

      page_id BIGINT      - unique row id (doc_id * reps + rep)
      doc_id, rep, lang, text  - provenance from documents
      host, tld, domain, url   - Zipf-ish skewed (two hot hosts ~59%)
      fmt INT             - 0 combined | 1 error | 2 json | 3 kmsg | 9 garbage
      status INT          - http status (combined/json rows)
      level STRING        - nginx-error level (error rows)
      prio INT            - kmsg priority 0..7 (kmsg rows)
      ts_sec BIGINT       - embedded event time, epoch seconds (arithmetic
                            ground truth the parsers must reproduce)
      warc_ts_sec BIGINT  - crawl timestamp, epoch seconds
      log_line STRING     - the line embedded in the page text
    """
    return f"""
reps AS ({_union_ints(reps, "rep")}),
base AS (
  SELECT d.doc_id AS doc_id, r.rep AS rep, d.lang AS lang, d.text AS text,
         CAST(d.doc_id AS BIGINT) * {reps} + r.rep AS page_id
  FROM documents d CROSS JOIN reps r
),
{pages_tail_clause()}"""


def spark_fast_with_clause(reps: int) -> str:
    """Spark-only base using explode(sequence()) — identical rows to
    pages_with_clause but O(1) plan depth. The UNION-ALL reps chain
    nests the logical plan `reps` levels deep and blows the analyzer
    stack past ~500 (measured: reps=800 → JVM StackOverflow); oracles
    keep the portable form (reps ≤ 64), bulk/bench loads use this."""
    return f"""
base AS (
  SELECT doc_id, rep, lang, text,
         CAST(doc_id AS BIGINT) * {reps} + rep AS page_id
  FROM documents LATERAL VIEW explode(sequence(0, {reps} - 1)) t AS rep
),
{pages_tail_clause()}"""


def pages_tail_clause() -> str:
    """parts/stamped/pages CTEs over a `base` relation (shared by the
    portable and spark-fast variants — single source of truth for the
    derivation rules)."""
    return f"""parts AS (
  SELECT *,
    CASE WHEN page_id % 23 < 9 THEN 'cdn-hotmedia'
         WHEN page_id % 23 < 13 THEN 'www-bigshop'
         ELSE 'site' || CAST(page_id % 89 AS STRING) END AS host,
    CASE CAST(page_id % 7 AS INT)
         WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net'
         WHEN 3 THEN 'io' WHEN 4 THEN 'de' WHEN 5 THEN 'jp'
         ELSE 'dev' END AS tld,
    CASE WHEN page_id % 20 = 19 THEN 9
         WHEN page_id % 10 = 7 THEN 1
         WHEN page_id % 10 = 8 THEN 2
         WHEN page_id % 10 = 9 THEN 3
         ELSE 0 END AS fmt,
    CASE WHEN page_id % 20 = 0 THEN 500
         WHEN page_id % 20 = 1 THEN 503
         WHEN page_id % 20 IN (2, 3) THEN 404
         WHEN page_id % 20 = 4 THEN 403
         WHEN page_id % 20 IN (5, 6) THEN 301
         ELSE 200 END AS status,
    CASE CAST(page_id % 5 AS INT)
         WHEN 0 THEN 'error' WHEN 1 THEN 'warn' WHEN 2 THEN 'notice'
         WHEN 3 THEN 'error' ELSE 'crit' END AS level,
    CAST(page_id % 8 AS INT) AS prio,
    CASE CAST(page_id % 3 AS INT)
         WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'PUT' END AS method,
    '/api/v' || CAST(page_id % 3 AS STRING) || '/items/'
        || CAST(page_id % 50 AS STRING) AS path,
    CAST(page_id % 4096 + 128 AS BIGINT) AS bytes_sent,
    CASE CAST(page_id % 5 AS INT)
         WHEN 0 THEN 'alice' WHEN 1 THEN 'bob' ELSE '-' END AS remote_user,
    '10.' || CAST(page_id % 250 AS STRING) || '.'
        || CAST(page_id % 241 AS STRING) || '.'
        || CAST(page_id % 239 + 1 AS STRING) AS remote_addr,
    CASE CAST(page_id % 4 AS INT)
         WHEN 0 THEN 'curl/7.68.0' WHEN 1 THEN 'Mozilla/5.0'
         WHEN 2 THEN 'Googlebot/2.1' ELSE '-' END AS ua,
    CAST(page_id % 28 + 1 AS BIGINT) AS t_day,
    CAST(page_id % 24 AS BIGINT) AS t_hour,
    CAST(page_id % 59 AS BIGINT) AS t_min,
    CAST(page_id % 53 AS BIGINT) AS t_sec
  FROM base
),
stamped AS (
  SELECT *,
    lpad(CAST(t_day AS STRING), 2, '0') || '/Dec/2025:'
      || lpad(CAST(t_hour AS STRING), 2, '0') || ':'
      || lpad(CAST(t_min AS STRING), 2, '0') || ':'
      || lpad(CAST(t_sec AS STRING), 2, '0') AS time_local,
    {BASE_EPOCH} + (t_day - 1) * 86400 + t_hour * 3600
      + t_min * 60 + t_sec AS ts_sec,
    {BASE_EPOCH} + page_id % 2592000 AS warc_ts_sec
  FROM parts
),
pages AS (
  SELECT page_id, doc_id, rep, lang, text, host, tld,
         host || '.' || tld AS domain,
         'https://' || host || '.' || tld || '/p/' || CAST(doc_id AS STRING)
           || '/' || CAST(rep AS STRING) AS url,
         fmt, status, level, prio, ts_sec, warc_ts_sec, time_local,
    CASE fmt
      WHEN 0 THEN
        remote_addr || ' - ' || remote_user || ' [' || time_local
        || ' +0000] "' || method || ' ' || path || ' HTTP/1.1" '
        || CAST(status AS STRING) || ' ' || CAST(bytes_sent AS STRING)
        || ' "-" "' || ua || '"'
      WHEN 1 THEN
        '2025/12/' || lpad(CAST(t_day AS STRING), 2, '0') || ' '
        || lpad(CAST(t_hour AS STRING), 2, '0') || ':'
        || lpad(CAST(t_min AS STRING), 2, '0') || ':'
        || lpad(CAST(t_sec AS STRING), 2, '0')
        || ' [' || level || '] ' || CAST(page_id % 9999 + 1 AS STRING)
        || '#' || CAST(page_id % 97 AS STRING) || ': *'
        || CAST(page_id % 777 AS STRING) || ' upstream timed out while reading '
        || path
      WHEN 2 THEN
        '{{"remote_addr":"' || remote_addr || '","status":'
        || CAST(status AS STRING) || ',"request":"' || method || ' ' || path
        || '","time":' || CAST(ts_sec AS STRING)
        || ',"bytes":' || CAST(bytes_sent AS STRING) || '}}'
      WHEN 3 THEN
        CAST(prio AS STRING) || ',' || CAST(page_id % 100000 AS STRING) || ','
        || CAST(ts_sec * 1000000 AS STRING) || ';kernel: device event '
        || CAST(page_id % 13 AS STRING)
      ELSE '%%corrupt ' || md5(CAST(page_id AS STRING))
    END AS log_line
  FROM stamped
)"""


# ---------------------------------------------------------------------------
# static lookup tables (broadcast enrichment — reference precedent: Datadog
# static mapping tables, src/exporters/datadog/transform/otel_mapping/
# attributes.rs:11-76)
# ---------------------------------------------------------------------------

LANG_LOCALE_ROWS = [
    ("en", "en_US", "English (US)"),
    ("de", "de_DE", "German"),
    ("es", "es_ES", "Spanish"),
    ("fr", "fr_FR", "French"),
    ("zh", "zh_CN", "Chinese (Simplified)"),
    ("ja", "ja_JP", "Japanese"),
    ("pt", "pt_BR", "Portuguese (BR)"),
]

TLD_ROWS = [
    ("com", "generic", "global"),
    ("org", "generic", "global"),
    ("net", "generic", "global"),
    ("io", "generic", "global"),
    ("dev", "generic", "global"),
    ("de", "country", "eu"),
    ("jp", "country", "apac"),
]


def lang_locale_sql() -> str:
    """Portable inline table: lang, locale, locale_name."""
    rows = [
        f"SELECT '{lang}' AS lang, '{loc}' AS locale, '{name}' AS locale_name"
        for lang, loc, name in LANG_LOCALE_ROWS
    ]
    return " UNION ALL ".join(rows)


def tld_registry_sql() -> str:
    """Portable inline table: tld, tld_type, region."""
    rows = [
        f"SELECT '{t}' AS tld, '{ty}' AS tld_type, '{r}' AS region"
        for t, ty, r in TLD_ROWS
    ]
    return " UNION ALL ".join(rows)


# ---------------------------------------------------------------------------
# Spark-side loaders
# ---------------------------------------------------------------------------

def register_documents(
    spark: SparkSession, sf_dir: str, partitions: int | None = None
) -> None:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if partitions:
        # documents is a single small file (one scan task); fan the base
        # out BEFORE the row-multiplying explode or generation runs on
        # one core (measured: reps=3200 serial = 30+ min on one thread)
        df = df.repartition(partitions)
    df.createOrReplaceTempView("documents")


# (session, {path: DataFrame}): scan plans of the current session only
_SCANS: tuple = (None, {})


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reused per (session, path).

    Only for immutable inputs: re-creating a scan pays footer/schema
    re-inference plus py4j round trips on every query construction. No
    data is cached, only the unresolved plan object, like the
    expression caches in parsers.auto/nginx. The cache holds the scans
    of one session: the first lookup from another session drops them,
    so a stopped session is not kept alive by its plans."""
    global _SCANS
    if _SCANS[0] is not spark:
        _SCANS = (spark, {})
    scans = _SCANS[1]
    if path not in scans:
        scans[path] = spark.read.parquet(path)
    return scans[path]


def pages_cache_path(base: str, sf_dir: str, reps: int) -> str:
    """Canonical path of a materialized pages table under `base`.

    The name carries a digest of the generator (both WITH-clause
    variants and the html template), so a table written by an older
    generator is never read as the current one."""
    import hashlib
    import inspect

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    text = (pages_with_clause(reps) + spark_fast_with_clause(reps)
            + inspect.getsource(build_html))
    digest = hashlib.sha256(text.encode()).hexdigest()[:12]
    return f"{base}/pages_{tag}_x{reps}_{digest}"


def load_pages(
    spark: SparkSession, sf_dir: str, reps: int = DEFAULT_REPS
) -> DataFrame:
    """The `pages` table as a DataFrame (no html column — see build_html).

    If ROTEL_PAGES_CACHE_DIR is set and a materialized table for this
    (sf, reps) exists there, read it instead of regenerating — the
    bench uses this so per-query timings measure the operator, not
    fixture generation (the cached table is a column superset).

    reps > 64 switches to the explode-based base (identical rows; the
    UNION-ALL chain overflows the analyzer stack at large reps) and
    pre-spreads documents across cores so generation parallelizes."""
    import os

    cache_base = os.environ.get("ROTEL_PAGES_CACHE_DIR")
    if cache_base:
        p = pages_cache_path(cache_base, sf_dir, reps)
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            # a _SUCCESS-finalized dir is immutable (materialize_pages
            # never rewrites one)
            return scan_parquet(spark, p)
    fast = reps > 64
    register_documents(
        spark,
        sf_dir,
        partitions=spark.sparkContext.defaultParallelism * 2 if fast else None,
    )
    clause = spark_fast_with_clause(reps) if fast else pages_with_clause(reps)
    return spark.sql(f"WITH {clause} SELECT * FROM pages")


def build_html(df: DataFrame) -> DataFrame:
    """Add the `html` binary column wrapping text + log_line.

    Template is fixed so extract_text(html) can recover `text`
    byte-identically (input_hint invariant). A deterministic subset of
    rows gets trailing invalid-utf8 bytes appended *outside* the markers
    (FIXTURES.md: invalid-utf8 edge rows) — extraction must survive them.
    """
    from pyspark.sql import functions as F

    page = F.concat(
        F.lit("<html><head><title>p"),
        F.col("page_id").cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit("</p><!--log:"),
        F.col("log_line"),
        F.lit("--></body></html>"),
    )
    html = F.encode(page, "UTF-8")
    bad_tail = F.unhex(F.lit("FFFE80"))  # invalid utf-8 byte sequence
    return df.withColumn(
        "html",
        F.when(F.col("page_id") % 97 == 0, F.concat(html, bad_tail)).otherwise(
            html
        ),
    )


def load_pages_full(
    spark: SparkSession, sf_dir: str, reps: int = DEFAULT_REPS
) -> DataFrame:
    """pages in exact input_hint shape: url, warc_ts, html, text, lang —
    plus page_id/log_line ground-truth columns for tests."""
    from pyspark.sql import functions as F

    df = build_html(load_pages(spark, sf_dir, reps))
    return df.withColumn(
        "warc_ts", F.timestamp_seconds(F.col("warc_ts_sec"))
    )


def materialize_pages(
    spark: SparkSession,
    sf_dir: str,
    reps: int,
    path: str,
    partitions: int | None = None,
) -> DataFrame:
    """Write the pages table (input_hint shape + ground-truth cols) to
    parquet once and return the reader. This is the 'Iceberg table'
    the pipeline scans — generation is data-prep, not pipeline work,
    so benchmarks time the scan→parse→route→write path only."""
    import os

    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        df = load_pages_full(spark, sf_dir, reps)
        if partitions:
            df = df.repartition(partitions)
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def extract_text(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Recover `text` from `html` byte-identically → column `extracted_text`.

    Bytes-in/deterministic-out: decode UTF-8 (invalid bytes outside the
    markers become replacement chars and are discarded by the anchored
    match), then an anchored non-greedy DOTALL extract between the fixed
    markers. No locale-dependent ops (SURVEY.md §7 hard part #1).
    """
    from pyspark.sql import functions as F

    decoded = F.decode(F.col(html_col), "UTF-8")
    return df.withColumn(
        "extracted_text",
        F.regexp_extract(decoded, r"(?s)<p>(.*?)</p><!--log:", 1),
    )


def extract_log_line(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Recover the embedded log line from html → column `raw_line`.

    Plain byte-scan (substring_index between the fixed markers)
    instead of the previous lazy-dot DOTALL regexp_extract: the
    template embeds exactly one `<!--log:` ... `-->` span and the
    payload never contains the markers, so the two are value-identical
    (verified 0 differing rows over 10M pages) while the marker scan
    drops extract cost ~30% at 10M rows (guide §1.2 per-task work)."""
    from pyspark.sql import functions as F

    decoded = F.decode(F.col(html_col), "UTF-8")
    return df.withColumn(
        "raw_line",
        F.substring_index(
            F.substring_index(decoded, "<!--log:", -1), "-->", 1
        ),
    )
