"""Round-6 optimization measurement harness (guide §1).

NOT the graded bench — bench.py is frozen for measurement. This file
isolates per-query and per-stage costs with the noop sink, captures
.explain("formatted") for the plans/r06/ deliverable, and times
arbitrary sub-stages so optimizations target the real hot spot.

Usage:
  python bench_extra.py queries [name ...]     # time headline queries (noop)
  python bench_extra.py explain <tag> [name ...]  # dump plans/r06/<name>_<tag>.txt
  python bench_extra.py pipeline               # stage-split the E2E pipeline
  python bench_extra.py allqueries             # time every queries() entry once
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from rotel_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEAT = int(os.environ.get("ROTEL_EXTRA_REPEAT", "3"))

HEADLINE = [
    "route_counts",
    "grok_nginx_parse",
    "severity_counts",
    "enrich_domain_tld",
    "token_stats",
    "exact_dedup",
    "minhash_dedup",
    "ann_topk",
    "ivf_topk",
    "simhash",
    "emf_metrics_grouping",
]


def _spark():
    os.environ.setdefault("ROTEL_SPARK_DRIVER_MEM", "32g")
    spark = build_spark(
        app_name="rotel_spark_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    # same untimed fixture prep as bench.py main()
    from rotel_spark.fixtures import (
        DEFAULT_REPS,
        materialize_pages,
        pages_cache_path,
    )

    cache_base = "/tmp/rotel_pages_cache"
    os.environ["ROTEL_PAGES_CACHE_DIR"] = cache_base
    materialize_pages(
        spark,
        SF_DIR,
        DEFAULT_REPS,
        pages_cache_path(cache_base, SF_DIR, DEFAULT_REPS),
        partitions=CPUS,
    )
    return spark


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def time_df(spark, label: str, df, repeat: int = REPEAT) -> list[float]:
    spark.sparkContext.setJobDescription(label)
    samples = [_noop(df) for _ in range(repeat)]
    spark.sparkContext.setJobDescription(None)
    print(
        f"{label}: min={min(samples):.3f} samples="
        f"{[round(s, 3) for s in samples]}",
        flush=True,
    )
    return samples


def cmd_queries(names: list[str]) -> None:
    spark = _spark()
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = {}
    for name in names or HEADLINE:
        out[name] = round(
            min(time_df(spark, name, qs[name](spark, SF_DIR))), 3
        )
    print(json.dumps({"sf": SF_DIR, "queries": out}))
    spark.stop()


def cmd_allqueries() -> None:
    spark = _spark()
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = {}
    for name, fn in qs.items():
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
        print(f"{name}: {out[name]}", flush=True)
    print(json.dumps({"sf": SF_DIR, "queries": out}))
    spark.stop()


def cmd_explain(tag: str, names: list[str]) -> None:
    spark = _spark()
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names or HEADLINE:
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r06/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", flush=True)
    spark.stop()


def cmd_pipeline() -> None:
    """Stage-split the E2E pipeline (same code path as bench.py's
    run_pipeline_bench, reps from ROTEL_BENCH_REPS) with noop sinks."""
    from rotel_spark.fixtures import (
        extract_log_line,
        materialize_pages,
        tld_registry_sql,
    )
    from rotel_spark.functions.urls import tld_of
    from rotel_spark.operators.filters import drop_unparsed
    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.plans.routing import with_route
    from rotel_spark.sinks.writer import fan_out

    from bench import route_sinks

    reps = int(os.environ.get("ROTEL_BENCH_REPS", "200"))
    spark = _spark()
    waves = int(os.environ.get("ROTEL_MIN_PARTITION_WAVES", "8"))
    if waves:
        spark.conf.set(
            "spark.sql.files.minPartitionNum",
            str(waves * spark.sparkContext.defaultParallelism),
        )
    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    table = f"/tmp/rotel_pages_{tag}_x{reps}_p256"
    pages = materialize_pages(spark, SF_DIR, reps, table, partitions=256)
    tld_lookup = F.broadcast(
        spark.sql(tld_registry_sql()).withColumnRenamed("tld", "reg_tld")
    )

    scan_only = pages.select("page_id", "html")
    extracted = extract_log_line(pages)
    parsed = with_route(drop_unparsed(parse_auto(extracted)))
    enriched = parsed.withColumn("xtld", tld_of(F.col("url"))).join(
        tld_lookup, F.col("xtld") == F.col("reg_tld"), "left"
    )
    final = enriched.select(
        "page_id", "url", "domain", "body", "log_source", "status",
        "severity_number", "severity_text", "time_unix_nano", "route",
        "domain_partition", "tld_type", "region",
        F.length("html").alias("html_bytes"),
    )
    # warmup full path once
    time_df(spark, "warmup-full-noop", final, repeat=1)
    time_df(spark, "1-scan-html-only", scan_only)
    time_df(spark, "2-scan+extract", extracted.select("page_id", "raw_line"))
    time_df(
        spark,
        "3-scan+extract+parse+route",
        parsed.select(
            "page_id", "route", "severity_number", "time_unix_nano"
        ),
    )
    time_df(spark, "4-full-noop", final)
    # the real write
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="rotel_extra_")
    try:
        for i in range(2):
            t0 = time.time()
            fan_out(final, route_sinks(f"{out_dir}/routed"),
                    max_records_per_file=65536)
            print(f"5-full-write[{i}]: {time.time() - t0:.3f}", flush=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "allqueries":
        cmd_allqueries()
    elif cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3:])
    elif cmd == "pipeline":
        cmd_pipeline()
    else:
        raise SystemExit(f"unknown command {cmd}")
