"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "records_per_sec": ..., "mb_per_sec": ...}

The headline number is the E2E pipeline: ``plans.pipeline.run_job`` on
``pipeline_config`` — scan the stored pages table (html binary
included) → extract embedded log line → multi-format parse → route →
broadcast enrich → fan-out to 3 routed parquet sinks in one write job.
records/sec is parsed-and-routed records per wall-clock second;
mb_per_sec counts the html bytes groked (BASELINE.json metric).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rotel_spark.fixtures import (
    DEFAULT_REPS,
    extract_log_line,
    materialize_pages,
    pages_cache_path,
    tld_registry_sql,
)
from rotel_spark.functions.urls import tld_of
from rotel_spark.plans.pipeline import run_job
from rotel_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# pages rows = documents rows × reps (sf0.1 → 5000 × 200 = 1M)
BENCH_REPS = int(os.environ.get("ROTEL_BENCH_REPS", "200"))

# Measurement integrity: shared hosts show bursty CPU steal, which has
# inflated per-query numbers 6-9× against clean re-runs. Every timed
# item is sampled until its TWO BEST samples agree within CERT_RATIO
# (two independent observations of the same plan cost certify each
# other), capped at MAX_ATTEMPTS. The recorded number is the best
# (least-contaminated) sample; the recorded variance is best2/best1 —
# above CERT_RATIO lands the item in unstable_queries.
CERT_RATIO = 1.5
MAX_ATTEMPTS = 7


def best2_ratio(samples: list[float]) -> float:
    b = sorted(samples)[:2]
    return b[-1] / max(b[0], 1e-9)


def certified_samples(sample: Callable[[], float]) -> list[float]:
    """Two samples, then more until the best two certify each other."""
    samples = [sample(), sample()]
    while best2_ratio(samples) > CERT_RATIO and len(samples) < MAX_ATTEMPTS:
        samples.append(sample())
    return samples


def route_sinks(path: str) -> list[dict]:
    """The three routed sinks, one per route value, under path."""
    return [
        {"name": r, "predicate": f"route = '{r}'", "path": f"{path}/{r}"}
        for r in ("errors", "ops", "archive")
    ]


def enrich_tld(df: DataFrame) -> DataFrame:
    """Broadcast tld enrichment plus the sinks' projection. The lookup
    is a map-side hash join riding the parse pass, no shuffle
    (north star: parse → enrich → route; Datadog mapping-table
    analog)."""
    tld_lookup = F.broadcast(
        df.sparkSession.sql(tld_registry_sql()).withColumnRenamed(
            "tld", "reg_tld"
        )
    )
    enriched = df.withColumn("xtld", tld_of(F.col("url"))).join(
        tld_lookup, F.col("xtld") == F.col("reg_tld"), "left"
    )
    return enriched.select(
        "page_id", "url", "domain", "body", "log_source", "status",
        "severity_number", "severity_text", "time_unix_nano", "route",
        "domain_partition", "tld_type", "region",
        F.length("html").alias("html_bytes"),
    )


def pipeline_config(pages_path: str, out_dir: str) -> dict:
    """The benchmarked pipeline as a ``run_job`` config: the stored
    pages table → extract → parse → route → enrich → three sinks."""
    return {
        "source": {"kind": "parquet", "path": pages_path},
        "processors": [
            {"kind": "python", "fn": extract_log_line},
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
            {"kind": "route"},
            {"kind": "python", "fn": enrich_tld},
        ],
        "sinks": route_sinks(out_dir),
        # 64k records/file for the throughput measurement — the 8192
        # batch semantic stays the pipeline default (count parity is on
        # per-sink totals, not batch shapes; SURVEY.md §2.4), but 8192
        # at 1M+ rows means hundreds of files whose commit overhead
        # dominates wall time
        "batch": {"max_records_per_file": 65536},
    }


def run_pipeline_bench(spark, sf_dir: str, reps: int, out_dir: str) -> dict:
    """Time ``run_job`` on ``pipeline_config``. Table generation is
    untimed data-prep (materialized once per sf×reps, like TESTDATA)."""
    # File-split granularity: FileSourceScan packs small files into
    # ~(total bytes / maxPartitionBytes) tasks, which at this input
    # size coarsens the scan to roughly core-count tasks whose last-
    # wave tail then bounds utilization. Require ≥8 waves of tasks per
    # core so the tail is amortized. At 100 TB the natural split count
    # (bytes/128MB) dwarfs 8×cores and this floor is a no-op.
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(8 * spark.sparkContext.defaultParallelism),
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    # 256 files: a 100 TB Iceberg table has file-level parallelism far
    # beyond core count; few files leave only a couple of task waves
    # and stragglers cap scaling
    table = f"/tmp/rotel_pages_{tag}_x{reps}_p256"
    materialize_pages(spark, sf_dir, reps, table, partitions=256)

    # warm-up (JIT/codegen/page-cache), discarded per BASELINE.md protocol
    run_job(spark, pipeline_config(table, f"{out_dir}/warmup"))
    routed = f"{out_dir}/routed"
    counts: dict[str, int] = {}

    def sample() -> float:
        t0 = time.time()
        counts.update(run_job(spark, pipeline_config(table, routed)))
        return time.time() - t0

    samples = certified_samples(sample)
    elapsed = min(samples)
    n_routed = sum(counts.values())
    total_bytes = (
        spark.read.parquet(*(s["path"] for s in route_sinks(routed)))
        .agg(F.sum("html_bytes"))
        .collect()[0][0]
        or 0
    )
    return {
        "sec": elapsed,
        "records": n_routed,
        "records_per_sec": n_routed / elapsed,
        "mb": total_bytes / 1e6,
        "mb_per_sec": total_bytes / 1e6 / elapsed,
        "sink_counts": counts,
        "variance": round(best2_ratio(samples), 2),
    }


def main() -> None:
    spark = build_spark(
        app_name="rotel_spark_bench", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    out_dir = tempfile.mkdtemp(prefix="rotel_bench_")
    timings: dict[str, float] = {}
    variance: dict[str, float] = {}
    try:
        pipe = run_pipeline_bench(spark, SF_DIR, BENCH_REPS, out_dir)
        timings["pipeline_e2e"] = round(pipe["sec"], 3)
        variance["pipeline_e2e"] = pipe["variance"]

        # materialize the query-suite pages fixture ONCE (untimed
        # data-prep, like run_pipeline_bench's input table) so per-query
        # timings measure the operator, not the 20-way generation CTE
        cache_base = "/tmp/rotel_pages_cache"
        os.environ["ROTEL_PAGES_CACHE_DIR"] = cache_base
        materialize_pages(
            spark,
            SF_DIR,
            DEFAULT_REPS,
            pages_cache_path(cache_base, SF_DIR, DEFAULT_REPS),
            partitions=CPUS,
        )

        import __spark_entry__ as entrymod

        headline = [
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
        qs = entrymod.queries()

        def sample_once(name: str) -> float:
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.time() - t0

        attempts: dict[str, int] = {}
        for name in headline:
            samples = certified_samples(lambda: sample_once(name))
            timings[name] = round(min(samples), 3)
            variance[name] = round(best2_ratio(samples), 2)
            attempts[name] = len(samples)

        total = round(sum(timings.values()), 3)
        unstable = sorted(k for k, v in variance.items() if v > CERT_RATIO)
        print(
            json.dumps(
                {
                    "metric": "parsed-and-routed records/sec (E2E pipeline"
                    " + headline operator suite)",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "query_variance": variance,
                    "query_attempts": attempts,
                    "unstable_queries": unstable,
                    "sf": SF_DIR,
                    "cpus": CPUS,
                    "pipeline_records": pipe["records"],
                    "records_per_sec": round(pipe["records_per_sec"], 1),
                    "mb_per_sec": round(pipe["mb_per_sec"], 2),
                    "sink_counts": pipe["sink_counts"],
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
