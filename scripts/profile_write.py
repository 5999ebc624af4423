"""A/B the routed parquet write (guide §6): codec level, file count,
dictionary. Measurement-only helper: bench.py's pipeline, written with
one write partitioned by route."""
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rotel_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("ROTEL_BENCH_REPS", "200"))


def main():
    os.environ.setdefault("ROTEL_SPARK_DRIVER_MEM", "32g")
    spark = build_spark(
        app_name="profile_write", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    from rotel_spark.fixtures import (
        extract_log_line,
        materialize_pages,
        tld_registry_sql,
    )
    from rotel_spark.functions.urls import tld_of
    from rotel_spark.operators.filters import drop_unparsed
    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.plans.routing import with_route

    waves = int(os.environ.get("ROTEL_MIN_PARTITION_WAVES", "8"))
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(waves * spark.sparkContext.defaultParallelism),
    )
    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    table = f"/tmp/rotel_pages_{tag}_x{REPS}_p256"
    pages = materialize_pages(spark, SF_DIR, REPS, table, partitions=256)
    tld_lookup = F.broadcast(
        spark.sql(tld_registry_sql()).withColumnRenamed("tld", "reg_tld")
    )
    parsed = with_route(drop_unparsed(parse_auto(extract_log_line(pages))))
    enriched = parsed.withColumn("xtld", tld_of(F.col("url"))).join(
        tld_lookup, F.col("xtld") == F.col("reg_tld"), "left"
    )
    final = enriched.select(
        "page_id", "url", "domain", "body", "log_source", "status",
        "severity_number", "severity_text", "time_unix_nano", "route",
        "domain_partition", "tld_type", "region",
        F.length("html").alias("html_bytes"),
    )
    out_base = tempfile.mkdtemp(prefix="rotel_wab_")

    def run(label, df, opts=None, n=3):
        spark.sparkContext.setJobDescription(label)
        samples = []
        for i in range(n):
            path = f"{out_base}/{label}"
            t0 = time.time()
            w = df.write.mode("overwrite").option(
                "maxRecordsPerFile", 65536
            )
            for k, v in (opts or {}).items():
                w = w.option(k, v)
            w.partitionBy("route").parquet(path)
            samples.append(time.time() - t0)
            sz = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
            nfiles = sum(
                1 for dp, _, fs in os.walk(path) for f in fs
                if f.endswith(".parquet")
            )
        print(
            f"{label}: min={min(samples):.3f} {[round(s,3) for s in samples]}"
            f" bytes={sz/1e6:.0f}MB files={nfiles}",
            flush=True,
        )
        shutil.rmtree(path, ignore_errors=True)

    base_opts = {"parquet.enable.dictionary": "false"}
    run("A-current", final, base_opts)
    run("B-zstd1", final, {**base_opts, "parquet.compression.codec.zstd.level": "1"})
    run("C-dict-on", final, {})
    run("D-coalesce64", final.coalesce(64), base_opts)
    run("E-coalesce64-zstd1", final.coalesce(64),
        {**base_opts, "parquet.compression.codec.zstd.level": "1"})
    run("F-snappy", final, {**base_opts, "compression": "snappy"})
    shutil.rmtree(out_base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
