"""Per-query timer, timed as bench.py times its headline queries:
DataFrame CONSTRUCTION is inside the timed region (queries with eager
localCheckpoints do work while they are built). min of N samples.

Usage: python scripts/qtime.py <n_samples> <query> [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rotel_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    n = int(sys.argv[1])
    names = sys.argv[2:]
    spark = build_spark(
        app_name="qtime", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    from rotel_spark.fixtures import (
        DEFAULT_REPS,
        materialize_pages,
        pages_cache_path,
    )

    cache_base = "/tmp/rotel_pages_cache"
    os.environ["ROTEL_PAGES_CACHE_DIR"] = cache_base
    materialize_pages(
        spark, SF_DIR, DEFAULT_REPS,
        pages_cache_path(cache_base, SF_DIR, DEFAULT_REPS), partitions=CPUS,
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = {}
    for name in names:
        samples = []
        for _ in range(n):
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(f"{name}: min={min(samples)} {samples}", flush=True)
    print(json.dumps({"sf": SF_DIR, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
