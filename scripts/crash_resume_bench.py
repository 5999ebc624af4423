"""Kill-resume at bench scale (sf0.1, ~1M pages): prove the
transactional batch commit's exactly-once sink parity on the same
table bench.py measures, once per round (not in the default pytest
path — run `python scripts/crash_resume_bench.py`).

Protocol (the two crash windows tests/test_crash_resume.py exercises
at unit volume):
  1. clean single-shot reference run → per-sink counts
  2. batch b0 commits the first half of the stream
  3. batch b1 attempt 1 dies mid-write from an injected executor
     crash (v2-committer orphans left in the invisible staging dirs)
  4. the rename-committed/lineage-missing window is simulated by
     materializing a visible orphan batch=b1 dir with real data
  5. batch b1 attempt 2 re-drives cleanly: both orphan kinds must
     roll back, and b0+b1 per-sink totals must equal the reference

Writes ONE JSON line to stdout and BENCH/crash_resume_r5.json.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from rotel_spark.plans.pipeline import run_job  # noqa: E402
from rotel_spark.session import build_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("ROTEL_BENCH_REPS", "200"))


def _cfg(tmp: pathlib.Path, source_path: str, poison: bool) -> dict:
    processors = [
        {"kind": "parse_auto"},
        {"kind": "filter", "expr": "parse_ok"},
        {"kind": "route"},
    ]
    if poison:

        def _poison(df):
            return df.withColumn(
                "_poison",
                F.when(
                    F.col("page_id") % 997 == 13,
                    F.raise_error(F.lit("injected executor crash")),
                ).otherwise(F.lit(0)),
            )

        processors.append({"kind": "python", "fn": _poison})
    return {
        "source": {"kind": "parquet", "path": source_path},
        "processors": processors,
        "sinks": [
            {"name": "errors", "predicate": "route = 'errors'",
             "path": str(tmp / "errors")},
            {"name": "ops", "predicate": "route = 'ops'",
             "path": str(tmp / "ops")},
            {"name": "archive", "predicate": "route = 'archive'",
             "path": str(tmp / "archive")},
        ],
        "lineage_path": str(tmp / "_lineage"),
        "batch": {"max_records_per_file": 65536},
    }


def main() -> None:
    spark = build_spark(
        app_name="rotel_crash_resume_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    work = pathlib.Path(tempfile.mkdtemp(prefix="rotel_crash_bench_"))
    t_start = time.time()
    try:
        from rotel_spark.fixtures import extract_log_line, load_pages_full

        df = extract_log_line(load_pages_full(spark, SF_DIR, REPS))
        full = str(work / "full.parquet")
        df.write.mode("overwrite").parquet(full)
        full_df = spark.read.parquet(full)
        n_pages = full_df.count()
        mid = full_df.agg(
            ((F.min("page_id") + F.max("page_id")) / 2).cast("long")
        ).collect()[0][0]
        half = str(work / "half.parquet")
        full_df.filter(F.col("page_id") <= mid).write.mode(
            "overwrite"
        ).parquet(half)

        # 1. clean single-shot reference
        ref_tmp = work / "ref"
        ref_cfg = _cfg(ref_tmp, full, poison=False)
        ref_cfg["lineage_path"] = None
        ref_counts = run_job(spark, ref_cfg, run_id="ref")

        # 2. batch b0: first half commits
        tmp = work / "tx"
        counts_b0 = run_job(
            spark, _cfg(tmp, half, poison=False),
            run_id="r", transactional_batch="b0",
        )

        # 3. batch b1 attempt 1: executor crash mid-write
        crashed = False
        try:
            run_job(
                spark, _cfg(tmp, full, poison=True),
                run_id="r", transactional_batch="b1",
            )
        except Exception as ex:  # noqa: BLE001 — any crash counts
            crashed = "injected executor crash" in str(ex)
        visible_orphan_premature = (tmp / "errors" / "batch=b1").exists()

        # 4. simulate the rename-committed/lineage-missing window
        errors_dir = tmp / "errors"
        some_file = next((errors_dir / "batch=b0").glob("*.parquet"))
        (errors_dir / "batch=b1").mkdir()
        shutil.copy(some_file, errors_dir / "batch=b1" / some_file.name)

        # 5. re-drive b1 clean
        counts_b1 = run_job(
            spark, _cfg(tmp, full, poison=False),
            run_id="r", transactional_batch="b1",
        )

        per_sink = {}
        parity = True
        for name in ("errors", "ops", "archive"):
            got = counts_b0.get(name, 0) + counts_b1.get(name, 0)
            stored = spark.read.parquet(str(tmp / name)).count()
            distinct = (
                spark.read.parquet(str(tmp / name))
                .select("page_id").distinct().count()
            )
            ok = got == ref_counts[name] == stored == distinct
            parity = parity and ok
            per_sink[name] = {
                "reference": ref_counts[name],
                "b0_plus_b1": got,
                "stored_rows": stored,
                "distinct_page_ids": distinct,
                "exactly_once": ok,
            }

        result = {
            "bench": "crash_resume",
            "sf": SF_DIR,
            "reps": REPS,
            "cpus": CPUS,
            "n_pages": n_pages,
            "crash_injected": crashed,
            "no_visible_batch_before_commit": not visible_orphan_premature,
            "per_sink": per_sink,
            "exactly_once_parity": parity,
            "wall_sec": round(time.time() - t_start, 1),
        }
        line = json.dumps(result)
        print(line)
        out = pathlib.Path(__file__).resolve().parent.parent / "BENCH"
        (out / "crash_resume_r5.json").write_text(line + "\n")
        if not (parity and crashed):
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
