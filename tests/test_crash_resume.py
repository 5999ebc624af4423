"""Crash-resume E2E at multi-batch scale (north rule: resumable
mid-pipeline after executor loss, exactly-once sink rows).

Exercises run_job's transactional batch commit through every crash
window: task failure mid-write (v2-committer orphan files in the
invisible staging dir), and the rename-committed-but-lineage-missing
window (visible orphan batch rolled back on the next attempt). The
resumed run must reproduce EXACTLY the per-sink counts of a clean
single-shot run — no double-writes, no losses."""

import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from rotel_spark.plans.pipeline import run_job

REPS = 40  # 4× the unit-test fixture volume, multi-file sinks


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
        "batch": {"max_records_per_file": 512},
    }


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    from rotel_spark.fixtures import extract_log_line, load_pages_full

    tmp = tmp_path_factory.mktemp("crash_src")
    df = extract_log_line(
        load_pages_full(spark, "/root/testdata/sf0.01", REPS)
    )
    full = str(tmp / "full.parquet")
    half = str(tmp / "half.parquet")
    df.write.mode("overwrite").parquet(full)
    median = df.approxQuantile("page_id", [0.5], 0.0)[0]
    spark.read.parquet(full).filter(
        F.col("page_id") <= median
    ).write.mode("overwrite").parquet(half)
    return {"full": full, "half": half}


def test_crash_resume_exactly_once(spark, sources, tmp_path):
    # clean single-shot reference run (no lineage, separate dirs)
    ref_tmp = tmp_path / "ref"
    ref_cfg = _cfg(ref_tmp, sources["full"], poison=False)
    ref_cfg["lineage_path"] = None
    ref_counts = run_job(spark, ref_cfg, run_id="ref")

    tmp = tmp_path / "tx"
    # batch b0: first half of the stream commits cleanly
    counts_b0 = run_job(
        spark, _cfg(tmp, sources["half"], poison=False),
        run_id="r", transactional_batch="b0",
    )
    assert sum(counts_b0.values()) > 0

    # batch b1 attempt 1: executor crash mid-write — the job dies with
    # v2-committer task files already inside the staging dirs
    with pytest.raises(Exception, match="injected executor crash"):
        run_job(
            spark, _cfg(tmp, sources["full"], poison=True),
            run_id="r", transactional_batch="b1",
        )
    # staging orphans exist (invisible to readers), nothing visible
    errors_dir = tmp / "errors"
    assert not (errors_dir / "batch=b1").exists()
    assert list(tmp.rglob("_staging_*"))

    # simulate the rename-committed/lineage-missing window too: a
    # visible batch=b1 dir with real data but no lineage row
    some_file = next((errors_dir / "batch=b0").glob("*.parquet"))
    (errors_dir / "batch=b1").mkdir()
    shutil.copy(some_file, errors_dir / "batch=b1" / some_file.name)

    # batch b1 attempt 2: clean re-drive — must roll back BOTH orphan
    # kinds, process only uncommitted rows, and commit
    counts_b1 = run_job(
        spark, _cfg(tmp, sources["full"], poison=False),
        run_id="r", transactional_batch="b1",
    )

    # the re-drive removed the crashed attempt's staging dir
    assert not list(tmp.rglob("_staging_*"))

    # per-sink totals across batches == the clean single-shot run
    for name in ("errors", "ops", "archive"):
        got = counts_b0.get(name, 0) + counts_b1.get(name, 0)
        assert got == ref_counts[name], name
        sink_df = spark.read.parquet(str(tmp / name))
        assert sink_df.count() == ref_counts[name]
        # no double-writes: page_id unique per sink
        assert sink_df.select("page_id").distinct().count() == (
            ref_counts[name]
        )

    # idempotent re-drive of a committed batch is a no-op returning
    # the recorded counts
    replay = run_job(
        spark, _cfg(tmp, sources["full"], poison=False),
        run_id="r", transactional_batch="b1",
    )
    assert replay == counts_b1
    for name in ("errors", "ops", "archive"):
        assert spark.read.parquet(str(tmp / name)).count() == (
            ref_counts[name]
        )
