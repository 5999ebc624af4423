"""spark-submit entrypoint — config-driven pipeline run.

Usage (cluster):
  zip -r app.zip rotel_spark
  spark-submit --master <cluster> --py-files app.zip job.py config.json

Usage (local):
  python job.py config.json [--run-id r42]

The config is the declarative pipeline DAG (see
rotel_spark/plans/pipeline.py docstring): source → processors →
sinks (+ optional lineage_path for checkpoint/resume). Mirrors the
reference's `rotel start` + CLI-config planner
(/root/reference/src/bin/rotel/main.rs:42-48, src/init/agent.rs:131).

Resume: when `lineage_path` is set and rows for run_id already exist,
committed page_id ranges are anti-joined away before processing
(min-pending-offset semantics, offset_tracker.rs:50-63), and the
remaining rows are appended to the sinks.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("config", help="pipeline config JSON file")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--batch",
        default=None,
        help="transactional batch id: crash-safe two-phase sink commit"
        " (staging dir → atomic rename → lineage); re-driving a"
        " committed batch is an idempotent no-op, re-driving a crashed"
        " one replaces the crashed attempt's output (requires"
        " lineage_path)",
    )
    args = ap.parse_args(argv)

    with open(args.config) as f:
        config = json.load(f)

    from rotel_spark.plans.pipeline import run_job
    from rotel_spark.session import build_spark

    spark = build_spark(app_name="rotel_spark_job", master=args.master)
    try:
        counts = run_job(
            spark, config, run_id=args.run_id,
            transactional_batch=args.batch,
        )
        print(json.dumps({"run_id": args.run_id, "sink_counts": counts}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
