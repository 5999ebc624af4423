"""Benchmark entry point.

    python3 perfbench/run.py --workload routed_job --seed 1 --seconds 20 --trace 0

Runs one workload in this fresh process at local[nproc] with a pinned
heap, checks its outputs, and prints one JSON line last: with --trace 0
every end-to-end metric, with --trace 1 every per-layer metric (a
separate traced run, never used for end-to-end numbers). Progress and
details go to stderr. Exits 1 if any output check fails, 2 if the program
under test cannot be imported.

Inputs missing from the cache are built first, untimed, in a child
process (inputs.py), so no build shares a process with a set-up or the
timed region. setup_s is then the median of N_SETUPS set-ups, each in a
fresh process: the first N_SETUPS - 1 in child processes started one
after another, the last in this process, which then runs the timed
region.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
import traceback

import common

N_SETUPS = 2
UNITS = {
    "setup_s": "s", "wall_s": "s", "records_per_s": "1/s", "cpu_s": "s",
    "peak_rss_mb": "MB", "latency_p50_s": "s", "latency_p90_s": "s",
}


def _workloads() -> dict:
    from routed_job import RoutedJob
    from stream_microbatch import StreamMicrobatch

    return {w.name: w for w in (RoutedJob, StreamMicrobatch)}


def log(msg: str) -> None:
    print(f"[perfbench] {common.process_age_s():6.1f}s {msg}", file=sys.stderr,
          flush=True)


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def child(args: list[str], timeout: float) -> dict:
    """Run run.py in a fresh process and return its last JSON line."""
    p = subprocess.run(
        [sys.executable, __file__, *args],
        stdout=subprocess.PIPE, timeout=timeout, text=True,
    )
    if p.returncode != 0:
        raise RuntimeError(f"child run.py {args} exited {p.returncode}")
    return last_json(p.stdout)


def build_inputs(wl) -> None:
    """Build the pool (once per checkout; it needs a JVM) and the
    workload's inputs if the cache lacks them."""
    from inputs import Pool

    pool = Pool()
    if not pool.valid():
        log("building the input pool")
        spark = common.start_spark()
        try:
            pool.build(spark)
        finally:
            common.stop_spark(spark)
        # pools of an older inputs.py or fixtures.py are never used again
        for old in pool.dir.parent.glob("pool-*"):
            if old != pool.dir:
                shutil.rmtree(old, ignore_errors=True)
    wl.prepare(pool)


def set_up_here(wl, started: float, extra_conf=None):
    """Start the JVM and session, check the input cache, run the warm-up
    pass. Returns (spark, seconds to ready): the process age at `started`
    plus the time since."""
    t_start = time.perf_counter()
    spark = common.start_spark(extra_conf)
    if not wl.ready():
        raise RuntimeError("an input is missing from the cache or fails its check")
    wl.warmup(spark)
    return spark, started + time.perf_counter() - t_start


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--role", choices=("run", "setup", "build"), default="run",
                    help="setup: set up, report it and exit; build: build "
                    "missing inputs and exit (both used by a run's children)")
    args = ap.parse_args(argv)

    age = common.process_age_s()
    sys.path.insert(0, str(common.ROOT))
    try:
        import pyspark  # noqa: F401
        import rotel_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        log(f"unknown workload {args.workload!r}; have {sorted(workloads)}")
        return 2

    common.isolate_env()
    base = ["--workload", args.workload, "--seed", str(args.seed)]
    wl = workloads[args.workload](args.seed)
    noise = common.HostNoise()
    spark = None
    try:
        if args.role == "build":
            build_inputs(wl)
            print(json.dumps({"built": True}), flush=True)
            return 0
        if args.role == "setup":
            spark, s = set_up_here(wl, age)
            print(json.dumps({"setup_s": s}), flush=True)
            return 0
        if not wl.ready():
            child(base + ["--role", "build"], 170)
            log("inputs built")
        if args.trace:
            from tracing import traced_run

            spark, res = traced_run(
                wl, lambda w, conf: set_up_here(w, age, conf), args.seconds, log
            )
        else:
            setups = [
                child(base + ["--role", "setup"], 150)["setup_s"]
                for _ in range(N_SETUPS - 1)
            ]
            # this process's own sample: its age on entry (interpreter start
            # and imports) plus its own start, not the children's time
            spark, s = set_up_here(wl, age)
            setups.append(s)
            log("set-up samples " + " ".join(f"{x:.2f}" for x in setups))
            log("timed region starts")
            res = wl.measure(spark, args.seconds)
            log("timed region and checks done")
            res["metrics"]["setup_s"] = common.median(setups)
            res["metrics"]["peak_rss_mb"] = common.tree_peak_rss_mb()
            res["info"]["setup_samples"] = setups
    except Exception:
        log("run failed:\n" + traceback.format_exc())
        return 1
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(common.WORK / "out", ignore_errors=True)

    log("stopped")
    res["info"].update(noise.read())
    log("info " + json.dumps(res["info"]))
    for e in res["errors"]:
        log("CHECK FAILED " + e)
    out = {
        "correct": not res["errors"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            k: {"value": v, "unit": UNITS.get(k) or res["units"][k]}
            for k, v in sorted(res["metrics"].items())
        },
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
