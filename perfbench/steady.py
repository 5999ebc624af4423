"""Steadiness report: run one workload N times, one seed each, and print
the median, quartiles and spread (IQR / median) of every metric, next to
the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload routed_job --runs 10 [--first-seed 1]
        [--save set1.json] [--against set0.json]

Each run is a fresh ``run.py`` process with the run length from
BENCHMARK.json; no run is dropped. The raw lines are appended to
.perfbench_work/steady.jsonl. ``--save`` writes the medians to a file;
``--against`` compares this set's medians with a saved set's, in the
metric's worse direction, against the metric's bound (two sets of the
same code should agree within it).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save", type=Path)
    ap.add_argument("--against", type=Path)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    before = json.loads(args.against.read_text()) if args.against else {}
    log = ROOT / ".perfbench_work" / "steady.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True,
        )
        info = [ln for ln in p.stderr.splitlines() if " info {" in ln]
        took = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        with log.open("a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "exit": p.returncode, "run_s": took,
                                "result": res,
                                "info": json.loads(info[-1].split(" info ", 1)[1]) if info else None})
                    + "\n")
        print(f"seed {seed}: exit {p.returncode} in {took:.0f}s "
              f"correct={res.get('correct')} failed={res.get('failed')}",
              flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])

    print(f"{'metric':24} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6} {'worse':>8}")
    medians = {}
    for k, xs in sorted(values.items()):
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = medians[k] = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        # how much worse than the saved set's median, as a share of it
        worse = ""
        if k in before and k in lower:
            w = (med - before[k]) / before[k] * (1 if lower[k] else -1)
            worse = f"{w:+8.3f}"
            if b is not None and w > b:
                flag += "  <-- worse than the saved set by more than bound"
        print(f"{k:24} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{b if b is not None else '-':>6} {worse:>8}{flag}")
    if args.save:
        args.save.write_text(json.dumps(medians, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
