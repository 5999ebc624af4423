"""Process isolation, Spark session lifecycle and /proc accounting.

Everything the benchmark writes lives under ``WORK`` inside the checkout
(inputs, sink output, checkpoints, Spark scratch, temp files), so a run
reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"

# Pinned driver heap. build_spark's 16g default pretouches 12 GB, which does
# not fit a 15 GB host. On the 4-core host 2g ran the passes as fast as 3g
# and started the JVM about a second sooner (less to pretouch).
HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate_env() -> None:
    """Point every temp/scratch location into WORK and pin the session
    shape; must run before pyspark is imported."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["ROTEL_SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("ROTEL_PAGES_CACHE_DIR", None)
    os.environ.pop("ROTEL_WRITE_TASKS", None)


def start_spark(extra_conf: dict[str, str] | None = None):
    """A fresh JVM and session at local[nproc] with console progress off."""
    from rotel_spark.session import build_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    conf.update(extra_conf or {})
    return build_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit, so the next start_spark pays a full JVM start."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """root and all its live descendants (JVM, Python daemon, workers)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat_fields(int(d))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """utime+stime of the live tree, plus what its reaped children used."""
    total = 0
    for pid in process_tree():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak resident sets (VmHWM) over the live tree."""
    kb = 0
    for pid in process_tree():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / _CLK


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """Load average and CPU steal share over an interval, recorded for
    every run and never used to drop one."""

    def __init__(self) -> None:
        self._t0 = _cpu_line()

    def read(self) -> dict:
        t1 = _cpu_line()
        d = [b - a for a, b in zip(self._t0, t1)]
        steal = d[7] if len(d) > 7 else 0
        return {
            "loadavg_1m": float(Path("/proc/loadavg").read_text().split()[0]),
            "steal_ratio": steal / max(1, sum(d)),
        }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Stopwatch:
    """Wall and process-tree CPU over one timed region."""

    def __enter__(self) -> "Stopwatch":
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu0
