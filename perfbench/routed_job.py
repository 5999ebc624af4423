"""routed_job: ``plans.pipeline.run_job`` over a materialized pages table.

Processors: extract_log_line (python) -> parse_auto -> filter parse_ok ->
resource_attrs -> route. Three exclusive sinks errors/ops/archive, with
lineage. One pass is one ``run_job`` call on a fresh config.

A sink's latency in a pass runs from the ``run_job`` call to the last file
landing under that sink's path: how soon the sink's output is visible.
With one write per sink the sinks land one after another. Each sink's
latency is its median over the passes; latency_p50_s and latency_p90_s
are percentiles across the sinks.
"""

from __future__ import annotations

import shutil
import time

import numpy as np

from common import WORK, Stopwatch, median, percentile
from inputs import WARMUP_SEED, PagesInput, Pool

N_PAGES = 100_000
N_PAGES_WARMUP = 1_000
SINKS = ("errors", "ops", "archive")
# The timed region is a fixed number of passes, --seconds / PASS_S, so both
# commits of a comparison do the same work; three at --seconds 20 (a pass
# takes 3.5-5 s on a 4-core host). A time-bounded loop would fit a varying
# number of passes.
PASS_S = 6.0
# Passes run before the timed ones, checked but not timed. On the 4-core
# host the first full-size pass in a JVM took 2-5 s longer than the later
# ones (twice their CPU time: the JIT compiles the hot paths), whatever the
# warm-up's size up to 40 000 pages, and whichever input it read; the
# second was still 0.5-1 s slower, which the median of the timed passes
# absorbs.
SETTLE_PASSES = 1


def config(pages: str, out: str) -> dict:
    """A fresh config per run (run_job must not see state from a prior
    pass)."""
    from rotel_spark.fixtures import extract_log_line

    return {
        "source": {"kind": "parquet", "path": pages},
        "processors": [
            {"kind": "python", "fn": extract_log_line},
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
            {"kind": "resource_attrs", "attrs": {"service.name": "web-crawl"}},
            {"kind": "route"},
        ],
        "sinks": [
            {"name": s, "predicate": f"route = '{s}'", "path": f"{out}/{s}"}
            for s in SINKS
        ],
        "lineage_path": f"{out}/_lineage",
    }


def oracle_counts(inp: PagesInput) -> dict[str, int]:
    """Per-sink counts from the ground-truth columns fmt/status/prio, by
    the severity rule of the pipeline tests."""
    gt = inp.ground_truth(["page_id", "fmt", "status", "prio"])
    fmt = gt["fmt"].to_numpy()
    status = gt["status"].to_numpy()
    level_sev = np.array([17, 13, 10, 17, 21])[gt["page_id"].to_numpy() % 5]
    kmsg_sev = np.array([21, 21, 21, 17, 13, 10, 9, 5])[gt["prio"].to_numpy() % 8]
    http_sev = np.where(status >= 500, 17, np.where(status >= 400, 13, 9))
    sev = np.select(
        [np.isin(fmt, (0, 2)), fmt == 1, fmt == 3], [http_sev, level_sev, kmsg_sev], 0
    )[fmt != 9]
    return {
        "errors": int((sev >= 17).sum()),
        "ops": int(((sev >= 13) & (sev < 17)).sum()),
        "archive": int((sev < 13).sum()),
    }


def last_landed(path) -> float:
    """mtime of the newest file under path (0 if there is none)."""
    return max((f.stat().st_mtime for f in path.rglob("*") if f.is_file()),
               default=0.0)


def disk_rows(path) -> tuple[int, int, int]:
    """(rows, files, bytes) of the parquet files under path."""
    import pyarrow.parquet as pq

    rows = files = size = 0
    for f in path.rglob("*.parquet"):
        rows += pq.ParquetFile(f).metadata.num_rows
        files += 1
        size += f.stat().st_size
    return rows, files, size


class RoutedJob:
    name = "routed_job"

    def __init__(self, seed: int) -> None:
        self.inp = PagesInput(seed, N_PAGES)
        self.warm = PagesInput(WARMUP_SEED, N_PAGES_WARMUP)
        self.out = WORK / "out" / self.name
        self.oracle: dict[str, int] = {}
        self.settled = False

    # -- set-up ------------------------------------------------------------
    def prepare(self, pool: Pool) -> None:
        """Build the warm-up and run inputs and their oracles if missing."""
        for inp in (self.warm, self.inp):
            inp.ensure(pool)
            if "oracle" not in inp.extra:
                inp.extra["oracle"] = oracle_counts(inp)
                inp.save()

    def ready(self) -> bool:
        """Both inputs and their oracles check out (nothing is built)."""
        return all(i.valid() and "oracle" in i.extra for i in (self.warm, self.inp))

    def warmup(self, spark) -> None:
        from rotel_spark.plans.pipeline import run_job

        self._clean()
        got = run_job(spark, config(str(self.warm.pages), str(self.out)), run_id="warmup")
        if got != self.warm.extra["oracle"]:
            raise RuntimeError(f"warm-up counts {got} != {self.warm.extra['oracle']}")
        self._clean()

    # -- one pass ------------------------------------------------------------
    def _clean(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, spark, i: int) -> tuple[Stopwatch, list[float], list[str]]:
        """One timed run_job call, then (untimed) each sink's latency and
        the output checks."""
        from rotel_spark.plans.pipeline import run_job

        self._clean()
        cfg = config(str(self.inp.pages), str(self.out))
        t0 = time.time()
        with Stopwatch() as sw:
            got = run_job(spark, cfg, run_id=f"pass{i}")
        lat = [last_landed(self.out / s) - t0 for s in SINKS]
        return sw, lat, self.check(got)

    def check(self, got: dict[str, int]) -> list[str]:
        import pyarrow.parquet as pq

        errs = []
        if got != self.oracle:
            errs.append(f"sink counts {got} != oracle {self.oracle}")
        for s in SINKS:
            n = disk_rows(self.out / s)[0]
            if n != got.get(s):
                errs.append(f"{s}: {n} rows on disk != {got.get(s)} counted")
        lin = pq.read_table(self.out / "_lineage", columns=["rows_in"])
        if lin.column("rows_in").to_numpy().sum() != sum(self.oracle.values()):
            errs.append("lineage rows_in does not cover the routed rows")
        return errs

    # -- timed region --------------------------------------------------------
    def measure(self, spark, seconds: float, keep_output: bool = False) -> dict:
        """SETTLE_PASSES untimed passes on the first call in a process, then
        the timed ones; every pass's output is checked."""
        self.oracle = self.inp.extra["oracle"]
        settle = 0 if self.settled else SETTLE_PASSES
        self.settled = True
        walls, cpus, errors, failed = [], [], [], 0
        lats: list[list[float]] = []
        passes = max(3, round(seconds / PASS_S))
        for i in range(settle + passes):
            sw, lat, errs = self.run_pass(spark, i)
            walls.append(sw.wall)
            cpus.append(sw.cpu)
            lats.append(lat)
            errors += [f"pass {i}: {e}" for e in errs]
            failed += bool(errs)
        if not keep_output:
            self._clean()
        timed = slice(settle, None)
        wall = median(walls[timed])
        sink_lat = [median(per_sink) for per_sink in zip(*lats[timed])]
        return {
            "attempted": settle + passes,
            "failed": failed,
            "errors": errors,
            "metrics": {
                "wall_s": wall,
                "records_per_s": self.inp.n_pages / wall,
                "cpu_s": median(cpus[timed]),
                "latency_p50_s": median(sink_lat),
                "latency_p90_s": percentile(sink_lat, 90),
            },
            "info": {"settle_passes": settle, "timed_passes": passes,
                     "walls": walls, "sink_latencies": lats,
                     "pages": self.inp.n_pages},
        }

    # -- traced run ----------------------------------------------------------
    def traced(self, spark, seconds: float, tracer) -> dict:
        """Timed passes (after an untraced measure, so no settling pass)
        with spans around run_job and the eager calls it makes, then the
        prefix cascade (see tracing.py)."""
        import rotel_spark.lineage as lineage
        import rotel_spark.plans.pipeline as pipeline
        import rotel_spark.sinks.writer as writer

        from tracing import cascade

        tracer.wrap(pipeline, "run_job", "plans.run_job")
        tracer.wrap(pipeline.Pipeline, "run", "plans.plan")
        tracer.wrap(writer, "fan_out", "sinks.fan_out")
        tracer.wrap(lineage, "write_lineage", "lineage.write_lineage")
        tracer.wrap(lineage, "committed_ranges", "lineage.committed_ranges")
        res = self.measure(spark, seconds, keep_output=True)
        tracer.unwrap_all()

        roots = tracer.named("plans.run_job")

        def per_root(name, f=lambda s: s["end"] - s["start"]):
            return median([sum(f(s) for s in tracer.within(r, name)) for r in roots])

        def resume_check(r):
            # committed_ranges returns a lazy frame; run_job's count on it
            # runs before the pipeline plan is built
            (cr,) = tracer.within(r, "lineage.committed_ranges")
            (pl,) = tracer.within(r, "plans.plan")
            return pl["start"] - cr["start"]

        _, files, size = disk_rows(self.out)
        table = self.inp.pages
        times = cascade(
            spark.read.parquet(str(table)),
            config(str(table), str(self.out))["processors"], [0, 1, 2, 5],
        )
        res["layers"] = {
            "sources.scan_s": times[0],
            "fixtures.extract_s": times[1] - times[0],
            "parsers.parse_s": times[2] - times[1],
            "plans.stages_s": times[3] - times[2],
            "parsers.ok_ratio": sum(self.oracle.values()) / self.inp.n_pages,
            "plans.plan_s": per_root("plans.plan"),
            "sinks.fan_out_s": per_root("sinks.fan_out"),
            "sinks.files": files,
            "sinks.bytes": size,
            "lineage.resume_check_s": median([resume_check(r) for r in roots]),
            "lineage.commit_s": per_root("lineage.write_lineage"),
            "streaming.batch_s": 0.0,
            "streaming.add_batch_s": 0.0,
            "streaming.rows_per_batch": 0,
            "streaming.backlog_files": 0,
        }
        res["codec_df"] = spark.read.parquet(*(str(self.out / s) for s in SINKS))
        res["roots"] = roots
        res["table_bytes"] = sum(f.stat().st_size for f in table.glob("*.parquet"))
        return res
