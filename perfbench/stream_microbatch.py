"""stream_microbatch: ``streaming.stream.run_stream`` over ``stream_lines``,
draining a backlog.

``--seconds`` x FILES_PER_S log-line files are in the watched directory
when the stream starts, and the stream reads them MAX_FILES_PER_TRIGGER at
a time, so every run makes the same number of equal micro-batches, back to
back (five at 20 s). Four sinks: three severity bands on severity_number plus an
overlapping ``all`` sink, so ``fan_out`` takes its persist-then-N-writes
path. (The ``route`` processor needs ``domain``, which raw text lines
lack.)

A file's latency runs from the stream's start to the commit of the
micro-batch that read it: the file source's checkpoint log names the
batch of every file, and the mtime of the batch's commit marker is its
commit time.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter

from common import WORK, median, percentile, tree_cpu_s
from inputs import WARMUP_SEED, PagesInput, Pool
from routed_job import disk_rows

LINES_PER_FILE = 150
FILES_PER_S = 5          # of --seconds: 100 files at 20 s, 100 latency samples
N_PAGES = 15_000         # log lines for 100 files, reused cyclically if needed
MAX_FILES_PER_TRIGGER = 20
TRIGGER_MS = 200         # run_stream's default
WARMUP_FILES = 6
COLUMNS = ["page_id", "log_line"]
DRAIN_TIMEOUT_S = 120
BANDS = {
    "hi": "severity_number >= 17",
    "mid": "severity_number >= 13 AND severity_number < 17",
    "lo": "severity_number < 13",
    "all": None,
}


def config(out) -> dict:
    """A fresh config per stream: run_stream mutates its sink specs."""
    return {
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
        ],
        "sinks": [
            {"name": n, "predicate": p, "path": str(out / "sinks" / n)}
            for n, p in BANDS.items()
        ],
    }


def render_files(inp: PagesInput, n_files: int, dest) -> list:
    """n_files text files of LINES_PER_FILE log lines, cycling through the
    pages in page_id order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(inp.pages, columns=["page_id", "log_line"])
    lines = t.take(pc.sort_indices(t, [("page_id", "ascending")]))
    lines = lines.column("log_line").to_pylist()
    dest.mkdir(parents=True)
    paths = []
    for i in range(n_files):
        at = i * LINES_PER_FILE
        chunk = [lines[(at + j) % len(lines)] for j in range(LINES_PER_FILE)]
        p = dest / f"f{i:05d}.txt"
        p.write_text("\n".join(chunk) + "\n")
        paths.append(p)
    return paths


def file_batches(ckpt) -> dict[str, int]:
    """file name -> batch id, from the file source's checkpoint log."""
    out = {}
    log_dir = ckpt / "sources" / "0"
    if not log_dir.exists():
        return out
    for f in log_dir.iterdir():
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        for line in f.read_text().splitlines()[1:]:
            e = json.loads(line)
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_times(ckpt) -> dict[int, float]:
    d = ckpt / "commits"
    if not d.exists():
        return {}
    return {
        int(f.name): f.stat().st_mtime
        for f in d.iterdir() if f.name.isdigit()
    }


class StreamMicrobatch:
    name = "stream_microbatch"

    def __init__(self, seed: int) -> None:
        self.inp = PagesInput(seed, N_PAGES, COLUMNS)
        self.warm = PagesInput(WARMUP_SEED, WARMUP_FILES * LINES_PER_FILE, COLUMNS)
        self.out = WORK / "out" / self.name

    def prepare(self, pool: Pool) -> None:
        """Build the warm-up and run inputs if missing."""
        for inp in (self.warm, self.inp):
            inp.ensure(pool)

    def ready(self) -> bool:
        """Both inputs check out (nothing is built)."""
        return self.warm.valid() and self.inp.valid()

    def check(self, spark, watched) -> list[str]:
        """Rows per sink equal a batch parse_auto over the same files, and
        the ``all`` sink holds every parsed line exactly as often as the
        files do (so no line was committed twice)."""
        import pyarrow.parquet as pq

        from rotel_spark.parsers.auto import parse_auto

        ok = parse_auto(
            spark.read.text(str(watched)).withColumnRenamed("value", "raw_line")
        ).filter("parse_ok").select("raw_line", "severity_number").collect()
        sev = [r[1] for r in ok]
        expect = {
            "hi": sum(s >= 17 for s in sev),
            "mid": sum(13 <= s < 17 for s in sev),
            "lo": sum(s < 13 for s in sev),
            "all": len(sev),
        }
        self.expect = expect
        sinks = self.out / "sinks"
        got = {n: disk_rows(sinks / n)[0] for n in BANDS}
        errs = []
        if got != expect:
            errs.append(f"sink rows {got} != batch parse {expect}")
        committed = pq.read_table(sinks / "all", columns=["raw_line"])
        if Counter(committed.column("raw_line").to_pylist()) != Counter(r[0] for r in ok):
            errs.append("the all sink's lines differ from the parsed lines")
        return errs

    def _drain(self, spark, files, **trigger):
        """Start the stream over the watched dir and wait until the batch of
        every file has committed, or the drain times out. Returns (query,
        start time, CPU seconds of the process tree meanwhile)."""
        from rotel_spark.streaming.stream import run_stream, stream_lines

        ckpt = self.out / "ckpt"
        names = {p.name for p in files}
        cpu0 = tree_cpu_s()
        t0 = time.time()
        source = stream_lines(
            spark, str(self.out / "in"), max_files_per_trigger=MAX_FILES_PER_TRIGGER
        )
        q = run_stream(spark, source, config(self.out), str(ckpt), **trigger)
        try:
            while time.time() < t0 + DRAIN_TIMEOUT_S and q.exception() is None:
                fb, commits = file_batches(ckpt), commit_times(ckpt)
                if all(fb.get(n) in commits for n in names):
                    break
                time.sleep(0.05)
            cpu = tree_cpu_s() - cpu0
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q, t0, cpu

    def warmup(self, spark) -> None:
        """The same stream over a few files, with an available-now trigger."""
        shutil.rmtree(self.out, ignore_errors=True)
        files = render_files(self.warm, WARMUP_FILES, self.out / "in")
        self._drain(spark, files, available_now=True)
        fb, commits = file_batches(self.out / "ckpt"), commit_times(self.out / "ckpt")
        if any(fb.get(p.name) not in commits for p in files):
            raise RuntimeError("warm-up stream did not commit every file")
        shutil.rmtree(self.out, ignore_errors=True)

    def measure(self, spark, seconds: float) -> dict:
        """Drain --seconds x FILES_PER_S files, then check the sinks."""
        shutil.rmtree(self.out, ignore_errors=True)
        n_files = max(1, int(seconds * FILES_PER_S))
        files = render_files(self.inp, n_files, self.out / "in")
        q, t0, cpu = self._drain(spark, files, trigger_ms=TRIGGER_MS)
        ckpt = self.out / "ckpt"
        fb, commits = file_batches(ckpt), commit_times(ckpt)
        lat = [commits[fb[p.name]] - t0 for p in files if fb.get(p.name) in commits]
        missing = n_files - len(lat)
        errors = self.check(spark, self.out / "in")
        # a wrong sink makes every file's output suspect
        failed = n_files if errors else missing
        if missing:
            errors.append(f"{missing} files not committed within the drain timeout")
        wall = max(commits.values()) - t0
        self.last = {"query": q, "t0": t0, "file_batches": fb, "commits": commits}
        return {
            "attempted": n_files,
            "failed": failed,
            "errors": errors,
            "metrics": {
                "wall_s": wall,
                "records_per_s": len(lat) * LINES_PER_FILE / wall,
                "cpu_s": cpu,
                "latency_p50_s": median(lat),
                "latency_p90_s": percentile(lat, 90),
            },
            "info": {
                "files": n_files, "lines_per_file": LINES_PER_FILE,
                "latency_samples": len(lat), "batches": len(set(fb.values())),
            },
        }

    # -- traced run ----------------------------------------------------------
    def traced(self, spark, seconds: float, tracer) -> dict:
        """The timed stream again (after an untraced one), with spans around
        fan_out and plan construction, micro-batch spans from
        recentProgress, then the prefix cascade over the same files."""
        from datetime import datetime

        import rotel_spark.plans.pipeline as pipeline
        import rotel_spark.sinks.writer as writer

        from tracing import cascade

        tracer.wrap(pipeline.Pipeline, "run", "plans.plan")
        tracer.wrap(writer, "fan_out", "sinks.fan_out")
        res = self.measure(spark, seconds)
        tracer.unwrap_all()

        q, fb, commits = self.last["query"], self.last["file_batches"], self.last["commits"]
        tracer.add("streaming.run", self.last["t0"], max(commits.values()))
        root = tracer.spans[-1]
        batches = []
        for p in q.recentProgress:
            if not p["numInputRows"]:
                continue
            start = datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]
            tracer.add("streaming.batch", start,
                       start + dur["triggerExecution"] / 1000, parent=root["id"],
                       batch_id=p["batchId"], rows=p["numInputRows"],
                       add_batch_s=dur.get("addBatch", 0) / 1000)
            batches.append(tracer.spans[-1])
        # the wrapped calls ran on the stream's thread: parent them by time
        for s in tracer.named("sinks.fan_out") + tracer.named("plans.plan"):
            for b in batches:
                if b["start"] <= s["start"] <= b["end"]:
                    s["parent"] = b["id"]
        per_batch = Counter(fb.values())
        backlog = [
            len(fb) - sum(n for bid, n in per_batch.items() if bid < b["batch_id"])
            for b in batches
        ]

        _, files, size = disk_rows(self.out / "sinks")
        watched = self.out / "in"
        times = cascade(
            spark.read.text(str(watched)).withColumnRenamed("value", "raw_line"),
            config(self.out)["processors"], [0, 1, 2],
        )
        fan = tracer.named("sinks.fan_out")
        res["layers"] = {
            "sources.scan_s": times[0],
            "fixtures.extract_s": 0.0,
            "parsers.parse_s": times[1] - times[0],
            "plans.stages_s": times[2] - times[1],
            "parsers.ok_ratio": self.expect["all"] / (len(fb) * LINES_PER_FILE),
            "plans.plan_s": median(
                [s["end"] - s["start"] for s in tracer.named("plans.plan")]),
            "sinks.fan_out_s": median([s["end"] - s["start"] for s in fan]),
            "sinks.files": files,
            "sinks.bytes": size,
            "lineage.resume_check_s": 0.0,
            "lineage.commit_s": 0.0,
            "streaming.batch_s": median([b["end"] - b["start"] for b in batches]),
            "streaming.add_batch_s": median([b["add_batch_s"] for b in batches]),
            "streaming.rows_per_batch": median([b["rows"] for b in batches]),
            "streaming.backlog_files": median(backlog),
        }
        res["codec_df"] = spark.read.parquet(str(self.out / "sinks" / "all"))
        res["roots"] = [root]
        res["table_bytes"] = sum(f.stat().st_size for f in watched.iterdir())
        return res
