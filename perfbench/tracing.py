"""Traced run: per-layer metrics, measured from outside the program.

- Spans ``{name, start, end, parent, run_id}`` around the eager public
  calls each layer exposes, by replacing module attributes (the program
  imports them at call time): ``plans.pipeline.run_job``,
  ``plans.pipeline.Pipeline.run`` (plan construction),
  ``sinks.writer.fan_out``, ``lineage.write_lineage`` and
  ``lineage.committed_ranges``. Stream micro-batches become spans from the
  query's public ``recentProgress``. Spans stay in memory and are written
  to .perfbench_work/traces/ at the end.
- Spark's event log (turned on through ``build_spark(extra_conf=...)``)
  gives task metrics; each job's go to the innermost span open when the
  job was submitted. Its SQL executions give ``sinks.writes``: the write
  commands Spark started inside each ``fan_out`` call.
- Layers that Spark fuses lazily into one stage (scan, extract, parse,
  stages) are split by a prefix cascade, each prefix written to ``noop``.
- Codec throughput is timed on one fixed payload encoded from the
  workload's own output rows.
"""

from __future__ import annotations

import json
import re
import shutil
import time
import uuid
from pathlib import Path

import common
from common import WORK, median

CASCADE_REPS = 3
CODEC_ROWS = 1000
CODEC_REPS = 3

UNITS = {
    "sources.scan_s": "s", "fixtures.extract_s": "s", "parsers.parse_s": "s",
    "parsers.ok_ratio": "ratio", "plans.stages_s": "s", "plans.plan_s": "s",
    "sinks.fan_out_s": "s", "sinks.writes": "count", "sinks.files": "count",
    "sinks.bytes": "B", "spark.input_passes": "ratio",
    "spark.persist_bytes": "B",
    "sinks.lz4_compress_mb_per_s": "MB/s",
    "sinks.lz4_decompress_mb_per_s": "MB/s",
    "sinks.cityhash_mb_per_s": "MB/s",
    "sinks.rowbinary_encode_mb_per_s": "MB/s",
    "sinks.rowbinary_decode_mb_per_s": "MB/s",
    "lineage.resume_check_s": "s", "lineage.commit_s": "s",
    "streaming.batch_s": "s", "streaming.add_batch_s": "s",
    "streaming.rows_per_batch": "count", "streaming.backlog_files": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_ratio": "ratio", "trace.attributed_ratio": "ratio",
}


class Tracer:
    """Spans kept in memory; a stack gives each span its parent."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list = []

    def open(self, name: str, **attrs) -> dict:
        s = {"name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "run_id": self.run_id, "id": len(self.spans), **attrs}
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: dict) -> None:
        s["end"] = time.time()
        self._stack.remove(s)

    def add(self, name: str, start: float, end: float, parent=None, **attrs):
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id,
                           "id": len(self.spans), **attrs})

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a wrapper that records a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            s = tracer.open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(s)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def write(self, tag: str) -> Path:
        d = WORK / "traces"
        d.mkdir(parents=True, exist_ok=True)
        p = d / f"{tag}-{self.run_id}.json"
        p.write_text(json.dumps(self.spans))
        return p

    # -- queries over the spans ---------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]

    def self_time(self, s: dict) -> float:
        """Span time minus the part of it its children cover."""
        iv = sorted((c["start"], c["end"]) for c in self.children(s))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def within(self, root: dict, name: str) -> list[dict]:
        """Descendants of root called name."""
        ids, out = {root["id"]}, []
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG = WORK / "eventlog"
# root nodes of SQL executions that write a table or files (V1 and V2)
WRITE_NODE = re.compile(
    r"InsertInto|SaveIntoDataSource|AsSelect|AppendData|OverwriteByExpression"
    r"|OverwritePartitionsDynamic"
)


def event_log_conf() -> dict[str, str]:
    shutil.rmtree(EVENT_LOG, ignore_errors=True)
    EVENT_LOG.mkdir(parents=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(EVENT_LOG),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def fold_event_log() -> tuple[list[dict], list[float]]:
    """One record per job (submission time and summed task metrics), and
    the start times of the SQL executions that write."""
    jobs: dict[int, dict] = {}
    writes: list[float] = []
    stage_job: dict[int, int] = {}
    blocks: set[str] = set()
    for f in EVENT_LOG.iterdir():
        for line in f.open():
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "submitted": e["Submission Time"] / 1000, "task_s": 0.0,
                    "gc_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
                    "spill_bytes": 0, "persist_bytes": 0,
                }
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if j is None or not m:
                    continue
                j["task_s"] += m["Executor Run Time"] / 1000
                j["gc_s"] += m["JVM GC Time"] / 1000
                j["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                j["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif ev.endswith("SQLExecutionStart"):
                if WRITE_NODE.search(e["sparkPlanInfo"]["nodeName"]):
                    writes.append(e["time"] / 1000)
            elif ev == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                bid = info["Block ID"]
                size = info["Memory Size"] + info["Disk Size"]
                if bid.startswith("rdd_") and size and bid not in blocks:
                    blocks.add(bid)
                    # attribute to the latest job submitted before it
                    if jobs:
                        jobs[max(jobs)]["persist_bytes"] += size
    return list(jobs.values()), writes


def spark_totals(roots: list[dict], jobs: list[dict]) -> list[dict]:
    """Per root span: the summed metrics of the jobs submitted inside it
    (each job goes to the innermost open span; here, its root)."""
    out = []
    for r in roots:
        t = {"task_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
             "spill_bytes": 0, "persist_bytes": 0}
        for j in jobs:
            if r["start"] <= j["submitted"] <= r["end"]:
                for k in t:
                    t[k] += j[k]
        out.append(t)
    return out


# ---------------------------------------------------------------------------
# prefix cascade and codecs
# ---------------------------------------------------------------------------

def cascade(source_df, processors: list[dict], cuts: list[int]) -> list[float]:
    """Median noop-write time of source_df run through each prefix of
    processors given by cuts (0 = the bare source)."""
    from rotel_spark.plans.pipeline import build_pipeline

    out = []
    for k in cuts:
        df = build_pipeline({"processors": processors[:k]}).run(source_df)
        ts = []
        for _ in range(CASCADE_REPS):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out.append(median(ts))
    return out


def codec_rates(sink_df) -> dict[str, float]:
    """MB/s of the ClickHouse codecs on one payload of CODEC_ROWS log rows
    taken from the workload's output."""
    from rotel_spark.schema import to_log_record_row
    from rotel_spark.sinks.ch_compress import (
        city_hash_128, compress_frame, decompress_frame,
    )
    from rotel_spark.sinks.rowbinary import (
        LOG_ROW_CH_TYPES, decode_rows, encode_rows,
    )

    rows = [
        r.asDict() for r in
        to_log_record_row(sink_df).orderBy("Timestamp", "Body")
        .limit(CODEC_ROWS).collect()
    ]
    payload = encode_rows(rows, LOG_ROW_CH_TYPES)
    frame = compress_frame(payload)
    ops = {
        "sinks.rowbinary_encode_mb_per_s": lambda: encode_rows(rows, LOG_ROW_CH_TYPES),
        "sinks.rowbinary_decode_mb_per_s": lambda: decode_rows(payload, LOG_ROW_CH_TYPES),
        "sinks.lz4_compress_mb_per_s": lambda: compress_frame(payload),
        "sinks.lz4_decompress_mb_per_s": lambda: decompress_frame(frame),
        "sinks.cityhash_mb_per_s": lambda: city_hash_128(payload),
    }
    if decompress_frame(frame) != payload or len(decode_rows(payload, LOG_ROW_CH_TYPES)) != len(rows):
        raise RuntimeError("codec roundtrip changed the payload")
    rates = {}
    for name, op in ops.items():
        ts = []
        for _ in range(CODEC_REPS):
            t0 = time.perf_counter()
            op()
            ts.append(time.perf_counter() - t0)
        rates[name] = len(payload) / 1e6 / median(ts)
    return rates


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def traced_run(wl, set_up, seconds: float, log):
    """Set up with the event log on, run the workload's timed region
    untraced, traced (every wrapper in place; then the cascade and the
    codec timings), and untraced again. trace.overhead_ratio divides by the mean
    of the two untraced walls, which brackets the traced one, so the JVM
    settling further from region to region cancels out. Stops the session
    itself (the event log is complete only then) and returns (None, result)."""
    spark, setup_s = set_up(wl, event_log_conf())
    log(f"traced set-up {setup_s:.2f}s")
    tracer = Tracer()
    try:
        before = wl.measure(spark, seconds)
        res = wl.traced(spark, seconds, tracer)
        layers = res.pop("layers")
        # the codec payload is read from the traced region's output, which
        # the next region overwrites
        layers.update(codec_rates(res.pop("codec_df")))
        after = wl.measure(spark, seconds)
        untraced_wall = (before["metrics"]["wall_s"] + after["metrics"]["wall_s"]) / 2
        log(f"untraced wall_s {before['metrics']['wall_s']:.2f} "
            f"{after['metrics']['wall_s']:.2f}")
        for u in (before, after):
            res["attempted"] += u["attempted"]
            res["failed"] += u["failed"]
            res["errors"] += [f"untraced: {e}" for e in u["errors"]]
    finally:
        tracer.unwrap_all()
        common.stop_spark(spark)

    jobs, writes = fold_event_log()
    layers["sinks.writes"] = median([
        sum(s["start"] <= t <= s["end"] for t in writes)
        for s in tracer.named("sinks.fan_out")
    ])
    roots = res.pop("roots")
    totals = spark_totals(roots, jobs)
    walls = [r["end"] - r["start"] for r in roots]
    for k in ("task_s", "gc_s", "shuffle_bytes", "spill_bytes", "persist_bytes"):
        layers[f"spark.{k}"] = median([t[k] for t in totals])
    layers["spark.input_passes"] = median(
        [t["input_bytes"] for t in totals]) / res.pop("table_bytes")
    layers["trace.overhead_ratio"] = median(walls) / untraced_wall
    layers["trace.attributed_ratio"] = median(
        [1 - tracer.self_time(r) / (r["end"] - r["start"]) for r in roots])
    path = tracer.write(wl.name)
    log(f"spans written to {path}")
    res["metrics"] = layers
    res["units"] = UNITS
    res["info"]["jobs"] = len(jobs)
    return None, res

