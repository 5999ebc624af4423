"""Fan-out sink writer — one write job for every sink.

Reference semantics (/root/reference/src/topology/fanout.rs:17-20,
144-153): every batch goes to all configured exporters of its type,
and the source is acked once, after the last exporter confirms
(payload.rs:426-439). Spark mapping (SURVEY.md §2.5 option (b)): tag
each row with the indices of the sinks whose predicate it matches,
explode the tags, and run ONE write partitioned by the tag into a
hidden ``_staging_*`` directory. Each ``_sink=<i>`` directory (or, for
an ``append`` sink, its files) is then moved into the sink's own path.
Parse, stages and routing run once, with no cached copy, however many
sinks overlap.

Batch sizing: the reference flushes at max_size=8192 records
(src/topology/batch.rs:15-23); batch boundaries in Spark are output
files, so ``maxRecordsPerFile=8192`` reproduces the invariant "no
output unit exceeds max size". Count parity is on record totals per
sink, matching the leaf-count rule (batch_resources.rs:126-130).

Per-sink counters use ``df.observe`` — metrics ride the write job
itself instead of a second pass over the data.

The write does only work that ends up in the files:

* Every sink is parquet, written without dictionary encoding. Log-record
  rows are dominated by ~unique payload columns (html, url, log_line,
  body): parquet-mr builds a dictionary for each of them in every file,
  outgrows the page limit and falls back to PLAIN, so the hashing was
  pure CPU. zstd keeps most of what the narrow columns' dictionaries
  saved: +1.8 % bytes for the pipeline frame at 100 000 pages.
* The sink tag is ``explode(array(when(pred_i, i) …))`` followed by a
  NOT NULL filter, which whole-stage codegen compiles into one stage.
  ``array_compact`` would be a lambda ``filter``, which has no codegen:
  the Generate would run interpreted and copy the whole wide row per
  output row.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

SINK_COL = "_sink"
SPEC_KEYS = frozenset({"name", "path", "predicate", "mode"})


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, qualified Path) of path, for any scheme Hadoop knows."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def _save(w, path, max_records_per_file) -> None:
    (w.option("maxRecordsPerFile", max_records_per_file)
     .option("parquet.enable.dictionary", "false").parquet(path))


def fan_out(
    df: DataFrame,
    sinks: list[dict],
    max_records_per_file: int = 8192,
    batch: str | None = None,
) -> dict[str, int]:
    """Write df to every sink; returns {sink_name: rows_written}.

    sink spec: {"name": str, "path": str, "predicate": str | None,
                "mode": "overwrite" | "append"}
    predicate=None → broadcast-to-all (rotel fanout); a predicate makes
    it a routed sink (north rule). A row whose predicate is NULL is not
    written, as with ``filter``. A spec with another key or mode, or a
    sink on another filesystem than the first sink's, is rejected with
    ValueError before anything is written.

    batch: with one, an ``overwrite`` sink's rows go to
    ``<path>/batch=<batch>`` (visible; partition-discovery compatible)
    and an ``append`` sink's to files named ``<batch>-part-*`` in
    ``<path>``; either way a retried batch replaces what an earlier
    attempt of it left. The staging directory, ``_staging_<batch>``,
    sits beside the first sink's destination. Without a batch it is
    named after the sinks' paths, so a re-run clears a crashed run's.
    """
    Path = df.sparkSession._jvm.org.apache.hadoop.fs.Path
    uri, targets = None, []
    for spec in sinks:
        if not {"name", "path"} <= spec.keys() <= SPEC_KEYS:
            raise ValueError(f"sink spec {spec}: keys are {sorted(SPEC_KEYS)}")
        mode = spec.get("mode", "overwrite")
        if mode not in ("overwrite", "append"):
            raise ValueError(f"sink {spec['name']}: unsupported mode")
        fs, dst = hadoop_path(df.sparkSession, spec["path"])
        uri = uri or fs.getUri().toString()
        if fs.getUri().toString() != uri:
            raise ValueError(f"sink {spec['name']}: not on {uri}")
        if batch is not None and mode == "overwrite":
            dst = Path(dst, f"batch={batch}")
        targets.append((spec["name"], mode, dst))
    tag = batch
    if tag is None:
        paths = " ".join(str(dst) for _, _, dst in targets)
        tag = f"{zlib.crc32(paths.encode()):08x}"
    staging = Path(targets[0][2].getParent(), f"_staging_{tag}")

    tagged, obs = _tag(df, [s.get("predicate") for s in sinks])
    _save(tagged.write.mode("overwrite").partitionBy(SINK_COL),
          staging.toString(), max_records_per_file)
    got = obs.get
    counts = {s["name"]: got[str(i)] for i, s in enumerate(sinks)}
    for i, (name, mode, dst) in enumerate(targets):
        if not counts[name]:
            # a partitioned write makes no directory for an empty sink:
            # drop an earlier attempt's files, then write schema-only
            # output as a write of its own would, unless an append sink
            # holds other output
            if mode == "append" and batch is not None:
                _delete(fs, Path(dst, f"{batch}-part-*"))
            if mode == "overwrite" or not fs.globStatus(Path(dst, "*part-*")):
                _save(df.limit(0).write.mode(mode), dst.toString(),
                      max_records_per_file)
            continue
        src = Path(staging, f"{SINK_COL}={i}")
        if mode == "overwrite":
            fs.delete(dst, True)
            fs.mkdirs(dst.getParent())
            _rename(fs, src, dst)
        else:
            _move_files(Path, fs, src, dst, batch)
        fs.create(Path(dst, "_SUCCESS"), True).close()
    fs.delete(staging, True)
    return counts


def _tag(df, predicates) -> tuple[DataFrame, Observation]:
    """df with one row per (row, sink i whose predicate holds) in
    SINK_COL, observing the rows tagged for each sink; a predicate of
    None matches every row."""
    tags = F.array(*[
        F.when(F.expr(p), F.lit(i)) if p else F.lit(i)
        for i, p in enumerate(predicates)
    ])
    obs = Observation()
    tagged = (
        df.withColumn(SINK_COL, F.explode(tags))
        .filter(F.col(SINK_COL).isNotNull())
        # count(when(...)), not count_if: Spark rewrites count_if's
        # repeated operand into Projects around the observe that copy
        # the whole row twice more
        .observe(obs, *[
            F.count(F.when(F.col(SINK_COL) == i, True)).alias(str(i))
            for i in range(len(predicates))
        ])
    )
    return tagged, obs


def _move_files(Path, fs, src, dst, batch: str | None) -> None:
    """Move the data files in src into dst; with a batch, first delete
    that batch's files and prefix the moved ones with it."""
    prefix = f"{batch}-" if batch is not None else ""
    if batch is not None:
        _delete(fs, Path(dst, f"{prefix}part-*"))
    fs.mkdirs(dst)
    for f in fs.globStatus(Path(src, "part-*")):
        _rename(fs, f.getPath(), Path(dst, prefix + f.getPath().getName()))


def _delete(fs, pattern) -> None:
    for old in fs.globStatus(pattern) or []:
        fs.delete(old.getPath(), False)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not move {src.toString()} to {dst.toString()}")
