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

* Parquet sinks are written without dictionary encoding. Log-record
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
from pyspark.storagelevel import StorageLevel

SINK_COL = "_sink"


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, qualified Path) of path, for any scheme Hadoop knows."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def _save(df, fmt, partition_by, mode, path, max_records_per_file) -> None:
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if fmt == "parquet":
        w = w.option("parquet.enable.dictionary", "false")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "noop":
        w.format("noop").save()
    else:
        w.format(fmt).save(path)


def fan_out(
    df: DataFrame,
    sinks: list[dict],
    max_records_per_file: int = 8192,
    batch: str | None = None,
) -> dict[str, int]:
    """Write df to every sink; returns {sink_name: rows_written}.

    sink spec: {"name": str, "path": str, "predicate": str | None,
                "format": "parquet" | "json" | "noop",
                "partition_by": [col, ...] | None,
                "mode": "overwrite" | "append"}
    predicate=None → broadcast-to-all (rotel fanout); a predicate makes
    it a routed sink (north rule). A row whose predicate is NULL is not
    written, as with ``filter``.

    Sinks that differ in format or partition_by, or live on another
    filesystem, cannot share a write: each such group gets its own, and
    df is persisted only when there is more than one group.

    batch: names the staging directory, and the files moved into
    ``append`` sinks, after it; a retried batch first removes the files
    an earlier attempt of it left. Without it the staging directory is
    named after the sinks' paths, so a re-run clears a crashed run's.
    """
    spark = df.sparkSession
    groups: dict[tuple, list] = {}
    for spec in sinks:
        if spec.get("mode", "overwrite") not in ("overwrite", "append"):
            raise ValueError(f"sink {spec['name']}: unsupported mode")
        fmt = spec.get("format", "parquet")
        fs = dst = None
        if fmt != "noop":
            fs, dst = hadoop_path(spark, spec["path"])
        key = (fmt, tuple(spec.get("partition_by") or ()),
               fs and fs.getUri().toString())
        groups.setdefault(key, []).append((spec, fs, dst))
    multi = len(groups) > 1
    if multi:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    counts: dict[str, int] = {}
    try:
        for g, ((fmt, partition_by, _), targets) in enumerate(groups.items()):
            tag = batch
            if tag is None:
                paths = " ".join(str(dst) for _, _, dst in targets)
                tag = f"{zlib.crc32(paths.encode()):08x}"
            counts.update(_write_group(
                df, targets, fmt, list(partition_by), max_records_per_file,
                f"_staging_{tag}-{g}", batch,
            ))
    finally:
        if multi:
            df.unpersist()
    return {s["name"]: counts[s["name"]] for s in sinks}


def _write_group(df, targets, fmt, partition_by, max_records_per_file,
                 staging_name, batch) -> dict[str, int]:
    """One partitioned write of the rows of every (spec, fs, path) in
    targets, then the moves into the sinks' paths."""
    tagged, obs = _tag(df, [s.get("predicate") for s, _, _ in targets])
    Path = df.sparkSession._jvm.org.apache.hadoop.fs.Path
    fs = targets[0][1]
    if fmt == "noop":
        _save(tagged, fmt, None, "overwrite", None, max_records_per_file)
    else:
        staging = Path(targets[0][2].getParent(), staging_name)
        _save(tagged, fmt, [SINK_COL, *partition_by], "overwrite",
              staging.toString(), max_records_per_file)
    got = obs.get
    counts = {s["name"]: got[str(i)] for i, (s, _, _) in enumerate(targets)}
    if fmt == "noop":
        return counts
    for i, (spec, _, dst) in enumerate(targets):
        mode = spec.get("mode", "overwrite")
        if not counts[spec["name"]]:
            # a partitioned write makes no directory for an empty sink:
            # drop an earlier attempt's files, then write schema-only
            # output as a write of its own would, unless an append sink
            # holds other output
            levels = "*/" * len(partition_by)
            if mode == "append" and batch is not None:
                _delete(fs, Path(dst, f"{levels}{batch}-part-*"))
            if mode == "overwrite" or not fs.globStatus(
                    Path(dst, f"{levels}*part-*")):
                _save(df.limit(0), fmt, partition_by, mode, spec["path"],
                      max_records_per_file)
            continue
        src = Path(staging, f"{SINK_COL}={i}")
        if mode == "overwrite":
            fs.delete(dst, True)
            fs.mkdirs(dst.getParent())
            _rename(fs, src, dst)
        else:
            _move_files(Path, fs, src, dst, len(partition_by), batch)
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


def _move_files(Path, fs, src, dst, depth: int, batch: str | None) -> None:
    """Move the data files under src into dst, keeping their partition
    subdirectories; with a batch, first delete that batch's files."""
    prefix = f"{batch}-" if batch is not None else ""
    levels = "*/" * depth
    if batch is not None:
        _delete(fs, Path(dst, f"{levels}{prefix}part-*"))
    fs.mkdirs(dst)
    for f in fs.globStatus(Path(src, f"{levels}part-*")):
        p = f.getPath()
        sub, parent = [prefix + p.getName()], p.getParent()
        for _ in range(depth):
            sub.insert(0, parent.getName())
            parent = parent.getParent()
        target = Path(dst, "/".join(sub))
        if depth:
            fs.mkdirs(target.getParent())
        _rename(fs, p, target)


def _delete(fs, pattern) -> None:
    for old in fs.globStatus(pattern) or []:
        fs.delete(old.getPath(), False)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not move {src.toString()} to {dst.toString()}")
