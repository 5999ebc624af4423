"""E2E pipeline tests: config → stages → fan-out sinks → lineage →
resume. Mirrors the reference's pipeline-level tests
(generic_pipeline.rs:457-666) and fanout ack semantics."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from rotel_spark.fixtures import extract_log_line, load_pages_full
from rotel_spark.lineage import (
    committed_ranges,
    observe_lineage,
    resume_filter,
    write_lineage,
)
from rotel_spark.plans.pipeline import build_pipeline, run_job
from rotel_spark.sinks.writer import fan_out
from tests.harness import plan_of


def _config(tmp: pathlib.Path, sf_dir: str) -> dict:
    return {
        "source": {"kind": "pages_synthetic", "sf_dir": sf_dir, "reps": 4},
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
            {"kind": "resource_attrs", "attrs": {"service.name": "web"}},
            {"kind": "route"},
        ],
        "sinks": [
            {"name": "errors", "predicate": "route = 'errors'",
             "path": str(tmp / "errors")},
            {"name": "ops", "predicate": "route = 'ops'",
             "path": str(tmp / "ops")},
            {"name": "archive", "predicate": "route = 'archive'",
             "path": str(tmp / "archive")},
            {"name": "all", "predicate": None, "path": str(tmp / "all")},
        ],
        "lineage_path": str(tmp / "_lineage"),
        "batch": {"max_records_per_file": 100},
    }


def test_run_job_per_sink_count_parity(spark, sf_unit, tmp_path):
    """Per-sink routed counts must equal an independently computed
    oracle on the same rows (north rule parity check)."""
    cfg = _config(tmp_path, sf_unit)
    counts = run_job(spark, cfg, run_id="r1")

    # oracle: recompute routing from the ground-truth columns
    pages = extract_log_line(load_pages_full(spark, sf_unit, reps=4))
    pdf = pages.select("page_id", "fmt", "status", "prio").toPandas()
    ok = pdf[pdf.fmt != 9]

    def sev(row):
        if row.fmt in (0, 2):
            return 17 if row.status >= 500 else 13 if row.status >= 400 else 9
        if row.fmt == 1:
            return {0: 17, 1: 13, 2: 10, 3: 17, 4: 21}[row.page_id % 5]
        if row.fmt == 3:
            return {0: 21, 1: 21, 2: 21, 3: 17, 4: 13, 5: 10, 6: 9, 7: 5}[
                row.prio % 8
            ]
        return 0

    sevs = ok.apply(sev, axis=1)
    exp = {
        "errors": int((sevs >= 17).sum()),
        "ops": int(((sevs >= 13) & (sevs < 17)).sum()),
        "archive": int((sevs < 13).sum()),
        "all": len(ok),
    }
    assert counts == exp

    # what was written is what was counted
    for name in ("errors", "ops", "archive", "all"):
        n = spark.read.parquet(str(tmp_path / name)).count()
        assert n == counts[name], name


def test_batch_max_records_per_file(spark, sf_unit, tmp_path):
    """batch.rs max-size semantic: no output file exceeds the cap."""
    cfg = _config(tmp_path, sf_unit)
    run_job(spark, cfg, run_id="r1")
    import pyarrow.parquet as pq

    for f in (tmp_path / "all").glob("*.parquet"):
        assert pq.ParquetFile(f).metadata.num_rows <= 100


def test_routed_row_equality(spark, sf_unit, tmp_path):
    """Routed-row equality per sink: the union of routed sinks equals
    the parsed set, and each sink holds exactly its route's rows."""
    cfg = _config(tmp_path, sf_unit)
    run_job(spark, cfg, run_id="r1")
    allr = spark.read.parquet(str(tmp_path / "all"))
    for name in ("errors", "ops", "archive"):
        sink = spark.read.parquet(str(tmp_path / name))
        assert sink.filter(F.col("route") != name).count() == 0
        exp = allr.filter(F.col("route") == name)
        assert (
            sink.select("page_id").exceptAll(exp.select("page_id")).count()
            == 0
        )
        assert sink.count() == exp.count()


def _observed(df):
    """Lineage values observed on one pass over df."""
    df, obs = observe_lineage(df)
    df.write.format("noop").mode("overwrite").save()
    return obs.get


def test_lineage_written_and_resume_skips_committed(spark, sf_unit, tmp_path):
    """Checkpoint semantics (offset_tracker.rs:50-63): committed ranges
    are never re-processed on resume."""
    pages = load_pages_full(spark, sf_unit, reps=4)
    lineage = str(tmp_path / "_lineage")

    first = pages.filter(F.col("page_id") < 1000)
    write_lineage(_observed(first), lineage, run_id="rX", sink_counts={"all": 0})
    cp = committed_ranges(spark, lineage, "rX")
    assert cp.count() > 0
    assert cp.agg(F.sum("rows_in")).collect()[0][0] == first.count()

    remaining = resume_filter(pages, cp)
    assert remaining.count() == pages.count() - first.count()
    assert remaining.filter(F.col("page_id") < 1000).count() == 0

    # idempotent second leg: process remaining, commit, nothing left
    write_lineage(
        _observed(remaining), lineage, run_id="rX", sink_counts={"all": 0}
    )
    cp2 = committed_ranges(spark, lineage, "rX")
    assert resume_filter(pages, cp2).count() == 0


def test_lineage_commit_writes_one_file(spark, tmp_path):
    """Each commit appends exactly one data file holding its one row;
    no empty files pile up in the lineage table."""
    lineage = tmp_path / "_lineage"
    observed = {"src_min": 0, "src_max": 9, "rows_in": 10, "rows_parsed": 9}
    for i in range(3):
        write_lineage(observed, str(lineage), run_id=f"r{i}")
    files = _part_files(lineage)
    assert len(files) == 3
    assert [spark.read.parquet(str(f)).count() for f in files] == [1, 1, 1]


def test_run_job_resume_processes_nothing_twice(spark, sf_unit, tmp_path):
    """Idempotent resume (offset_tracker.rs:50-63): re-running the same
    run_id after a full commit processes zero rows and sinks keep their
    original contents."""
    cfg = _config(tmp_path, sf_unit)
    for s in cfg["sinks"]:
        s["mode"] = "append"
    first = run_job(spark, cfg, run_id="rr")
    assert sum(first.values()) > 0
    second = run_job(spark, cfg, run_id="rr")
    assert all(v == 0 for v in second.values())
    # sink contents unchanged (no duplicates appended)
    n = spark.read.parquet(str(tmp_path / "all")).count()
    assert n == first["all"]


def test_run_job_rerun_keeps_overwrite_sinks(spark, sf_unit, tmp_path):
    """Re-running a committed run_id without a batch leaves every
    default (overwrite) sink holding the first run's rows: the resumed
    run appends the rows not yet committed, here none."""
    import shutil

    from pyspark.sql.types import MapType

    cfg = _config(tmp_path, sf_unit)
    counts = run_job(spark, cfg, run_id="r1")
    for name in counts:
        shutil.copytree(tmp_path / name, tmp_path / "first" / name)
    run_job(spark, cfg, run_id="r1")
    for name, n in counts.items():
        exp = spark.read.parquet(str(tmp_path / "first" / name))
        got = spark.read.parquet(str(tmp_path / name))
        # set operations take no map columns
        cols = [f.name for f in exp.schema
                if not isinstance(f.dataType, MapType)]
        exp, got = exp.select(cols), got.select(cols)
        assert got.count() == n > 0, name
        assert got.exceptAll(exp).count() == 0, name
        assert exp.exceptAll(got).count() == 0, name


def test_noop_rerun_commits_no_lineage_row(spark, sf_unit, tmp_path):
    """A re-run without a batch whose resume filter left no rows commits
    nothing: three runs of one run_id leave the first run's one lineage
    row, and every sink its row count."""
    cfg = _config(tmp_path, sf_unit)
    counts = run_job(spark, cfg, run_id="r1")
    for _ in range(2):
        run_job(spark, cfg, run_id="r1")
    rows = spark.read.parquet(cfg["lineage_path"]).collect()
    assert len(rows) == 1
    assert rows[0].rows_in == counts["all"] > 0
    for name, n in counts.items():
        assert spark.read.parquet(str(tmp_path / name)).count() == n, name


def test_pipeline_stage_order_preserved(spark):
    """processors.rs:561-573: stages chain in declared order."""
    import pyspark.sql.functions as F

    cfg = {
        "processors": [
            {"kind": "python", "fn": lambda df: df.withColumn("x", F.lit(1))},
            {
                "kind": "python",
                "fn": lambda df: df.withColumn("x", F.col("x") + 1),
            },
        ]
    }
    df = spark.range(3)
    out = build_pipeline(cfg).run(df)
    assert [r.x for r in out.collect()] == [2, 2, 2]


def test_fanout_broadcast_to_all(spark, tmp_path):
    """fanout.rs:17-20: no predicate → every sink gets every row."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    counts = fan_out(
        df,
        [
            {"name": "a", "path": str(tmp_path / "a")},
            {"name": "b", "path": str(tmp_path / "b")},
        ],
    )
    assert counts == {"a": 100, "b": 100}
    assert spark.read.parquet(str(tmp_path / "a")).count() == 100
    assert spark.read.parquet(str(tmp_path / "b")).count() == 100


def _part_files(root: pathlib.Path) -> list[pathlib.Path]:
    return [f for f in root.rglob("*part-*") if not f.name.endswith(".crc")]


def test_run_job_writes_every_sink_in_one_job(spark, sf_unit, tmp_path):
    """rotel sends each batch to every sink and acks once (payload.rs:
    426-439): all four sinks, routed and broadcast, come from one write
    job, so every part file carries that job's UUID."""
    import re

    cfg = _config(tmp_path, sf_unit)
    run_job(spark, cfg, run_id="r1")
    uuids = set()
    for name in ("errors", "ops", "archive", "all"):
        files = _part_files(tmp_path / name)
        assert files, name
        for f in files:
            uuids.add(re.search(r"part-\d+-([0-9a-f-]{36})", f.name).group(1))
    assert len(uuids) == 1, uuids
    assert not list(tmp_path.glob("_staging_*"))


def test_empty_sinks(spark, sf_unit, tmp_path):
    """A sink that matches no rows reads back with the frame's schema and
    0 rows; an append sink that matches no rows is left as it was."""
    cfg = _config(tmp_path, sf_unit)
    app = tmp_path / "none_append"
    spark.range(3).write.parquet(str(app))
    before = sorted(p.name for p in app.iterdir())
    cfg["sinks"] += [
        {"name": "none", "predicate": "route = 'nowhere'",
         "path": str(tmp_path / "none")},
        {"name": "none_append", "predicate": "route = 'nowhere'",
         "path": str(app), "mode": "append"},
    ]
    counts = run_job(spark, cfg, run_id="r1")
    assert counts["none"] == counts["none_append"] == 0
    empty = spark.read.parquet(str(tmp_path / "none"))
    assert empty.count() == 0
    assert empty.schema == spark.read.parquet(str(tmp_path / "all")).schema
    assert sorted(p.name for p in app.iterdir()) == before
    assert spark.read.parquet(str(app)).count() == 3


def test_null_predicate_excludes_row(spark, sf_unit, tmp_path):
    """A predicate that evaluates to NULL drops the row, as filter does."""
    cfg = _config(tmp_path, sf_unit)
    cfg["sinks"].append(
        {"name": "errors_or_null",
         "predicate": "CASE WHEN route = 'errors' THEN true END",
         "path": str(tmp_path / "errors_or_null")}
    )
    counts = run_job(spark, cfg, run_id="r1")
    assert counts["errors_or_null"] == counts["errors"] > 0
    got = spark.read.parquet(str(tmp_path / "errors_or_null"))
    exp = spark.read.parquet(str(tmp_path / "errors"))
    assert got.select("page_id").exceptAll(exp.select("page_id")).count() == 0
    assert got.count() == exp.count()


def test_resume_check_without_checkpoint_runs_no_job(
    spark, sf_unit, tmp_path, monkeypatch
):
    """A fresh lineage path is detected through its filesystem: no Spark
    job runs between the checkpoint read and the pipeline build."""
    import rotel_spark.lineage as lineage
    from rotel_spark.plans.pipeline import Pipeline

    sc = spark.sparkContext
    group = "resume-check-test"
    seen: dict[str, list[int]] = {}
    real_ranges, real_run = lineage.committed_ranges, Pipeline.run

    def ranges(*a, **kw):
        seen["ranges"] = list(sc.statusTracker().getJobIdsForGroup(group))
        return real_ranges(*a, **kw)

    def run(self, df):
        seen.setdefault(
            "plan", list(sc.statusTracker().getJobIdsForGroup(group))
        )
        return real_run(self, df)

    monkeypatch.setattr(lineage, "committed_ranges", ranges)
    monkeypatch.setattr(Pipeline, "run", run)
    sc.setJobGroup(group, group)
    try:
        run_job(spark, _config(tmp_path, sf_unit), run_id="r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(seen["ranges"]) == sorted(seen["plan"])


@pytest.mark.parametrize("extra", [
    {"format": "json"},
    {"partition_by": ["p"]},
    {"predicte": "id < 50"},
    {"mode": "upsert"},
], ids=["format", "partition_by", "misspelled_predicate", "mode"])
def test_fanout_rejects_spec_before_writing(spark, tmp_path, extra):
    """A sink spec is {name, path, predicate, mode}: another key or mode
    is rejected before anything is written (a misspelled predicate would
    otherwise send that sink every row)."""
    df = spark.range(100).withColumn("p", F.col("id") % 3)
    with pytest.raises(ValueError):
        fan_out(df, [
            {"name": "a", "predicate": "id < 50", "path": str(tmp_path / "a")},
            {"name": "b", "path": str(tmp_path / "b"), **extra},
        ])
    assert not list(tmp_path.iterdir())


def test_fanout_rerun_clears_crashed_unbatched_staging(spark, tmp_path):
    """A run without a batch that dies mid-write leaves its staging dir
    where the next run of the same sinks clears it; that run's sinks
    equal a clean run's."""
    def sinks(base):
        return [{"name": n, "predicate": p, "path": str(base / n)}
                for n, p in (("even", "id % 2 = 0"), ("odd", "id % 2 = 1"))]

    df = spark.range(1000)
    crash = df.withColumn("_c", F.when(
        F.col("id") == 999, F.raise_error(F.lit("injected crash"))))
    run = tmp_path / "run"
    for _ in range(2):
        with pytest.raises(Exception, match="injected crash"):
            fan_out(crash, sinks(run))
    assert list(run.glob("_staging_*"))
    counts = fan_out(df, sinks(run))
    assert not list(run.glob("_staging_*"))
    assert counts == fan_out(df, sinks(tmp_path / "clean"))
    for s in sinks(run):
        assert spark.read.parquet(s["path"]).count() == counts[s["name"]]


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_fanout_retried_batch_empties_append_sink(spark, tmp_path, mode):
    """A retried batch replaces its earlier attempt's output in every
    sink, also in one it no longer writes a row to. An append sink holds
    the batch as files in its path, an overwrite sink in
    <path>/batch=<batch>."""
    sinks = [
        {"name": n, "predicate": p, "path": str(tmp_path / n), "mode": mode}
        for n, p in (("a", "id % 2 = 0"), ("b", "id % 2 = 1"))
    ]
    assert fan_out(spark.range(10), sinks, batch="x-1") == {"a": 5, "b": 5}
    assert fan_out(spark.range(0, 10, 2), sinks, batch="x-1") == {
        "a": 5, "b": 0
    }
    sub = "batch=x-1" if mode == "overwrite" else ""
    if sub:
        for n in ("a", "b"):
            assert [p.name for p in (tmp_path / n).iterdir()
                    if p.name[0] not in "._"] == [sub], n
    a = spark.read.parquet(str(tmp_path / "a" / sub))
    assert sorted(r.id for r in a.collect()) == [0, 2, 4, 6, 8]
    assert spark.read.parquet(str(tmp_path / "b" / sub)).count() == 0
    assert not list(tmp_path.rglob("_staging_*"))


def _bench_config(spark, sf_unit, tmp_path) -> tuple[str, dict]:
    import bench
    from rotel_spark.fixtures import materialize_pages

    pages = str(tmp_path / "pages")
    materialize_pages(spark, sf_unit, 4, pages, partitions=4)
    return pages, bench.pipeline_config(pages, str(tmp_path / "routed"))


def test_bench_pipeline_plan_shape(spark, sf_unit, tmp_path):
    """The benchmarked pipeline enriches through a broadcast join and
    shuffles nothing before the routed write."""
    import re

    pages, cfg = _bench_config(spark, sf_unit, tmp_path)
    df = build_pipeline(cfg).run(spark.read.parquet(pages))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan


def test_bench_pipeline_sinks(spark, sf_unit, tmp_path):
    """run_job on the benchmarked config writes every parsed row to the
    sink of its route, enriched and projected."""
    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.plans.routing import with_route

    pages, cfg = _bench_config(spark, sf_unit, tmp_path)
    counts = run_job(spark, cfg)
    parsed = parse_auto(extract_log_line(spark.read.parquet(pages)))
    exp = {
        r["route"]: r["count"]
        for r in with_route(parsed.filter("parse_ok"))
        .groupBy("route")
        .count()
        .collect()
    }
    assert counts == exp
    for s in cfg["sinks"]:
        got = spark.read.parquet(s["path"])
        assert {"html_bytes", "tld_type"} <= set(got.columns), s["name"]
        assert got.count() == counts[s["name"]], s["name"]


def test_parquet_sinks_carry_no_dictionary_pages(spark, sf_unit, tmp_path):
    """Parquet sinks are written PLAIN: no column chunk of any sink file
    (routed, overlapping or empty) has a dictionary page or encoding."""
    import pyarrow.parquet as pq

    cfg = _config(tmp_path, sf_unit)
    cfg["sinks"].append({"name": "none", "predicate": "route = 'nowhere'",
                         "path": str(tmp_path / "none")})
    counts = run_job(spark, cfg, run_id="r1")
    assert counts["none"] == 0 and counts["all"] > 0
    chunks = 0
    for s in cfg["sinks"]:
        files = _part_files(pathlib.Path(s["path"]))
        assert files, s["name"]
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for g in range(meta.num_row_groups):
                for c in range(meta.num_columns):
                    col = meta.row_group(g).column(c)
                    chunks += 1
                    assert not col.has_dictionary_page, (f, col.path_in_schema)
                    assert not [e for e in col.encodings
                                if e.endswith("_DICTIONARY")], (f, col)
    assert chunks


def test_fanout_tag_is_codegen(spark):
    """The sink tag (routed, NULL-yielding and broadcast predicates)
    is a Generate inside whole-stage codegen, not an interpreted one."""
    import re

    from rotel_spark.sinks.writer import SINK_COL, _tag

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    tagged, _ = _tag(df, ["id < 50", "CASE WHEN id >= 90 THEN true END",
                          None])
    plan = plan_of(tagged)
    gens = [ln for ln in plan.splitlines() if "Generate " in ln]
    assert gens, plan
    assert all(re.search(r"\*\(\d+\) Generate ", ln) for ln in gens), plan
    got = {r[SINK_COL]: r["count"]
           for r in tagged.groupBy(SINK_COL).count().collect()}
    assert got == {0: 50, 1: 10, 2: 100}


def test_parse_auto_filter_keeps_one_combined_capture(spark, sf_unit):
    """parse_auto's rand(0) barrier keeps a downstream parse_ok filter
    from copying the parse into the Filter: the COMBINED capture is
    evaluated once."""
    from rotel_spark.parsers.nginx import COMBINED_PATTERN

    cfg = {"processors": [
        {"kind": "python", "fn": extract_log_line},
        {"kind": "parse_auto"},
        {"kind": "filter", "expr": "parse_ok"},
        {"kind": "route"},
    ]}
    df = build_pipeline(cfg).run(load_pages_full(spark, sf_unit, reps=4))
    plan = plan_of(df)
    assert plan.count(COMBINED_PATTERN) == 1, plan
