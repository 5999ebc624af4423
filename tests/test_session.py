"""Session sizing: the default heap fits the host it starts on."""

from __future__ import annotations

import stat
import tempfile

import pytest

from rotel_spark.session import _default_driver_mem, _gc_options

GIB_KB = 1024 * 1024


def _gib(size: str) -> int:
    assert size.endswith("g"), size
    return int(size[:-1])


def test_default_heap_fits_half_of_memory():
    """On a 16 GB host the heap, with its pretouched ¾ young gen, stays
    within half of MemTotal (a fixed 16g/Xmn12g does not)."""
    for mem_kb in (16456384, 16 * GIB_KB):
        heap = _default_driver_mem(mem_kb)
        young = int(_gc_options(heap).split("-Xmn")[1].split("g")[0])
        assert _gib(heap) * GIB_KB <= mem_kb / 2, (mem_kb, heap)
        assert 1 <= young < _gib(heap)
        assert "-XX:+AlwaysPreTouch" in _gc_options(heap)


def test_default_heap_bounds():
    """At least 1g on a tiny host; capped at 16g; 16g when unknown."""
    assert _default_driver_mem(1 * GIB_KB) == "1g"
    assert _default_driver_mem(256 * GIB_KB) == "16g"
    assert _default_driver_mem(None) == "16g"


_NEW_GATEWAY = r"""
from pyspark import SparkContext

from rotel_spark.parsers.auto import parse_auto
from rotel_spark.parsers.nginx import parse_combined
from rotel_spark.session import build_spark

LINE = '10.0.0.1 - - [01/Dec/2025:10:00:00 +0000] "GET / HTTP/1.1" 503 7 "-" "-"'
for _ in range(2):
    spark = build_spark(master="local[1]", shuffle_partitions=1)
    df = spark.createDataFrame([(LINE,)], ["raw_line"])
    assert parse_auto(df).select("status").first()[0] == 503
    assert parse_combined(df).select("status").first()[0] == 503
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway.proc.kill()
    SparkContext._gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
"""


def _run(script: str, *args: str, env: dict | None = None) -> None:
    """Run script in a fresh Python process from the repo root."""
    import os
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    env = {**os.environ, "ROTEL_SPARK_DRIVER_MEM": "1g", **(env or {})}
    r = subprocess.run([sys.executable, "-c", script, *args], cwd=root,
                       env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]


def test_parser_caches_follow_a_new_gateway():
    """A session started in the same process after the first one's
    gateway shut down can still parse: the cached parser Columns are
    rebuilt for the new gateway."""
    _run(_NEW_GATEWAY)


_NO_FORK = r"""
import os
import stat
import sys

from rotel_spark import lineage
from rotel_spark.session import build_spark
from rotel_spark.sinks.writer import fan_out
from rotel_spark.streaming.stream import run_stream, stream_lines

out, log = sys.argv[1], os.environ["FORK_LOG"]
spark = build_spark(master="local[2]", shuffle_partitions=2)
jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
hfs = jvm.org.apache.hadoop.fs
fs = hfs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
fc = hfs.FileContext.getLocalFSFileContext(conf)
assert fs.getClass().getName() == "rotel_spark.jvm.ForklessLocalFileSystem"
assert (fc.getDefaultFileSystem().getClass().getName()
        == "rotel_spark.jvm.ForklessLocalFileSystem$Fs")
with open(os.path.join(out, "in.txt"), "w") as f:
    f.write("a\nb\n")
open(log, "w").close()

df, obs = lineage.observe_lineage(spark.range(100))
assert fan_out(df, [
    {"name": "even", "path": f"{out}/even", "predicate": "id % 2 = 0"},
    {"name": "all", "path": f"{out}/all"},
]) == {"even": 50, "all": 100}
lineage.write_lineage(obs.get, f"{out}/_lineage", run_id="r")
q = run_stream(spark, stream_lines(spark, f"{out}/*.txt"),
               {"sinks": [{"name": "lines", "path": f"{out}/lines"}]},
               f"{out}/ckpt", available_now=True)
q.awaitTermination(120)
assert spark.read.parquet(f"{out}/lines").count() == 2
forks = open(log).read()
assert not forks, forks

# the modes chmod set: 0644 files (.crc too), 0755 dirs
for sink in ("even", "all", "_lineage", "lines", "ckpt"):
    for d, dirs, files in os.walk(f"{out}/{sink}"):
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o755, d
        for n in files:
            p = os.path.join(d, n)
            assert stat.S_IMODE(os.stat(p).st_mode) == 0o644, p

# exact modes, the sticky bit through the forking fallback
os.mkdir(f"{out}/sticky")
open(f"{out}/plain", "w").close()
FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
for name, mode in (("plain", "640"), ("sticky", "1777")):
    fs.setPermission(hfs.Path(f"file://{out}/{name}"), FsPermission(mode))
    assert oct(stat.S_IMODE(os.stat(f"{out}/{name}").st_mode)) == f"0o{mode}"
forks = open(log).read().splitlines()
assert forks == [f"chmod 1777 {os.path.realpath(out)}/sticky"], forks
"""


@pytest.fixture
def fresh_launch(monkeypatch, tmp_path):
    """This process as if about to start its JVM, with its temp dir and
    Spark conf dir under tmp_path."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    for d in ("tmp", "conf"):
        (tmp_path / d).mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    return tmp_path


def test_no_process_per_file(fresh_launch):
    """Sinks, lineage and a stream checkpoint create their files without
    forking chmod, ls or stat (Hadoop's local filesystem without the
    native library forks chmod per created file), with the mode bits
    chmod set; a sticky-bit mode still goes through chmod. The session
    compiles its classes anew where a tmp cleaner left their cache dir
    empty."""
    import os
    import shutil

    from rotel_spark.session import _forkless_classes

    tmp_path = fresh_launch
    classes = _forkless_classes()
    shutil.rmtree(classes)
    os.mkdir(classes)

    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    for cmd in ("chmod", "ls", "stat"):
        wrapper = bin_dir / cmd
        wrapper.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "$FORK_LOG"\n'
                           f'exec {shutil.which(cmd)} "$@"\n')
        wrapper.chmod(0o755)
    out = tmp_path / "out"
    out.mkdir()
    _run(_NO_FORK, str(out), env={
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "FORK_LOG": str(tmp_path / "forks.log"),
        "TMPDIR": tempfile.tempdir,
    })


_LIVE_JVM = r"""
import sys

from pyspark.sql import SparkSession

from rotel_spark.session import _forkless_fs_conf, build_spark

# a JVM started without the filesystem class on its classpath
SparkSession.builder.master("local[1]").getOrCreate().stop()
assert _forkless_fs_conf("local[1]") == {}
spark = build_spark(master="local[1]", shuffle_partitions=1)
conf = spark._jsc.hadoopConfiguration()
assert conf.get("fs.file.impl") is None
assert conf.get("fs.AbstractFileSystem.file.impl") == (
    "org.apache.hadoop.fs.local.LocalFs")
spark.range(10).write.parquet(sys.argv[1])
assert spark.read.parquet(sys.argv[1]).count() == 10
"""


def test_live_jvm_keeps_stock_filesystem(tmp_path):
    """A session built on a JVM that was already running sets no
    filesystem override (that JVM lacks the class) and writes parquet."""
    _run(_LIVE_JVM, str(tmp_path / "t"))


def test_forkless_filesystem_only_where_it_loads(fresh_launch, monkeypatch):
    """A cluster master keeps the stock filesystem (its executors lack
    the class), and so do spark-submit arguments from the environment
    (they can set the driver classpath) and a host without javac."""
    from rotel_spark.session import _forkless_classes, _forkless_fs_conf

    assert _forkless_fs_conf("local[1]")
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert _forkless_fs_conf(master) == {}
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       "--driver-class-path /x.jar pyspark-shell")
    assert _forkless_fs_conf("local[1]") == {}
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", "")
    assert _forkless_classes() is None


def test_forkless_cache_is_this_users_own(fresh_launch, monkeypatch):
    """The classes are cached in a 0700 dir of this user's; one others
    can write, or a symlink, is not trusted. A JAVA_HOME without javac
    falls back to the javac on PATH."""
    import os

    from rotel_spark.session import _forkless_classes

    monkeypatch.setenv("JAVA_HOME", str(fresh_launch))
    classes = _forkless_classes()
    assert classes is not None
    cache = os.path.dirname(classes)
    assert os.path.basename(cache) == f"rotel_spark_fs-{os.getuid()}"
    assert stat.S_IMODE(os.stat(cache).st_mode) == 0o700
    assert _forkless_classes() == classes
    os.chmod(cache, 0o777)
    assert _forkless_classes() is None
    os.chmod(cache, 0o700)
    os.rename(cache, f"{cache}.real")
    os.symlink(f"{cache}.real", cache)
    assert _forkless_classes() is None


def test_forkless_filesystem_keeps_the_callers_confs(fresh_launch):
    """A driver classpath from spark-defaults.conf or the caller keeps
    its entries, the classes dir appended; a filesystem for file: named
    there stays."""
    import os

    from rotel_spark.session import _forkless_classes, _forkless_fs_conf

    classes = _forkless_classes()
    cp = "spark.driver.extraClassPath"
    defaults = fresh_launch / "conf" / "spark-defaults.conf"
    defaults.write_text(f"# site\n{cp}  /site.jar\n")
    assert _forkless_fs_conf("local[1]")[cp] == (
        f"/site.jar{os.pathsep}{classes}")
    assert _forkless_fs_conf("local[1]", {cp: "/mine.jar"})[cp] == (
        f"/mine.jar{os.pathsep}{classes}")
    for key in ("spark.hadoop.fs.file.impl",
                "spark.hadoop.fs.AbstractFileSystem.file.impl"):
        assert _forkless_fs_conf("local[1]", {key: "x"}) == {}
        defaults.write_text(f"{key}=x\n")
        assert _forkless_fs_conf("local[1]") == {}
