"""Session sizing: the default heap fits the host it starts on."""

from __future__ import annotations

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


def test_parser_caches_follow_a_new_gateway():
    """A session started in the same process after the first one's
    gateway shut down can still parse: the cached parser Columns are
    rebuilt for the new gateway."""
    import os
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    env = {**os.environ, "ROTEL_SPARK_DRIVER_MEM": "1g"}
    r = subprocess.run([sys.executable, "-c", _NEW_GATEWAY], cwd=root,
                       env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
