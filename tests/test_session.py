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
