"""The kept entry points still import: every name that bench.py,
job.py, scripts/*.py and perfbench/*.py import from rotel_spark, bench
or __spark_entry__ exists. Checked statically (the files are parsed,
not run), so deleting a name a script still uses fails here."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENTRY_POINTS = sorted(
    [ROOT / "bench.py", ROOT / "job.py"]
    + list((ROOT / "scripts").glob("*.py"))
    + list((ROOT / "perfbench").glob("*.py"))
)
CHECKED = ("rotel_spark", "bench", "__spark_entry__")


def _checked(module: str) -> bool:
    return module.split(".")[0] in CHECKED


def _imports(path: pathlib.Path) -> list[tuple[str, str | None]]:
    """(module, name) for every checked import; name None for `import m`."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module and _checked(node.module):
                out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if _checked(a.name)]
    return out


def test_entry_points_found():
    names = {p.name for p in ENTRY_POINTS}
    assert {"bench.py", "job.py", "run.py", "qtime.py"} <= names


@pytest.mark.parametrize(
    "path", ENTRY_POINTS, ids=lambda p: str(p.relative_to(ROOT))
)
def test_imports_resolve(path):
    missing = []
    for module, name in _imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        is_pkg = hasattr(mod, "__path__")  # `from pkg import submodule`
        if not (is_pkg and importlib.util.find_spec(f"{module}.{name}")):
            missing.append(f"from {module} import {name}")
    assert not missing, missing
