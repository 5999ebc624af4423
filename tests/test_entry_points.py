"""The kept entry points still import: every name that bench.py,
job.py, __spark_entry__.py, scripts/**/*.py and perfbench/*.py import
from rotel_spark, bench or __spark_entry__ exists; every rotel_spark
module but the listed exporter layers is reached from them; and every
top-level name of a reached module is used outside tests, but for the
listed oracles.
Checked statically (the files are parsed, not run), so deleting a name
a query or script still uses, or leaving a new module or name no entry
point reaches, fails here."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENTRY_POINTS = sorted(
    [ROOT / "bench.py", ROOT / "job.py", ROOT / "__spark_entry__.py"]
    + list((ROOT / "scripts").rglob("*.py"))
    + list((ROOT / "perfbench").glob("*.py"))
)
CHECKED = ("rotel_spark", "bench", "__spark_entry__")
# Exporter layers kept with their reference-vector tests although no
# config kind reaches them yet; each leaves this list when it is put on
# a path or deleted.
UNREACHED = (
    "rotel_spark/sinks/aws_auth.py",
    "rotel_spark/sinks/emf_request.py",
)


def _checked(module: str) -> bool:
    return module.split(".")[0] in CHECKED


def _package(path: pathlib.Path) -> list[str]:
    """The dotted package a file's relative imports resolve against."""
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return parts if parts[-1] == "__init__" else parts[:-1]


def _imports(path: pathlib.Path) -> list[tuple[str, str | None]]:
    """(module, name) for every checked import, function-local ones
    included; name None for `import m`. A relative import is resolved
    to its absolute module."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            module = node.module
            if node.level:
                pkg = _package(path)
                base = pkg[: len(pkg) - node.level + 1]
                module = ".".join(base + ([module] if module else []))
            if module and _checked(module):
                out += [(module, a.name) for a in node.names]
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


def _module_file(module: str) -> pathlib.Path | None:
    path = ROOT.joinpath(*module.split("."))
    for f in (path.with_suffix(".py"), path / "__init__.py"):
        if f.is_file():
            return f
    return None


def test_every_module_reached():
    """Every rotel_spark module but UNREACHED is imported, directly or
    through other rotel_spark modules, from an entry point; a module
    only tests import is on no product path."""
    reached: set[pathlib.Path] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        for module, name in _imports(todo.pop()):
            parts = module.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too;
            # `from pkg import name` may name a submodule
            candidates = [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
            if name is not None:
                candidates.append(f"{module}.{name}")
            for f in filter(None, map(_module_file, candidates)):
                if f not in reached:
                    reached.add(f)
                    todo.append(f)
    modules = set((ROOT / "rotel_spark").rglob("*.py"))
    unreached = sorted(str(f.relative_to(ROOT)) for f in modules - reached)
    assert unreached == sorted(UNREACHED), "unreached: " + ", ".join(unreached)


# Names kept although no product path calls them: each is the reference
# a test checks live code against (name, that test).
ORACLES = (
    (
        "rotel_spark/fixtures.py:extract_text",
        "tests/test_fixtures.py::test_html_roundtrip_byte_identical",
    ),
    (
        "rotel_spark/schema.py:LOG_RECORD_SCHEMA",
        "tests/test_schema_debug.py::test_log_record_row_shape",
    ),
    (
        "rotel_spark/schema.py:log_record_columns",
        "tests/test_schema_debug.py::test_log_record_row_shape",
    ),
    (
        "rotel_spark/sinks/otlp_shape.py:from_resource_logs_tree",
        "tests/test_otlp_shape.py::test_tree_roundtrip_lossless",
    ),
    (
        "rotel_spark/telemetry.py:emf_group_datapoints",
        "tests/test_telemetry.py"
        "::test_emf_group_events_matches_generic_composition",
    ),
)


def _definitions(path: pathlib.Path) -> list[str]:
    """Top-level functions, classes and assigned names of a module,
    dunders left out."""
    out: list[str] = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out.append(node.name)
        elif isinstance(node, ast.AnnAssign):
            out.append(node.target.id)
        elif isinstance(node, ast.Assign):
            out += [
                n.id
                for t in node.targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
    return [n for n in out if not (n.startswith("__") and n.endswith("__"))]


def _references(path: pathlib.Path) -> set[tuple[str, str | None]]:
    """(identifier, enclosing top-level definition) for every read of a
    name, attribute or imported name in a file. The enclosing name is
    None at module level; it keeps a definition's own body from
    counting as a use of it."""
    refs: set[tuple[str, str | None]] = set()
    for top in ast.parse(path.read_text()).body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                if not isinstance(node.ctx, ast.Store):
                    refs.add((node.id, owner))
            elif isinstance(node, ast.Attribute):
                refs.add((node.attr, owner))
            elif isinstance(node, ast.ImportFrom):
                refs.update((a.name, owner) for a in node.names)
    return refs


def test_every_name_reached():
    """Every top-level function, class and constant of a reached
    rotel_spark module is used by a non-test file, its own definition
    aside; a name only tests call is on no product path. The ORACLES
    are the exceptions, and each must still be used by its test."""
    unreached = {ROOT / p for p in UNREACHED}
    modules = sorted(set((ROOT / "rotel_spark").rglob("*.py")) - unreached)
    refs = {p: _references(p) for p in ENTRY_POINTS + modules}
    oracles = dict(ORACLES)
    unused = [
        key
        for path in modules
        for name in _definitions(path)
        if (key := f"{path.relative_to(ROOT)}:{name}") not in oracles
        and not any(
            ident == name and (src != path or owner != name)
            for src, found in refs.items()
            for ident, owner in found
        )
    ]
    assert not unused, "used only by tests: " + ", ".join(unused)
    for key, test in ORACLES:
        test_file, test_name = test.split("::")
        used = _references(ROOT / test_file)
        assert (key.split(":")[1], test_name) in used, key
