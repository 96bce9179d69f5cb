"""``util.worker_task``: the per-task zip-finder refresh a reused
PySpark worker pays, and the rule that every function the package
ships to a Python worker goes through the decorator."""

from __future__ import annotations

import ast
import importlib
import inspect
import sys
import zipfile
import zipimport
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
import pytest

import sarfile_analyzer_ng_spark
from sarfile_analyzer_ng_spark.util import worker_task

pytestmark = pytest.mark.driver  # Tier-1 (see conftest)

PKG = "wt_probe_pkg"


def test_worker_task_leaves_no_zip_finder_to_refresh(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/first.py", "VALUE = 1\n")
        z.writestr(f"{PKG}/second.py", "VALUE = 2\n")

    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    try:
        sys.path.insert(0, archive)
        first = importlib.import_module(f"{PKG}.first")
        assert first.VALUE == 1
        finders = [f for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter)
                   and f.archive == archive]
        assert finders, "the import left no zip finder for the archive"

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads, "an unwrapped task start re-reads the archive"

        reads.clear()
        assert worker_task(lambda x: x + 1)(41) == 42
        importlib.invalidate_caches()
        assert reads == []

        second = importlib.import_module(f"{PKG}.second")
        assert second.VALUE == 2
        assert reads == []
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules
                     if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


# Every call that hands a function to a Python worker.
SHIPPING_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas",
                    "applyInPandasWithState"}


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _is_worker_task(node: ast.expr) -> bool:
    return (isinstance(node, ast.Name) and node.id == "worker_task") or (
        isinstance(node, ast.Attribute) and node.attr == "worker_task")


def _scope_defs(scope: ast.AST) -> dict[str, list[ast.FunctionDef]]:
    """Functions a scope binds by ``def``, not looking into nested
    functions or classes."""
    found: dict[str, list[ast.FunctionDef]] = {}
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef):
            found.setdefault(node.name, []).append(node)
        elif not isinstance(node, ast.Lambda | ast.ClassDef):
            todo.extend(ast.iter_child_nodes(node))
    return found


def _unwrapped_sites(tree: ast.Module) -> tuple[int, list[str]]:
    """(sites seen, descriptions of sites whose function is neither
    defined under ``@worker_task`` nor wrapped at the call)."""
    seen, bad = 0, []

    def visit(node: ast.AST, scopes: list[dict]) -> None:
        nonlocal seen
        if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef):
            scopes = scopes + [_scope_defs(node)]
        if isinstance(node, ast.Call):
            name = _call_name(node)
            if name in SHIPPING_METHODS or name == "pandas_udf":
                seen += 1
                arg = node.args[0] if node.args else None
                ok = False
                if isinstance(arg, ast.Call):
                    ok = _is_worker_task(arg.func)
                elif isinstance(arg, ast.Name):
                    defs = next((s[arg.id] for s in reversed(scopes)
                                 if arg.id in s), [])
                    ok = bool(defs) and all(
                        any(_is_worker_task(d) for d in fn.decorator_list)
                        for fn in defs)
                if not ok:
                    bad.append(f"line {node.lineno}: {name}")
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, [_scope_defs(tree)])
    return seen, bad


def test_every_function_shipped_to_a_python_worker_is_wrapped():
    root = Path(sarfile_analyzer_ng_spark.__file__).parent
    seen_in, unwrapped = set(), []
    for path in sorted(root.rglob("*.py")):
        seen, bad = _unwrapped_sites(ast.parse(path.read_text()))
        rel = path.relative_to(root).as_posix()
        if seen:
            seen_in.add(rel)
        unwrapped += [f"{rel} {b}" for b in bad]
    assert {"sources/sar_text.py", "functions/text.py",
            "functions/similarity.py",
            "functions/multimodal.py"} <= seen_in
    assert unwrapped == []


def test_wrapped_functions_keep_what_spark_inspects():
    """applyInPandas passes the group key only to a two-argument
    function, and pandas_udf infers its eval type from type hints."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.util import PythonEvalType

    def block(key, pdf):
        return pdf

    def series_iter(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        return it

    assert inspect.getfullargspec(worker_task(block)).args == ["key", "pdf"]
    udf = F.pandas_udf(worker_task(series_iter), T.DoubleType())
    assert udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_ITER_UDF
