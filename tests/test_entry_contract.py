"""The driver contract: entry() returns rows, every queries() key has a
callable, oracle keys are a subset, and results carry stable schemas;
and no engine name is reached only from tests."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entry_mod
import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "sum_qty" in df.columns


def test_registry_shape(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 30
    assert set(oracles) <= set(qs)
    # r8: the last five rows-only keys graduated to full value-hash
    # oracles — q31/q32 via the md5+affine portable hash families,
    # q36 via seeded dyadic literal planes, q50 via the q54
    # bound-gate form, q90 via the unrolled list_reduce merge chain.
    # EVERY registry key now has a SQL oracle; keep it that way.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "sarfile_analyzer_ng_spark"

# Engine names that only tests reach, each with the reason a test
# keeps it. The set may only shrink, and holds at most five names.
ONLY_TESTS_REACH = {
    "functions/web.py:registrable_domain":
        "the InSet column form test_wave19 checks the registry's join "
        "form (attach_registrable_domain) against",
    "sources/sar_text.py:parse_sar_text":
        "the row view test_read_files_matches_row_views and the sar "
        "fuzzer compare the distributed read against",
    "util.py:RND_PARITY_MAX_SCALED":
        "the rounding-contract bound test_rounding_parity checks the "
        "generated data against",
}


def _referenced_names(path: Path) -> set[str]:
    """Every name a module reads, reads as an attribute or imports;
    a name that is only assigned is not a reference."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif (isinstance(node, ast.Attribute)
              and not isinstance(node.ctx, ast.Store)):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def _defined_names(node: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a function, a class,
    or the targets of a module-level assignment."""
    if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef
                  | ast.ClassDef):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)]


def test_no_engine_code_is_reached_only_from_tests():
    """The top-level functions, classes and module-level assignments
    of the engine modules (operators/, functions/, sources/, util.py,
    catalog.py, queries.py) must each be named somewhere outside
    tests/: in the package, tools/, perfbench/ (its own test module
    aside), bench.py or __spark_entry__.py. The facade modules are
    entry points and are not scanned."""
    users = [*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py"),
             *(p for p in (ROOT / "perfbench").rglob("*.py")
               if p.name != "test_perfbench.py"),
             ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    referenced = set().union(*map(_referenced_names, users))
    engine = [*(PKG / "operators").glob("*.py"),
              *(PKG / "functions").glob("*.py"),
              *(PKG / "sources").glob("*.py"),
              PKG / "util.py", PKG / "catalog.py", PKG / "queries.py"]
    only_tests = {
        f"{path.relative_to(PKG).as_posix()}:{name}"
        for path in engine
        for node in ast.parse(path.read_text()).body
        for name in _defined_names(node)
        if name not in referenced
        and not (name.startswith("__") and name.endswith("__"))
    }
    assert only_tests == set(ONLY_TESTS_REACH)
    assert len(ONLY_TESTS_REACH) <= 5
