"""The driver contract: entry() returns rows, every queries() key has a
callable, oracle keys are a subset, and results carry stable schemas;
no engine name is reached only from tests, and no engine option is
left at its default by every caller."""

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
# Every module that may use engine code: the package, tools/,
# perfbench/ (its own test module aside), bench.py and the entry.
USERS = [*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py"),
         *(p for p in (ROOT / "perfbench").rglob("*.py")
           if p.name != "test_perfbench.py"),
         ROOT / "bench.py", ROOT / "__spark_entry__.py"]

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
    referenced = set().union(*map(_referenced_names, USERS))
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


# Keyword options of engine functions that only tests set, each with
# the reason a test sets it. The set may only shrink.
OPTIONS_ONLY_TESTS_SET = {
    "functions/similarity.py:cosine_dup_pairs.rows_per_block":
        "a small block forces the multi-block path on test-sized data",
    "functions/similarity.py:semdedup.rows_per_chunk":
        "a small chunk forces the multi-chunk path on test-sized data",
    "functions/similarity.py:semdedup.assigned":
        "tests hand in an explicit or an IVF cluster assignment",
    "operators/timeseries.py:resample_filled.max_buckets":
        "a low cap checks that a runaway bucket grid is refused",
    "functions/dedup.py:dup_clusters.max_iter":
        "a low cap checks that non-convergence logs a warning",
    "functions/text.py:budget_select.approx":
        "tests compare the approximate cut with the exact one",
    "operators/reshape.py:pivot_wide.agg":
        "test_unpivot_roundtrip names the aggregate it pivots with",
    "operators/sketches.py:approx_distinct.rsd":
        "test_approx_distinct_within_rsd sets the error bound it checks",
    "functions/similarity.py:jl_project.seed_tag":
        "tests check that another seed gives another projection",
    "functions/pipeline.py:assemble_training_data.source_weights":
        "tests check the optional mixture-weighting stage",
    "queries.py:_sql_kcenter.k":
        "the degenerate-input parity tests replay the oracle at small k",
    "functions/dedup.py:minhash_lsh_pairs.max_df":
        "test_minhash_lsh_pairs_max_df_caps_hot_bands checks the hot-band cap",
}


def _passed_options(paths: list[Path]) -> tuple[dict, dict, set]:
    """For every callee name: the keywords passed to it, the largest
    number of positional arguments passed to it, and whether any call
    passes ``*args`` or ``**kwargs`` (which may set any option)."""
    keywords, positional, splat = {}, {}, set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name is None:
                continue
            if (any(isinstance(a, ast.Starred) for a in node.args)
                    or any(k.arg is None for k in node.keywords)):
                splat.add(name)
            keywords.setdefault(name, set()).update(
                k.arg for k in node.keywords)
            positional[name] = max(positional.get(name, 0), len(node.args))
    return keywords, positional, splat


def test_no_engine_option_is_left_at_its_default():
    """Every parameter with a default of a function in operators/,
    functions/, queries.py, util.py or catalog.py is passed — by
    keyword, by position or through ``*``/``**`` — at one or more call
    sites outside tests/. An option that every caller leaves at its
    default is a constant: write the value where it is used. Calls
    match by the callee's name, so a name two functions share counts
    the calls of both."""
    keywords, positional, splat = _passed_options(USERS)
    engine = [*(PKG / "operators").glob("*.py"),
              *(PKG / "functions").glob("*.py"),
              PKG / "queries.py", PKG / "util.py", PKG / "catalog.py"]
    unset = set()
    for path in engine:
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef | ast.AsyncFunctionDef):
                continue
            args = fn.args
            params = [*args.posonlyargs, *args.args]
            first = len(params) - len(args.defaults)
            options = [(i, p.arg) for i, p in enumerate(params)
                       if i >= first]
            options += [(None, p.arg) for p, d in zip(args.kwonlyargs,
                                                      args.kw_defaults)
                        if d is not None]
            for index, option in options:
                if (fn.name in splat
                        or option in keywords.get(fn.name, ())
                        or (index is not None
                            and index < positional.get(fn.name, 0))):
                    continue
                unset.add(f"{path.relative_to(PKG).as_posix()}:"
                          f"{fn.name}.{option}")
    assert unset == set(OPTIONS_ONLY_TESTS_SET)
    assert len(OPTIONS_ONLY_TESTS_SET) <= 12
