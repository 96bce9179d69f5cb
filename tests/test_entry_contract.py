"""The driver contract: entry() returns rows, every queries() key has a
callable, oracle keys are a subset, and results carry stable schemas;
no engine name is reached only from tests, and no engine option is
left at its default by every caller or passed only its default."""

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
    "functions/similarity.py:jl_project.seed_tag":
        "tests check that another seed gives another projection",
    "functions/pipeline.py:assemble_training_data.source_weights":
        "tests check the optional mixture-weighting stage",
    "queries.py:_sql_kcenter.k":
        "the degenerate-input parity tests replay the oracle at small k",
    "functions/dedup.py:minhash_lsh_pairs.max_df":
        "test_minhash_lsh_pairs_max_df_caps_hot_bands checks the hot-band cap",
}


def _calls(paths: list[Path]) -> dict[str, list[ast.Call]]:
    """Every call in ``paths``, by the callee's name."""
    calls = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "id", None) or getattr(func, "attr", None)
                if name is not None:
                    calls.setdefault(name, []).append(node)
    return calls


def _splat(call: ast.Call) -> bool:
    """Whether a call passes ``*args`` or ``**kwargs``, which may set
    any option."""
    return (any(isinstance(a, ast.Starred) for a in call.args)
            or any(k.arg is None for k in call.keywords))


def _options(paths: list[Path]):
    """``(path, function, positional index or None, name, default)``
    for every parameter with a default of a function in ``paths``; the
    index counts call arguments, so a method's ``self``/``cls`` is not
    one."""
    for path in paths:
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef | ast.AsyncFunctionDef):
                continue
            args = fn.args
            params = [*args.posonlyargs, *args.args]
            shift = int(bool(params) and params[0].arg in ("self", "cls"))
            first = len(params) - len(args.defaults)
            for i, (p, d) in enumerate(zip(params[first:], args.defaults),
                                       start=first):
                yield path, fn.name, i - shift, p.arg, d
            for p, d in zip(args.kwonlyargs, args.kw_defaults):
                if d is not None:
                    yield path, fn.name, None, p.arg, d


def _passed(call: ast.Call, index: int | None, option: str) -> list:
    """The argument expressions a call passes to one option."""
    passed = [k.value for k in call.keywords if k.arg == option]
    if index is not None and index < len(call.args):
        passed.append(call.args[index])
    return passed


def test_no_engine_option_is_left_at_its_default():
    """Every parameter with a default of a function in operators/,
    functions/, queries.py, util.py or catalog.py is passed — by
    keyword, by position or through ``*``/``**`` — at one or more call
    sites outside tests/. An option that every caller leaves at its
    default is a constant: write the value where it is used. Calls
    match by the callee's name, so a name two functions share counts
    the calls of both."""
    calls = _calls(USERS)
    engine = [*(PKG / "operators").glob("*.py"),
              *(PKG / "functions").glob("*.py"),
              PKG / "queries.py", PKG / "util.py", PKG / "catalog.py"]
    unset = {
        f"{path.relative_to(PKG).as_posix()}:{name}.{option}"
        for path, name, index, option, _ in _options(engine)
        if not any(_splat(c) or _passed(c, index, option)
                   for c in calls.get(name, ()))
    }
    assert unset == set(OPTIONS_ONLY_TESTS_SET)
    assert len(OPTIONS_ONLY_TESTS_SET) <= 10


_UNKNOWN = object()


def _bind(target: ast.expr, value: ast.expr | None, consts: dict) -> None:
    """Record what one assignment target binds: a name gets the literal
    of ``value``; a tuple or list target takes the elements of a tuple
    or list value of the same length one by one; any other pairing
    binds its names to :data:`_UNKNOWN`."""
    if isinstance(target, ast.Name):
        consts.setdefault(target.id, []).append(_literal(value, {}))
    elif (isinstance(target, ast.Tuple | ast.List)
          and isinstance(value, ast.Tuple | ast.List)
          and len(target.elts) == len(value.elts)
          and not any(isinstance(e, ast.Starred)
                      for e in (*target.elts, *value.elts))):
        for t, v in zip(target.elts, value.elts):
            _bind(t, v, consts)
    else:
        for n in ast.walk(target):
            if isinstance(n, ast.Name):
                consts.setdefault(n.id, []).append(_UNKNOWN)


def _module_constants(paths: list[Path]) -> dict[str, list]:
    """For every name a module-level assignment in ``paths`` binds, the
    value of each binding: the literal it assigns, or :data:`_UNKNOWN`
    (see :func:`_bind`)."""
    consts = {}
    for path in paths:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            else:
                continue
            for target in targets:
                _bind(target, node.value, consts)
    return consts


def _literal(expr: ast.expr | None, consts: dict[str, list]):
    """The value of an argument or default: a literal, or a bare or
    dotted name the scanned modules bind exactly once to a literal at
    module level; :data:`_UNKNOWN` for anything else."""
    if expr is None:
        return _UNKNOWN
    try:
        return ast.literal_eval(expr)
    except (ValueError, TypeError, SyntaxError, MemoryError,
            RecursionError):
        pass
    name = (expr.id if isinstance(expr, ast.Name)
            else expr.attr if isinstance(expr, ast.Attribute) else None)
    bound = consts.get(name, ())
    return bound[0] if len(bound) == 1 else _UNKNOWN


def _same(a, b) -> bool:
    """Whether two values are known and equal; numbers compare by value
    (``3`` is ``3.0``), anything else also by type (``True`` is not
    ``1``)."""
    if a is _UNKNOWN or b is _UNKNOWN:
        return False
    if all(isinstance(v, int | float) and not isinstance(v, bool)
           for v in (a, b)):
        return a == b
    return type(a) is type(b) and a == b


def test_every_engine_option_takes_another_value_somewhere():
    """Every parameter with a default of a function in operators/,
    functions/, sources/, queries.py, util.py or catalog.py is passed
    a value other than its default at one or more call sites in the
    package, tools/, perfbench/, bench.py, __spark_entry__.py or
    tests/. An option that only ever receives its default has one
    value in use: write that value where it is used. Values compare
    as literals (``ast.literal_eval``), numbers by value; a bare or
    dotted name compares as the module-level literal constant of that
    name when the scanned modules bind it exactly once, by a plain or
    a tuple assignment; any other expression, and any call passing
    ``*``/``**``, counts as another value."""
    callers = [*USERS, *(ROOT / "perfbench").glob("test_*.py"),
               *(ROOT / "tests").rglob("*.py")]
    calls = _calls(callers)
    consts = _module_constants(callers)
    engine = [*(PKG / "operators").glob("*.py"),
              *(PKG / "functions").glob("*.py"),
              *(PKG / "sources").glob("*.py"),
              PKG / "queries.py", PKG / "util.py", PKG / "catalog.py"]
    one_value = set()
    for path, name, index, option, default in _options(engine):
        value = _literal(default, consts)
        if not any(_splat(c) or any(not _same(_literal(e, consts), value)
                                    for e in _passed(c, index, option))
                   for c in calls.get(name, ())):
            one_value.add(f"{path.relative_to(PKG).as_posix()}:"
                          f"{name}.{option}")
    assert sorted(one_value) == []
