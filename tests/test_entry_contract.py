"""The driver contract: entry() returns rows, every queries() key has a
callable, oracle keys are a subset, and results carry stable schemas;
and no engine function is reached only from tests."""

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

# Engine functions that only tests reach today. Each needs its own
# call on coverage; the set may only shrink.
ONLY_TESTS_REACH = {
    "functions/html.py:html_extract",
    "functions/multimodal.py:audio_spectral_features",
    "functions/multimodal.py:extract_features",
    "functions/multimodal.py:fake_decode",
    "functions/multimodal.py:frame_sample_plan",
    "functions/multimodal.py:sample_frames",
    "functions/multimodal.py:video_phash",
    "functions/similarity.py:ann_topk_pq_arrow_sharded",
    "functions/similarity.py:load_pca_model",
    "functions/similarity.py:load_pq_index",
    "functions/similarity.py:pca_power_topd",
    "functions/similarity.py:remove_top1",
    "functions/similarity.py:save_pca_model",
    "functions/similarity.py:save_pq_index",
    "functions/text.py:bpe_encode",
    "functions/web.py:registrable_domain",
    "functions/web.py:registrable_domain_lite",
    "operators/io.py:read_csv",
    "operators/io.py:read_jsonl",
    "operators/io.py:write_jsonl_shards",
    "operators/sketches.py:frequent_items",
    "operators/sketches.py:hash_sample",
    "operators/skew.py:replicated_salt_join",
}


def _referenced_names(path: Path) -> set[str]:
    """Every name a module loads, reads as an attribute or imports."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_no_engine_code_is_reached_only_from_tests():
    """The top-level functions and classes of the engine modules
    (operators/, functions/, util.py, catalog.py) must each be named
    somewhere outside tests/: in the package, tools/, perfbench/ (its
    own test module aside), bench.py or __spark_entry__.py. The facade
    modules are entry points and are not scanned."""
    users = [*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py"),
             *(p for p in (ROOT / "perfbench").rglob("*.py")
               if p.name != "test_perfbench.py"),
             ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    referenced = set().union(*map(_referenced_names, users))
    engine = [*(PKG / "operators").glob("*.py"),
              *(PKG / "functions").glob("*.py"),
              PKG / "util.py", PKG / "catalog.py"]
    only_tests = {
        f"{path.relative_to(PKG).as_posix()}:{node.name}"
        for path in engine
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef
                      | ast.ClassDef)
        and node.name not in referenced
    }
    assert only_tests == ONLY_TESTS_REACH
