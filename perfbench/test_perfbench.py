"""The benchmark's own tests: ``python -m pytest perfbench -q`` from the
repository root.

- the corpus and table generators are deterministic;
- the manifest agrees with the pure parsers on every generated format,
  and the malformed inputs leave no rows;
- the untraced and the traced run print exactly the metric names that
  ``BENCHMARK.json`` declares (this one starts Spark: a few minutes).
"""

from __future__ import annotations

import json
import lzma
import os
import subprocess
import sys
from collections import defaultdict

import pytest

from perfbench import corpus as C
from perfbench import tables
from sarfile_analyzer_ng_spark.sources.sadf_json import parse_sadf_json
from sarfile_analyzer_ng_spark.sources.sar_text import parse_sar_text

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_fleet_is_deterministic():
    a, ma = C.generate_fleet(11, 16)
    b, mb = C.generate_fleet(11, 16)
    c, _ = C.generate_fleet(12, 16)
    assert a == b and ma == mb
    assert a != c
    assert C.malformed(11) == C.malformed(11)


def test_tables_are_deterministic(tmp_path):
    tables.generate(5, str(tmp_path / "a"))
    tables.generate(5, str(tmp_path / "b"))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def _parse(name: str, data: bytes) -> list[dict]:
    if data[:6] == b"\xfd7zXZ\x00":
        data = lzma.decompress(data)
    if name.endswith((".json", ".json.xz")):
        return parse_sadf_json(name, data)
    return parse_sar_text(name, data.decode())


def test_manifest_agrees_with_parsers():
    files, manifest = C.generate_fleet(3, 16, hourly=True)
    assert {m["kind"] for m in manifest.values()} == set(C.KINDS)
    assert any(m["restarts"] for m in manifest.values())
    assert any(m["end"][:10] != m["day"] for m in manifest.values())  # midnight rollover
    for name, data in files.items():
        m = manifest[name]
        rows = _parse(name, data)
        assert {r["host"] for r in rows} == {m["host"]}
        assert sorted({r["section"] for r in rows}) == m["sections"]
        stamps = sorted(str(r["ts"]) for r in rows)
        assert (stamps[0], stamps[-1]) == (m["start"], m["end"])
        assert sum(r["restart"] for r in rows) == m["restart_rows"]
        series = defaultdict(list)
        for r in rows:
            if not r["restart"]:
                series[f"{r['section']}|{r['device'] or ''}|{r['metric']}"].append(
                    (str(r["ts"])[:13].replace(" ", "T"), r["value"]))
        assert sorted(series) == sorted(m["series"])
        for key, pts in series.items():
            truth = m["series"][key]
            vals = [v for _, v in pts]
            assert len(vals) == truth["count"]
            assert (min(vals), max(vals)) == (truth["min"], truth["max"])
            assert sum(vals) == pytest.approx(truth["sum"], rel=1e-9)
            hours = defaultdict(list)
            for h, v in pts:
                hours[h].append(v)
            assert {h: len(v) for h, v in hours.items()} == {
                h: c for h, (c, *_rest) in truth["hours"].items()}


def test_malformed_inputs_leave_no_rows():
    for name, data in C.malformed(4).items():
        try:
            rows = _parse(name, data)
        except (lzma.LZMAError, ValueError):
            rows = []
        assert rows == []


def _metric_names(workload: str, trace: int) -> set[str]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return set(result["metrics"])


def test_runs_print_the_declared_metric_names():
    from perfbench.run import WORKLOAD_NAMES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOAD_NAMES)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    assert len(layers) == len(bench["per_layer"])
    assert _metric_names("fleet_ingest", 0) == e2e
    assert _metric_names("fleet_ingest", 1) == layers
