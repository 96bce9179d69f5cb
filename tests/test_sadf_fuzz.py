"""Property-based round trip of the sadf-JSON parser (pure function):
build a random but valid sysstat JSON model, parse, require the exact
value set back — including device axes, nested dicts, network
subsections, and restarts."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sarfile_analyzer_ng_spark.sources.sadf_json import parse_sadf_json

pytestmark = pytest.mark.driver  # Tier-1 (see conftest)

field = st.text(alphabet="abcdefghijklmnopqrstuvwxyz-", min_size=2, max_size=10).filter(
    lambda s: s not in {"cpu", "disk-device", "iface", "line", "filesystem", "fchost"}
    and not s.startswith("-")
)
value = st.floats(0, 1e6, allow_nan=False, allow_infinity=False).map(
    lambda v: round(v, 2)
)


@st.composite
def sadf_model(draw):
    n_stats = draw(st.integers(1, 3))
    stats = []
    for t in range(n_stats):
        entry = {"timestamp": {"date": "2024-04-01", "time": f"{10 + t:02d}:00:00"}}
        # plain section
        fields = draw(st.dictionaries(field, value, min_size=1, max_size=4))
        entry["memory"] = fields
        # device section
        dev_fields = draw(st.dictionaries(field, value, min_size=1, max_size=3))
        entry["cpu-load"] = [
            {"cpu": "all", **dev_fields},
            {"cpu": "0", **dev_fields},
        ]
        # nested dict (io-style)
        entry["io"] = {"tps": draw(value), "io-reads": {"rtps": draw(value)}}
        stats.append(entry)
    return {
        "sysstat": {
            "hosts": [
                {
                    "nodename": "fuzz",
                    "release": "6.0",
                    "file-date": "2024-04-01",
                    "statistics": stats,
                    "restarts": [{"boot": {"date": "2024-04-01", "time": "09:30:00"}}],
                }
            ]
        }
    }


@settings(max_examples=40, deadline=None)
@given(sadf_model())
def test_sadf_roundtrip(model):
    rows = parse_sadf_json("f", json.dumps(model).encode())
    got = {
        (r["section"], str(r["ts"]), r["device"], r["metric"]): r["value"]
        for r in rows
        if not r["restart"]
    }
    expected = {}
    for entry in model["sysstat"]["hosts"][0]["statistics"]:
        ts = f"2024-04-01 {entry['timestamp']['time']}"
        for k, v in entry["memory"].items():
            expected[("memory", ts, None, k)] = v
        for dev_row in entry["cpu-load"]:
            dev = dev_row["cpu"]
            for k, v in dev_row.items():
                if k != "cpu":
                    expected[("cpu-load", ts, dev, k)] = v
        expected[("io", ts, None, "tps")] = entry["io"]["tps"]
        expected[("io", ts, None, "io-reads.rtps")] = entry["io"]["io-reads"]["rtps"]
    assert got == expected
    restarts = [r for r in rows if r["restart"]]
    assert len(restarts) == 1 and str(restarts[0]["ts"]) == "2024-04-01 09:30:00"
