"""Property-based fuzzing of the SAR text parser: render a random but
valid sar report from a structured model, parse it, and require the
exact value set back. Pure-Python round trip (no Spark session), so
hypothesis can run many examples cheaply."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sarfile_analyzer_ng_spark.sources.sar_text import parse_sar_text

pytestmark = pytest.mark.driver  # Tier-1 (see conftest)

_IGNORED_SUBSTRINGS = ("mhz", "intr/s", "idvendor", "temp")

metric_name = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz%/", min_size=2, max_size=8
).filter(
    # must not trip the parser's ignored-section regex (reg_ignore)
    lambda s: "/" != s[0]
    and not any(bad in s for bad in _IGNORED_SUBSTRINGS)
)

value = st.floats(
    min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False
).map(lambda v: round(v, 2))


@st.composite
def sar_model(draw):
    n_sections = draw(st.integers(1, 4))
    sections = []
    used_first_metrics = set()
    for _ in range(n_sections):
        metrics = draw(
            st.lists(metric_name, min_size=1, max_size=5, unique=True)
        )
        # distinct sections need distinct header strings
        if metrics[0] in used_first_metrics:
            continue
        used_first_metrics.add(metrics[0])
        devices = draw(
            st.sampled_from([None, ["all", "0", "1"], ["sda", "sdb"]])
        )
        n_times = draw(st.integers(1, 4))
        rows = []
        for t in range(n_times):
            clock = f"{(t + 1) * 2:02d}:10:01"
            devs = devices or [None]
            for d in devs:
                rows.append((clock, d, [draw(value) for _ in metrics]))
        sections.append((metrics, devices, rows))
    return sections


def render(sections) -> str:
    lines = ["Linux 5.0-test (fuzzhost) \t2024-03-01 \t_x86_64_\t(4 CPU)"]
    for metrics, devices, rows in sections:
        lines.append("")
        header = " ".join(metrics)
        if devices is not None:
            dev_col = "CPU" if devices[0] == "all" else "DEV"
            lines.append(f"00:00:01 {dev_col} {header}")
        else:
            lines.append(f"00:00:01 {header}")
        for clock, dev, vals in rows:
            cells = " ".join(f"{v:.2f}" for v in vals)
            if dev is not None:
                lines.append(f"{clock} {dev} {cells}")
            else:
                lines.append(f"{clock} {cells}")
    lines.append("")
    return "\n".join(lines)


@settings(max_examples=60, deadline=None)
@given(sar_model())
def test_parse_roundtrip(sections):
    text = render(sections)
    rows = parse_sar_text("fuzz", text)
    expected = {}
    for metrics, devices, data_rows in sections:
        section_key = " ".join(metrics)
        for clock, dev, vals in data_rows:
            for m, v in zip(metrics, vals):
                expected[(section_key, f"2024-03-01 {clock}", dev, m)] = round(v, 2)
    got = {
        (r["section"], str(r["ts"]), r["device"], r["metric"]): round(r["value"], 2)
        for r in rows
    }
    assert got == expected
    assert all(r["host"] == "fuzzhost" for r in rows)
