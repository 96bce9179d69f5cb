"""Golden tests for the distributed SAR ASCII parser — fixtures cover
the formats the reference handles (parse_into_polars.py): 24h and
AM/PM clocks, comma decimals, device sections, device-LAST sections
(FILESYSTEM), ignored sections, LINUX RESTART, midnight rollover."""

from __future__ import annotations


from sarfile_analyzer_ng_spark.sources.sar_text import parse_sar_text
import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

SAR_24H = """\
Linux 5.14.21-default (host1) \t2024-01-15 \t_x86_64_\t(4 CPU)

00:00:01        CPU     %user     %system     %idle
00:10:01        all      1,25        0.50     98.25
00:10:01          0      2.50        1.00     96.50

00:00:01    proc/s   cswch/s
00:10:01      1.20    250.00
23:50:01      1.40    260.00
00:05:01      1.60    270.00

05:30:01 LINUX RESTART\t(4 CPU)

06:00:01  MBfsfree  %fsused FILESYSTEM
06:10:01     50000    16.67 /dev/sda1

00:00:01  CPU MHz
00:10:01  all 2400.00
"""

SAR_AMPM = """\
Linux 5.14.21-default (host2) \t01/15/2024 \t_x86_64_\t(2 CPU)

12:00:01 AM     CPU     %user     %idle
12:10:01 AM     all      1.00     99.00
01:10:01 PM     all      2.00     98.00
"""


def rows_for(content, **kv):
    rows = parse_sar_text("f", content)
    for k, v in kv.items():
        rows = [r for r in rows if r[k] == v]
    return rows


def test_comma_decimal_and_devices():
    rows = rows_for(SAR_24H, metric="%user")
    by_dev = {r["device"]: r["value"] for r in rows}
    assert by_dev == {"all": 1.25, "0": 2.5}


def test_midnight_rollover_is_per_section():
    rows = rows_for(SAR_24H, metric="cswch/s")
    stamps = sorted(str(r["ts"]) for r in rows)
    assert stamps == [
        "2024-01-15 00:10:01",
        "2024-01-15 23:50:01",
        "2024-01-16 00:05:01",
    ]
    # the CPU section (earlier clock) must NOT have been shifted a day
    cpu = rows_for(SAR_24H, metric="%idle", device="all")
    assert str(cpu[0]["ts"]).startswith("2024-01-15")


def test_restart_marker():
    # the restart line follows the proc/s block, which rolled past
    # midnight (23:50 -> 00:05); riding the enclosing block's rollover
    # state places the reboot on the 16th — under the old per-key
    # tracker a post-midnight restart was stamped a day early
    rows = rows_for(SAR_24H, restart=True)
    assert len(rows) == 1
    assert str(rows[0]["ts"]) == "2024-01-16 05:30:01"
    assert rows[0]["section"] == "LINUX RESTART"


SAR_RESTART_EARLY = (
    "Linux 5.x (h9) \t2024-03-01 \t_x86_64_\t(2 CPU)\n\n"
    "00:00:01        CPU     %user\n"
    "00:10:01        all      1.00\n\n"
    "05:30:01 LINUX RESTART\t(2 CPU)\n"
)


def test_restart_marker_before_any_rollover():
    # a restart before midnight in a fresh file keeps the base date
    rows = rows_for(SAR_RESTART_EARLY, restart=True)
    assert len(rows) == 1
    assert str(rows[0]["ts"]) == "2024-03-01 05:30:01"


def test_device_last_filesystem():
    rows = rows_for(SAR_24H, metric="MBfsfree")
    assert rows[0]["device"] == "/dev/sda1"
    assert rows[0]["value"] == 50000.0


SAR_UNWANTED = """\
Linux 5.14.21-default (host3) \t2024-01-15 \t_x86_64_\t(4 CPU)

00:00:01        CPU     %user     %system     %idle
00:10:01        all      1.00        0.50     98.50

00:00:01  CPU MHz
00:10:01  all 2400.00

00:00:01   INTR  intr/s
00:10:01    sum  512.00

00:00:01    proc/s   cswch/s
00:10:01      1.20    250.00
"""


def test_ignored_sections_dropped():
    assert not any("MHz" in (r["section"] or "") for r in parse_sar_text("f", SAR_24H))


def test_unwanted_headers_flag():
    """Reference parity (pl_helpers2.py:100-113 get_unwanted_headers):
    "CPU MHz" and "INTR intr/s" are dropped by default and the drop is
    config-surfaced — drop_unwanted=False parses both sections."""
    default_secs = {r["section"] for r in parse_sar_text("f", SAR_UNWANTED)}
    assert not any("MHz" in s for s in default_secs)
    assert not any("intr/s" in s for s in default_secs)
    # the surrounding sections are untouched by the drop
    assert "%user %system %idle" in default_secs
    assert "proc/s cswch/s" in default_secs

    kept_secs = {
        r["section"]
        for r in parse_sar_text("f", SAR_UNWANTED, drop_unwanted=False)
    }
    assert "MHz" in kept_secs          # CPU is the device column
    assert "INTR intr/s" in kept_secs
    mhz = [
        r
        for r in parse_sar_text("f", SAR_UNWANTED, drop_unwanted=False)
        if r["metric"] == "MHz"
    ]
    assert mhz and mhz[0]["value"] == 2400.0 and mhz[0]["device"] == "all"


def test_ampm_clock_and_us_date():
    rows = rows_for(SAR_AMPM, metric="%user")
    stamps = {str(r["ts"]): r["value"] for r in rows}
    assert stamps == {
        "2024-01-15 00:10:01": 1.0,   # 12:10 AM → 00:10
        "2024-01-15 13:10:01": 2.0,   # 01:10 PM → 13:10
    }


def test_host_and_os_details():
    rows = parse_sar_text("f", SAR_24H)
    assert rows[0]["host"] == "host1"
    assert "Linux" in rows[0]["os_details"]


def test_distributed_read(spark, tmp_path):
    (tmp_path / "sa1.txt").write_text(SAR_24H)
    (tmp_path / "sa2.txt").write_text(SAR_AMPM)
    from sarfile_analyzer_ng_spark.sources.sar_text import read_sar, sections

    df = read_sar(spark, str(tmp_path))
    assert df.select("file").distinct().count() == 2
    sect = {r["section"] for r in sections(df).collect()}
    assert "%user %system %idle" in sect and "LINUX RESTART" in sect


def test_section_wide_explicit_metrics_skips_seed_job(spark, tmp_path):
    (tmp_path / "sa1.txt").write_text(SAR_24H)
    from sarfile_analyzer_ng_spark.sources.sar_text import read_sar, section_wide

    df = read_sar(spark, str(tmp_path)).cache()
    df.count()
    section = "%user %system %idle"
    sc = spark.sparkContext

    sc.setJobGroup("seeded", "explicit metric list")
    try:
        wide = section_wide(df, section, metrics=sorted(section.split()))
    finally:
        sc.setJobGroup(None, None)
    # plan construction with an explicit vocabulary runs ZERO jobs
    assert sc.statusTracker().getJobIdsForGroup("seeded") == []

    sc.setJobGroup("unseeded", "derived metric list")
    try:
        section_wide(df, section)
    finally:
        sc.setJobGroup(None, None)
    # "%user %system %idle" is NOT a headings-dim header, so the
    # default falls back to the distinct seed job at plan construction
    assert len(sc.statusTracker().getJobIdsForGroup("unseeded")) >= 1

    # a KNOWN sar header gets its vocabulary from the metadata dim —
    # no metrics argument, still zero jobs
    sc.setJobGroup("known", "headings-dim vocabulary")
    try:
        known_wide = section_wide(df, "proc/s cswch/s")
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("known") == []
    assert {"proc/s", "cswch/s"} <= set(known_wide.columns)
    assert known_wide.count() == 3

    # and the seeded plan computes the same wide table
    rows = wide.orderBy("ts").collect()
    assert [c for c in wide.columns if c.startswith("%")] == ["%idle", "%system", "%user"]
    assert rows and rows[0]["%user"] is not None
    df.unpersist()


def test_section_wide_fallback_caps_metric_cardinality(spark):
    """r8 (r7 VERDICT low item): the driver-side distinct fallback in
    section_wide must refuse a pathological metric cardinality instead
    of building a 10k-column pivot."""
    import pytest
    from pyspark.sql import functions as F

    from sarfile_analyzer_ng_spark.sources.sar_text import section_wide

    rows = [("f", "h", "2024-01-01 00:00:00", "weird", f"m{i}", float(i), False)
            for i in range(1500)]
    df = spark.createDataFrame(
        rows,
        "file string, host string, ts string, device string, "
        "metric string, value double, restart boolean",
    ).withColumn("section", F.lit("weird"))
    with pytest.raises(ValueError, match="cardinality exceeds"):
        section_wide(df, "weird")
    # explicit metric list bypasses the seed job entirely
    out = section_wide(df, "weird", metrics=["m1", "m2"])
    assert set(out.columns) >= {"m1", "m2"}
