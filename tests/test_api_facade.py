"""The API facade over parsed sar data — the endpoint-level parity
surface (api/services.py analogs)."""

from __future__ import annotations


import lzma

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark import api as A
from sarfile_analyzer_ng_spark.sources.sar_text import read_sar

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

from .test_sar_source import SAR_24H, SAR_AMPM


@pytest.fixture(scope="module")
def sar_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sar_api")
    (d / "sa1.txt").write_text(SAR_24H)
    (d / "sa2.txt.xz").write_bytes(lzma.compress(SAR_AMPM.encode()))
    return read_sar(spark, str(d)).cache()


def file_of(sar_df, needle):
    return [r["file"] for r in sar_df.select("file").distinct().collect()
            if needle in r["file"]][0]


def test_xz_file_parsed(sar_df):
    assert sar_df.select("file").distinct().count() == 2
    xz = [r for r in sar_df.select("file", "host").distinct().collect()
          if r["file"].endswith(".xz")]
    assert xz and xz[0]["host"] == "host2"


def test_list_files(sar_df):
    rows = {r["host"]: r for r in A.list_files(sar_df).collect()}
    assert rows["host1"]["n_restarts"] == 1
    assert rows["host2"]["n_restarts"] == 0


def test_file_info_and_header_details(sar_df):
    f = file_of(sar_df, "sa1")
    info = {r["section"]: r for r in A.file_info(sar_df, f).collect()}
    assert info["%user %system %idle"]["n_devices"] == 2
    det = {r["metric"]: r for r in
           A.header_details(sar_df, f, "proc/s cswch/s").collect()}
    assert det["cswch/s"]["n_values"] == 3


def test_get_table_wide_with_device(sar_df):
    f = file_of(sar_df, "sa1")
    t = A.get_table(sar_df, f, "%user %system %idle", device="all")
    rows = t.collect()
    assert {r["device"] for r in rows} == {"all"}
    assert "%user" in t.columns and "%idle" in t.columns


def test_statistics(sar_df):
    f = file_of(sar_df, "sa1")
    st = {r["metric"]: r for r in
          A.statistics(sar_df, f, "proc/s cswch/s").collect()}
    assert st["proc/s"]["cnt"] == 3
    assert st["proc/s"]["min"] == 1.2 and st["proc/s"]["max"] == 1.6


def test_compare_files_common_sections_only(sar_df):
    out = A.compare_files(sar_df, "%user %system %idle", "%user", device="all")
    # section exists only in sa1 (sa2 has '%user %idle') → not common
    assert out.count() == 0
    out2 = A.compare_files(sar_df, "%user %idle", "%user", device="all")
    assert out2.count() in (0, 1)  # only common sections survive


def test_alias_lookup():
    assert A.alias_of("%user %system %idle") == "CPU"
    assert A.alias_of("kbmemfree kbavail kbmemused %memused") == "Memory utilization"
    assert A.alias_of("weird metric") == "weird metric"
    # exact full-header lookup (no fuzz needed)
    assert A.alias_of("tps rkB/s wkB/s areq-sz aqu-sz await svctm %util") == "Block Devices"


def test_header_of_reverse_lookup():
    observed = ["%user %system %idle", "rxpck/s txpck/s rxkB/s txkB/s"]
    # alias resolves to the OBSERVED header variant, not the canonical one
    assert A.header_of("CPU", observed) == "%user %system %idle"
    assert A.header_of("IFACE", observed) == "rxpck/s txpck/s rxkB/s txkB/s"
    # unknown alias falls through to itself (reference behavior)
    assert A.header_of("No such alias", observed) == "No such alias"


def test_header_details_have_manpage_descriptions(sar_df):
    f = file_of(sar_df, "sa1")
    det = {r["metric"]: r["description"] for r in
           A.header_details(sar_df, f, "%user %system %idle").collect()}
    assert "user level" in det["%user"]
    assert "system level" in det["%system"] or "kernel" in det["%system"]


def test_metric_descriptions_cover_core_sections():
    from sarfile_analyzer_ng_spark import metadata as MD

    for metric, needle in [
        ("%user", "user level"),          # CPU
        ("kbmemfree", "free memory"),     # memory
        ("rxpck/s", "packets received"),  # network
        ("tps", "transfers per second"),  # disk
    ]:
        desc = MD.metric_description(metric)
        assert desc and needle in desc.lower(), metric


def test_export_stats_csv(spark, sar_df, tmp_path):
    f = file_of(sar_df, "sa1")
    out = str(tmp_path / "stats_csv")
    A.export_stats_csv(sar_df, f, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() > 0
    assert set(back.columns) == {"section", "metric", "cnt", "mean", "stddev", "min", "max"}


def test_compare_files_aligned_overlay(spark):
    """aligned=True rebases each file onto one day axis and averages
    per (file, bucket): the two files below share times-of-day on
    different dates, so their aligned buckets must coincide."""
    from datetime import datetime

    rows = [
        ("fa", "cpu", "%user", "all", datetime(2024, 1, 10, 8, 15), 10.0),
        ("fa", "cpu", "%user", "all", datetime(2024, 1, 10, 8, 45), 20.0),
        ("fb", "cpu", "%user", "all", datetime(2024, 2, 2, 8, 20), 40.0),
    ]
    df = spark.createDataFrame(
        rows, "file string, section string, metric string, device string, "
              "ts timestamp, value double",
    )
    out = A.compare_files(df, "cpu", "%user", aligned=True).collect()
    by_file = {r["file"]: r for r in out}
    assert len(out) == 2  # one 08:00 bucket per file, same aligned axis
    assert by_file["fa"]["ts_aligned"] == by_file["fb"]["ts_aligned"]
    assert by_file["fa"]["mean"] == 15.0 and by_file["fb"]["mean"] == 40.0


def test_cli_json_output_respects_limit(spark, tmp_path, capsys, monkeypatch):
    """The CLI bounds driver-side collection: --limit caps the rows
    printed in --json mode (the old unbounded toJSON().collect() would
    pull an arbitrarily large result onto the driver)."""
    from sarfile_analyzer_ng_spark.__main__ import main

    d = tmp_path / "sar_cli"
    d.mkdir()
    (d / "sa1.txt").write_text(SAR_24H)
    # keep the CLI on the already-running test session
    monkeypatch.setattr(
        "sarfile_analyzer_ng_spark.session.get_spark", lambda name: spark
    )
    main(["analyze", str(d), "--section", "%user %system %idle",
          "--json", "--limit", "1"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 1
    import json as _json

    _json.loads(lines[0])  # valid JSON row

    main(["analyze", str(d), "--section", "%user %system %idle", "--json"])
    lines_all = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines_all) == 2  # fixture has two devices at one ts


def test_cli_file_substring_picks_the_first_name(spark, tmp_path):
    """``--file`` resolves to the alphabetically first matching file,
    like the default pick; the ``binaryFile`` scan lists the larger
    file first, so here the first row would name the other one."""
    from sarfile_analyzer_ng_spark.__main__ import _first_file, _load

    d = tmp_path / "sar_pick"
    d.mkdir()
    (d / "host_a.txt").write_text(SAR_AMPM)
    (d / "host_b.txt").write_text(SAR_24H)  # larger, sorts last
    assert len(SAR_24H) > len(SAR_AMPM)
    df = _load(spark, str(d))
    assert _first_file(df, "host").endswith("host_a.txt")
    assert _first_file(df, None).endswith("host_a.txt")
    df.unpersist()


def test_cli_curate_prints_funnel(spark, capsys, monkeypatch):
    """`curate` points the funnel at a documents parquet dir and prints
    per-(source, stage) rows; --json rows parse and carry the four
    funnel columns."""
    import json as _json

    from sarfile_analyzer_ng_spark.__main__ import main

    monkeypatch.setattr(
        "sarfile_analyzer_ng_spark.session.get_spark", lambda name: spark
    )
    main(["curate", "/root/testdata/sf0.001/documents.parquet",
          "--json", "--limit", "5"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 5
    row = _json.loads(lines[0])
    assert set(row) == {"source", "stage", "n_docs", "n_words"}
    assert row["stage"] in {"quality", "duplicate", "contaminated", "kept"}


def test_cli_card_prints_corpus_card(spark, capsys, monkeypatch):
    """`card` prints the per-(source, language) datasheet; --json rows
    parse and carry the six card columns."""
    import json as _json

    from sarfile_analyzer_ng_spark.__main__ import main

    monkeypatch.setattr(
        "sarfile_analyzer_ng_spark.session.get_spark", lambda name: spark
    )
    main(["card", "/root/testdata/sf0.001/documents.parquet",
          "--json", "--limit", "4"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 4
    row = _json.loads(lines[0])
    assert set(row) == {"source", "pred_lang", "n_docs", "n_tokens",
                        "avg_quality", "avg_punct_ratio"}
    assert row["n_docs"] > 0


def test_device_plan_mirrors_reference_flow(sar_df):
    """dia_compute_pl.py:13: CPU sections collapse to the 'all'
    pseudo-device (device_num = real devices), no-device sections get
    one frame, device sections enumerate; the flag forces
    enumeration."""
    f = file_of(sar_df, "sa1")
    cpu = "%user %system %idle"
    rows = A.device_plan(sar_df, f, cpu).collect()
    assert [(r["device"], r["device_num"]) for r in rows] == [("all", 1)]
    forced = A.device_plan(sar_df, f, cpu,
                           show_subheaders_for_all=True).collect()
    assert [r["device"] for r in forced] == ["0", "all"]
    assert all(r["device_num"] == 1 for r in forced)
    nodev = A.device_plan(sar_df, f, "proc/s cswch/s").collect()
    assert [(r["device"], r["device_num"]) for r in nodev] == [(None, 1)]
    fs = A.device_plan(sar_df, f, "MBfsfree %fsused").collect()
    assert [(r["device"], r["device_num"]) for r in fs] == [("/dev/sda1", 1)]


def test_analyze_section_composes_the_data_tab(sar_df):
    """analyze_section returns per-planned-device (table, stats)
    frames: duplicate timestamps deduped keep-first, restart zero rows
    appended and flagged, stats table per metric."""
    f = file_of(sar_df, "sa1")
    out = A.analyze_section(sar_df, f, "%user %system %idle")
    assert [d for d, _, _ in out] == ["all"]
    device, table, stats = out[0]
    rows = table.orderBy("ts").collect()
    # one restart in the fixture -> exactly one synthetic zero row
    rst = [r for r in rows if r["is_restart"]]
    assert len(rst) == 1
    assert all(rst[0][c] == 0.0 for c in table.columns
               if c not in ("ts", "is_restart"))
    # real rows are unique per ts
    real_ts = [r["ts"] for r in rows if not r["is_restart"]]
    assert len(real_ts) == len(set(real_ts))
    metrics = {r["metric"] for r in stats.collect()}
    assert metrics == {"%user", "%system", "%idle"}


def test_statistics_respects_time_window(sar_df):
    """dia_compute_pl.py:63-74 computes describe AFTER the time
    filter; statistics(start, end) must scope the same way."""
    f = file_of(sar_df, "sa1")
    sect = "proc/s cswch/s"
    full = {r["metric"]: r["cnt"]
            for r in A.statistics(sar_df, f, sect).collect()}
    rows = sorted(r["ts"] for r in sar_df.where(
        (sar_df.file == f) & (sar_df.section == sect)
    ).select("ts").distinct().collect())
    assert len(rows) >= 2
    windowed = {r["metric"]: r["cnt"] for r in A.statistics(
        sar_df, f, sect, start=rows[0], end=rows[0]).collect()}
    assert all(windowed[m] < full[m] for m in windowed)


def test_open_ended_time_windows_filter(sar_df):
    """A start-only (or end-only) window must filter — the old
    both-or-nothing check silently returned everything."""
    f = file_of(sar_df, "sa1")
    sect = "proc/s cswch/s"
    all_rows = A.get_table(sar_df, f, sect).count()
    ts = sorted(r["ts"] for r in sar_df.where(
        (sar_df.file == f) & (sar_df.section == sect)
    ).select("ts").distinct().collect())
    tail = A.get_table(sar_df, f, sect, start=ts[1]).count()
    head = A.get_table(sar_df, f, sect, end=ts[0]).count()
    assert tail < all_rows and head < all_rows
    assert tail + head == all_rows
    s = {r["metric"]: r["cnt"]
         for r in A.statistics(sar_df, f, sect, start=ts[1]).collect()}
    assert all(v < all_rows for v in s.values())


def test_analyze_section_windows_restart_markers(sar_df):
    """A restart outside the requested slice must not inject a zero
    row into the windowed table."""
    f = file_of(sar_df, "sa1")
    sect = "MBfsfree %fsused"
    # the file's restart is at 05:30 on the 16th; window the 15th only
    out = A.analyze_section(sar_df, f, sect,
                            start="2024-01-15 00:00:00",
                            end="2024-01-15 23:59:59")
    _, table, _ = out[0]
    assert table.where(F.col("is_restart")).count() == 0


def test_cli_classify_prints_per_source_report(spark, capsys, monkeypatch):
    """`classify` trains the pseudo-labeled quality classifier and
    prints one row per source with probability aggregates; a custom
    --pos-sources set changes the labels it trains against."""
    import json as _json

    from sarfile_analyzer_ng_spark.__main__ import main

    monkeypatch.setattr(
        "sarfile_analyzer_ng_spark.session.get_spark", lambda name: spark
    )
    main(["classify", "/root/testdata/sf0.001/documents.parquet",
          "--pos-sources", "src0,src1", "--json", "--limit", "3"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 3
    row = _json.loads(lines[0])
    assert set(row) == {"source", "n_docs", "avg_p_good", "n_pred_good"}
    assert 0.0 <= row["avg_p_good"] <= 1.0


def test_cli_forecast_reports_time_to_threshold(spark, tmp_path, capsys,
                                                monkeypatch):
    """`forecast` extrapolates each (metric, device) series of a sar
    section to the --threshold crossing — the q147 operator pointed
    at live sar data."""
    import json as _json

    from sarfile_analyzer_ng_spark.__main__ import main

    # a filesystem section trending up 2 %/hour from 50 %
    lines = [
        "Linux 5.14.21-default (host1) \t2024-01-15 \t_x86_64_\t(4 CPU)",
        "",
        "00:00:01  MBfsfree  %fsused FILESYSTEM",
    ]
    for h in range(1, 7):
        lines.append(
            f"0{h}:00:01     {1000 - h}    {50 + 2 * h:.2f} /dev/sda1"
        )
    d = tmp_path / "sar_fc"
    d.mkdir()
    (d / "sa1.txt").write_text("\n".join(lines) + "\n")
    monkeypatch.setattr(
        "sarfile_analyzer_ng_spark.session.get_spark", lambda name: spark
    )
    main(["forecast", str(d), "--section", "MBfsfree %fsused",
          "--json", "--threshold", "100"])
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.splitlines() if l.strip()]
    by = {r["metric"]: r for r in rows}
    fs = by["%fsused"]
    # 2 %/hour = 48 %/day; fit_now = 62 % -> crosses 100 % in
    # (100 - 62) / 48 ≈ 0.79 days
    assert fs["status"] == "rising"
    assert abs(fs["slope_per_day"] - 48.0) < 0.01
    assert abs(fs["days_to_limit"] - (100.0 - 62.0) / 48.0) < 0.01
    free = by["MBfsfree"]
    # free-space sits far ABOVE the 100 limit: already-breached, and
    # no crossing time is fabricated for it
    # toJSON omits NULL fields: no crossing time is fabricated
    assert free["status"] == "breached"
    assert free.get("days_to_limit") is None
